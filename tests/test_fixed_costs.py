"""Per-query fixed costs: the Parquet schema memo in `tables.load_table`
and the lazy zip-directory invalidation in Python workers
(`session._lazy_zip_invalidation`)."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap
import zipimport

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from big_data_share_market_spark.tables import load_table

from .conftest import SF_DIR

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_LAZY_ZIP = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ invalidates zipimport caches lazily itself")


def _jobs(spark, group: str, fn):
    """Run `fn` under a job group; returns (result, number of jobs)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_reuses_inferred_schema(spark, tmp_path):
    """The first load of a file infers its schema (one footer job);
    a second load of the same, unchanged file runs no Spark job and
    reads the same schema and rows."""
    shutil.copy(f"{SF_DIR}/events.parquet", tmp_path / "events.parquet")
    first, n_first = _jobs(spark, "memo-first",
                           lambda: load_table(spark, str(tmp_path), "events"))
    again, n_again = _jobs(spark, "memo-again",
                           lambda: load_table(spark, str(tmp_path), "events"))
    assert n_first >= 1
    assert n_again == 0
    assert again.schema == first.schema
    assert again.count() == first.count() > 0


def test_load_table_reinfers_a_rewritten_file(spark, tmp_path):
    """Rewriting a table with an extra column changes its file stamp,
    so the next load infers again and sees the new column."""
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y"), (3, "z")]


def test_load_table_missing_raises_sparks_error(spark, tmp_path):
    """A missing table raises what a plain `spark.read.parquet` raises."""
    with pytest.raises(Exception) as plain:
        spark.read.parquet(str(tmp_path / "nope.parquet"))
    with pytest.raises(Exception) as loaded:
        load_table(spark, str(tmp_path), "nope")
    assert type(loaded.value) is type(plain.value)
    assert "PATH_NOT_FOUND" in str(loaded.value)


_ZIP_PROBE = textwrap.dedent("""
    import importlib, os, sys, zipfile, zipimport
    sys.path.insert(0, {repo!r})
    from pyspark import SparkFiles
    SparkFiles._is_running_on_worker = True   # as in a Python worker
    original = zipimport.zipimporter.invalidate_caches
    import big_data_share_market_spark       # installs the replacement
    from big_data_share_market_spark.session import _lazy_zip_invalidation
    lazy = zipimport.zipimporter.invalidate_caches
    assert lazy is not original
    _lazy_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is lazy   # idempotent

    archive = {archive!r}
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("probe_one.py", "X = 1")
    sys.path.insert(0, archive)
    import probe_one

    reads = []
    read_directory = zipimport._read_directory
    def counting(path):
        reads.append(path)
        return read_directory(path)
    zipimport._read_directory = counting

    importlib.invalidate_caches()   # first call per importer re-reads
    reads.clear()
    importlib.invalidate_caches()
    assert reads == [], reads       # nothing changed: nothing re-read

    with zipfile.ZipFile(archive, "a") as zf:
        zf.writestr("probe_two.py", "Y = 2")
    importlib.invalidate_caches()
    assert reads == [archive], reads
    import probe_two
    assert probe_two.Y == 2
    print("ok")
""")


@_LAZY_ZIP
def test_worker_zip_invalidation_rereads_only_changed_archives(tmp_path):
    """In a worker, `importlib.invalidate_caches()` re-reads a zip's
    directory only when the archive changed; a module added to it
    then imports. Runs in a subprocess so this process stays
    unpatched."""
    code = _ZIP_PROBE.format(repo=_REPO, archive=str(tmp_path / "m.zip"))
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=120)
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip() == "ok"


@_LAZY_ZIP
def test_lazy_zip_invalidation_only_in_workers(spark):
    """A Python worker that runs an engine kernel carries the lazy
    `zipimporter.invalidate_caches`; the driver keeps CPython's own."""
    import numpy as np
    from pyspark.sql import functions as F

    from big_data_share_market_spark.operators.ewm import keyed_scan

    def probe(state, cols):
        import zipimport as zi
        lazy = (zi.zipimporter.invalidate_caches.__module__
                == "big_data_share_market_spark.session")
        return state, {"lazy": np.full(len(cols["close"]), float(lazy))}

    staged = spark.range(4).select(F.col("id").alias("user_id"),
                                   F.lit(1.0).alias("close"))
    rows = keyed_scan(staged, probe, init=None, cols=["close"],
                      schema="user_id bigint, lazy double").collect()
    assert [r.lazy for r in rows] == [1.0] * 4
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
