"""SparkSession factory tuned for the test harness (local[N]) while
keeping settings that scale to a multi-executor cluster.

The reference delegates engine config to Flink
(`flink_processor/flink-conf.yaml:1-4`, 2 task slots); here Spark owns
parallelism. AQE is on so plans re-partition at runtime — the setting
that matters most at 100 TB (skew joins, coalescing post-shuffle
partitions) and is harmless locally.
"""

from __future__ import annotations

import contextlib
import os
import sys
import zipfile
import zipimport

from pyspark.sql import SparkSession

_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

#: AQE post-shuffle coalescing floor (spark.sql.adaptive.
#: coalescePartitions.minPartitionSize, upstream default 1m). With
#: `parallelismFirst` (default true) AQE sizes post-shuffle partitions
#: at max(totalSize/parallelism, THIS FLOOR) — and the engine's keyed
#: window/aggregate stages are CPU-bound (decimal-exact sums, per-key
#: kernels) at ~50 KB/core on the bench fixtures, so the 1 MB floor
#: collapses them to ONE task while 31 cores idle (measured r10: the
#: lag-moment family 2.3-2.9 s -> 1.1-1.6 s at 64k, same plans). On a
#: production cluster post-shuffle partitions are >> 1 MB and the
#: floor never binds, so this is a small-input setting, not a cluster
#: tuning (guide §2.2).
_AQE_MIN_PARTITION = "64k"


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on Python workers regardless of the
    driver's cwd/sys.path (the grading driver may run from anywhere; a
    bare `sys.path.insert` on the driver does not propagate to forked
    worker processes). Zip the package once and addPyFile it — the same
    mechanism that ships code to real cluster executors, so local[N]
    behaves exactly like a 1000-executor deployment."""
    sc = spark.sparkContext
    if getattr(sc, "_bdsm_package_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zip_path = os.path.join("/tmp", f"{pkg_name}_pyfiles.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fname in files:
                if not fname.endswith(".py"):
                    continue
                full = os.path.join(root, fname)
                rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                zf.write(full, rel)
    try:
        sc.addPyFile(zip_path)
    except Exception:
        pass  # already added under this name in a prior session reuse
    sc._bdsm_package_shipped = True


def _lazy_zip_invalidation() -> None:
    """Worker-side counterpart of :func:`_ship_package`: stop a Python
    worker from re-reading every zip on its path at each task start.

    PySpark's worker calls `importlib.invalidate_caches()` before every
    task, and before CPython 3.13 each `zipimporter` answers by
    re-reading its archive's whole central directory. An engine worker
    holds 16-19 of them (pyspark.zip, the spark-core jar, the shipped
    package zip); the re-read measured 110-240 ms per task on a 4-core
    host, against 250-280 ms for an identity mapInPandas. This ports
    3.13's lazy behaviour: an archive is re-read, exactly as before,
    only when its (st_mtime_ns, st_size) stamp differs from the one
    seen at the importer's last re-read (always on the first call).

    Acts only inside a PySpark worker and only on Python < 3.13;
    idempotent. The driver process is never patched."""
    from pyspark import SparkFiles

    reread = zipimport.zipimporter.invalidate_caches
    if (sys.version_info >= (3, 13) or not SparkFiles._is_running_on_worker
            or getattr(reread, "_bdsm_stamped", False)):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != self.__dict__.get("_bdsm_stamp"):
            reread(self)
            self._bdsm_stamp = stamp

    invalidate_caches._bdsm_stamped = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def get_spark(app_name: str = "big_data_share_market_spark",
              cpus: str | int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults; the
    shuffle width is the core count."""
    cpus = str(cpus or _DEFAULT_CPUS)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                _AQE_MIN_PARTITION)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark 4 defaults to ANSI (division-by-zero throws); the
        # engine follows the reference's permissive semantics (pandas
        # NaN / Flink json.ignore-parse-errors) and the DuckDB oracle's
        # NULL-on-zero-divide, so run non-ANSI. Hot-path divisions are
        # additionally nullif-guarded so they are ANSI-safe anyway.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # UI off for the harness; probes that need the status REST API
        # (per-stage shuffle bytes — tools/composed_pipeline_probe.py)
        # opt in with SPARK_GRAFT_UI=true.
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def prep(spark: SparkSession) -> SparkSession:
    """Normalize runtime conf on a session we did not create (the
    driver passes its own). Only touches runtime-settable keys.

    UTC is load-bearing: the oracle (DuckDB) treats timestamps as
    UTC-naive, and the reference normalizes all event time to UTC
    (`kafka_producer/yahoo_finance_producer.py:53-56`).
    """
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            _AQE_MIN_PARTITION)
        spark.conf.set("spark.sql.ansi.enabled", "false")
    except Exception:
        pass
    _ship_package(spark)
    return spark


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]):
    """Set the runtime conf keys in `conf` for the body, then put each
    key back as it was — its prior value, or unset if the caller never
    set it (a registered default reads as unset) — even when the body
    raises. The one place a query changes a caller's session conf."""
    explicit = spark.conf._jconf.getAllAsJava()  # `getAll` is 100x slower
    prior = {key: explicit.get(key) for key in conf}
    try:
        for key, value in conf.items():
            spark.conf.set(key, value)
        yield
    finally:
        for key, value in prior.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
