"""The eager driver loops' shared policy: `session.scoped_conf` is the
one way a query changes a caller's session conf, `tables.iterate` is
the one loop runner (freeze, width, AQE scope, round budget), and the
loop queries leave the session as they found it."""

from __future__ import annotations

import ast
import contextlib
import pathlib

import pytest

from big_data_share_market_spark import staging
from big_data_share_market_spark.registry import all_queries
from big_data_share_market_spark.session import scoped_conf
from big_data_share_market_spark.tables import iterate

from .conftest import SF_DIR

_AQE = "spark.sql.adaptive.enabled"
_KEY = "bdsm.test.scoped_conf"


@pytest.mark.parametrize("prior", ["before", None])
@pytest.mark.parametrize("raises", [False, True])
def test_scoped_conf_restores_prior_state(spark, prior, raises):
    """Inside the scope the key reads the scoped value; afterwards it
    reads its prior value again, or is unset if it had none — also
    when the body raises."""
    if prior is None:
        spark.conf.unset(_KEY)
    else:
        spark.conf.set(_KEY, prior)
    try:
        with (pytest.raises(RuntimeError) if raises
              else contextlib.nullcontext()):
            with scoped_conf(spark, {_KEY: "inside"}):
                assert spark.conf.get(_KEY) == "inside"
                if raises:
                    raise RuntimeError("body failed")
        assert spark.conf.getAll.get(_KEY) == prior
    finally:
        spark.conf.unset(_KEY)


def test_iterate_restores_aqe_when_a_narrow_step_raises(spark):
    before = spark.conf.getAll

    def step(i, state):
        assert spark.conf.get(_AQE) == "false"
        if i == 2:
            raise RuntimeError("step failed")
        return state + 1

    with pytest.raises(RuntimeError, match="step failed"):
        iterate(spark, 0, step, rounds=3, narrow=True)
    assert spark.conf.getAll == before


def test_iterate_stops_at_a_fixpoint_and_counts_rounds(spark):
    seen = []

    def step(i, state):
        seen.append((i, state))
        return None if state == 2 else state + 1

    assert iterate(spark, 0, step, rounds=5, narrow=False) == (2, 2)
    assert seen == [(1, 0), (2, 1), (3, 2)]
    assert iterate(spark, 0, step, rounds=1, narrow=False) == (1, 1)


@pytest.mark.parametrize("name", [
    "part_kcore", "part_bfs_hops", "pca_power_iteration", "kmeans_train",
    "cc_alternating", "dedup_components", "recursive_cte_kalman",
    "mmr_rerank"])
def test_loop_queries_leave_the_session_as_found(spark, name):
    """Runtime conf is unchanged after the query and its action, and
    nothing stays cached once the staged families are released."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    staging.unpersist_staged(blocking=True)
    spark.catalog.clearCache()  # what earlier tests left behind
    before = spark.conf.getAll
    assert all_queries()[name][0](spark, SF_DIR).count() > 0
    assert spark.conf.getAll == before
    staging.unpersist_staged(blocking=True)
    assert cache.isEmpty()


def test_conf_and_checkpoints_go_through_the_loop_helpers():
    """No `.conf.set(` / `.conf.unset(` outside session.py (the isolated
    child session built by scale._aqe_skew_session is exempt), and no
    `localCheckpoint(` in the loop modules: they freeze through
    tables.iterate / tables.freeze."""
    pkg = pathlib.Path(staging.__file__).parent
    loop_modules = {"graph.py", "similarity.py", "dedup.py"}
    conf_calls, checkpoints = [], []
    for path in sorted(pkg.rglob("*.py")):
        if path.name == "session.py":
            continue
        tree = ast.parse(path.read_text())
        exempt = {id(n) for fn in ast.walk(tree)
                  if isinstance(fn, ast.FunctionDef)
                  and fn.name == "_aqe_skew_session"
                  for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)):
                continue
            where = f"{path.name}:{node.lineno}"
            if (node.func.attr in ("set", "unset")
                    and isinstance(node.func.value, ast.Attribute)
                    and node.func.value.attr == "conf"
                    and id(node) not in exempt):
                conf_calls.append(where)
            if (node.func.attr == "localCheckpoint"
                    and path.name in loop_modules):
                checkpoints.append(where)
    assert conf_calls == []
    assert checkpoints == []
