"""Tests of the benchmark itself: generator determinism, metric names
against BENCHMARK.json, and a tiny-input smoke run of every workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
from run import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _digest_dashboard(seed: int, out) -> str:
    return gen.file_digest(gen.write_dashboard_inputs(seed, str(out), 500, 20, 2))


def _digest_ticks(seed: int, out) -> str:
    paths, _ = gen.write_backlog(gen.TickSource(seed, 10), str(out), 3, 50,
                                 1_000_000)
    return gen.file_digest(paths)


@pytest.mark.parametrize("make", [_digest_dashboard, _digest_ticks])
def test_generator_is_deterministic_per_seed(make, tmp_path):
    a = make(7, tmp_path / "a")
    assert make(7, tmp_path / "b") == a
    assert make(8, tmp_path / "c") != a


def test_ticks_keep_per_key_order_across_files():
    """Per key, file order must equal (ts, event_id) order, or the
    arrival-ordered EMA state cannot match its time-ordered oracle. The
    periods include lagging ticks (created before their file's period)
    and re-sent ones (created later than their ``ts``)."""
    source = gen.TickSource(3, 5)
    seen: dict[int, tuple] = {}
    lagged = resent = 0
    periods = 100
    for k in range(periods):
        t0 = k * 1000
        table, created = source.batch(t0, t0 + 1000, 20,
                                      last=k == periods - 1)
        assert len(created) == table.num_rows
        ts = table.column("ts").cast("int64").to_pylist()
        lagged += int((created < t0).sum())
        resent += sum(int(made) != t for made, t in zip(created, ts))
        per_key: dict[int, list] = {}
        for user, t, event in zip(table.column("user_id").to_pylist(), ts,
                                  table.column("event_id").to_pylist()):
            per_key.setdefault(user, []).append((t, event))
        for user, keys in per_key.items():
            assert user not in seen or min(keys) > seen[user]
            seen[user] = max(keys)
    assert lagged and resent


def test_metric_names_match_benchmark_json():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER


def _run(workload: str, trace: int, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=300)
    return proc


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_reports_every_metric_and_passes_the_gate(workload):
    proc = _run(workload, 0)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stdout[-3000:]
    assert set(result["metrics"]) == set(END_TO_END)
    assert all(m["value"] > 0 for m in result["metrics"].values())
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))


def test_traced_smoke_run_reports_every_layer_metric():
    proc = _run("dashboard_refresh", 1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result["metrics"]) == set(PER_LAYER)
    assert result["metrics"]["exec.tasks"]["value"] > 0
    assert result["metrics"]["staging.families"]["value"] >= 1


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("dashboard_refresh", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
