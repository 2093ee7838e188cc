#!/usr/bin/env python
"""sf1 heavy-lane core-scaling probe (r10 verdict item 6): at sf0.1
every c8/c32 ratio reads ≈1 because fixed scheduling/codegen/Python
costs dominate sub-3-second walls, so core-scaling is not measurable
by the committed artifacts. This probe times the heaviest batch
queries + 2 stream replays at sf1 (10× sf0.1, built deterministically
by tools/make_scale_fixture.py) at two core counts and writes
SCALE_SF1_r11.json.

Inner mode (one core count per JVM — local[N] is fixed at session
build): `python tools/bench_sf1.py --inner <cpus>` prints one JSON
line. Outer mode (default): builds the fixture if absent, runs the
inner probe at 32 then 8 cores, merges, writes the artifact.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

SF1_DIR = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/bdsm_sf1.0")

#: Heaviest batch queries by sf0.1 wall (r11 baseline bench), every
#: eager driver loop (tables.iterate), the per-key Arrow kernels with a
#: dense across-key form or their own step (ema, kalman_level,
#: holt_winters), and the two heaviest stream replays. theil_sen_trend
#: rides along because it is the documented at-scale stress kernel.
HEAVY = [
    "part_triangles", "part_pagerank", "part_kcore", "part_bfs_hops",
    "containment_neardup", "pca_power_iteration", "kmeans_train",
    "cc_alternating", "suppliers_kept_waiting", "quantile_sketch_merge",
    "spearman_corr", "clean_corpus", "theil_sen_trend",
    "ema", "kalman_level", "holt_winters",
]
STREAMS = ["stream_session_timeout", "stream_ohlc_bars"]


def inner(cpus: int) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    from big_data_share_market_spark.registry import all_queries
    from big_data_share_market_spark.session import get_spark
    queries = all_queries()
    spark = get_spark(app_name=f"sf1-probe-c{cpus}", cpus=cpus)
    out: dict[str, float] = {}
    for name in HEAVY:
        fn, _ = queries[name]
        spark.sparkContext.setJobDescription(f"sf1 warmup:{name}")
        fn(spark, SF1_DIR).write.format("noop").mode("overwrite").save()
    for name in HEAVY:
        fn, _ = queries[name]
        reps = []
        for _ in range(2):
            spark.sparkContext.setJobDescription(f"sf1 timed:{name}")
            t0 = time.perf_counter()
            fn(spark, SF1_DIR).write.format("noop").mode("overwrite").save()
            reps.append(round(time.perf_counter() - t0, 3))
        out[name] = min(reps)
    for name in STREAMS:  # single-rep full replays (stream protocol)
        fn, _ = queries[name]
        spark.sparkContext.setJobDescription(f"sf1 stream:{name}")
        t0 = time.perf_counter()
        fn(spark, SF1_DIR).write.format("noop").mode("overwrite").save()
        out[name] = round(time.perf_counter() - t0, 3)
    print(json.dumps({"cpus": cpus, "queries": out,
                      "total": round(sum(out.values()), 3)}))


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--inner":
        inner(int(sys.argv[2]))
        return
    if not os.path.exists(os.path.join(SF1_DIR, "lineitem.parquet")):
        subprocess.run(
            [sys.executable, os.path.join(HERE, "make_scale_fixture.py"),
             "/root/testdata/sf0.1", SF1_DIR, "10"], check=True)
    runs = {}
    for cpus in (32, 8):
        env = dict(os.environ)
        env["SPARK_GRAFT_SF_DIR"] = SF1_DIR
        res = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--inner", str(cpus)],
            capture_output=True, text=True, env=env, check=True)
        runs[f"c{cpus}"] = json.loads(res.stdout.strip().splitlines()[-1])
    ratios = {n: round(runs["c8"]["queries"][n] / runs["c32"]["queries"][n], 2)
              for n in runs["c32"]["queries"]
              if runs["c32"]["queries"][n] > 0}
    artifact = {"sf": 1.0, "fixture": SF1_DIR,
                "protocol": "warmup + min-of-2 per query (streams: 1 rep)",
                **runs, "c8_over_c32": ratios}
    path = os.path.join(REPO, "SCALE_SF1_r11.json")
    with open(path, "w") as fh:
        json.dump(artifact, fh, indent=1)
    print(json.dumps(artifact["c8_over_c32"]))
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
