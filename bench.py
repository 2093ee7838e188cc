#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric", "value" (total sec), "unit", "queries"
(per-query sec), "sf"}.

Each query is forced end-to-end with the noop sink (full computation,
no driver-side collect). BASELINE.md anchors: flagship signal query
<= 5 s, ewm indicator suite <= 10 s, relational suite <= 5 s/query at
sf 0.1 single-node.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from big_data_share_market_spark.registry import all_queries
from big_data_share_market_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Representative slice of SURVEY.md §2: relational core, keyed stream
# ops, window indicators, ewm kernels, training-data operators.
HEADLINE = [
    "signal_case",          # flagship (B2 CASE + lag)
    "pricing_summary",      # TPC-H Q1 shape
    "shipping_priority",    # fact-fact join + top-k
    "region_revenue",       # 6-table star join
    "grouped_events",       # grouped agg
    "topk_per_group",       # windowed rank
    "asof_last_signup",     # as-of join
    "last_per_key",         # D2
    "ohlc_bars",            # tumbling OHLC
    "sma",                  # rolling window
    "rsi",                  # rolling + arithmetic
    "breakout_strategy",    # window-of-window
    "ema",                  # ewm kernel (applyInPandas)
    "macd",                 # chained ewm
    "adx",                  # hybrid window + ewm
    "exact_dedup",          # hash dedup
    "minhash_lsh_dedup",    # LSH near-dup
    "clean_corpus",         # composed cleaning pipeline
    "cosine_topk",          # similarity scan
    "embedding_neardup",    # multi-table LSH near-dup
    "quality_score",        # text analysis
    "large_volume_orders",  # HAVING-join pipeline (Q18 shape)
    "customer_order_distribution",  # group-on-aggregate (Q13 shape)
    "sessionize_events",    # gap sessionization (lag + cumsum + agg)
    "salted_skew_agg",      # two-stage salted aggregation
    "ohlc_day_rollup",      # multi-resolution rollup cascade
    "bigram_counts",        # corpus n-gram stats (explode + combine)
    "forecast_revenue",     # Q6: pure pushdown + single agg
    "bilateral_volume",     # Q7: broadcast dims + fact-fact join
    "returned_item_revenue",  # Q10: agg-then-decorate top-k
    "suppliers_kept_waiting",  # Q21: decorrelated exists pair
    "repetition_score",     # corpus repetition signals (2x explode-agg)
    "cross_split_contamination",  # fingerprint self-join
    "token_budget_mixture",  # two-level distributed prefix sum
    "heavy_hitters",        # Misra-Gries candidates + exact recount
    "ann_pq_topk",          # product-quantization ADC top-k
    "incremental_dedup",    # delta-vs-base fingerprint anti-join
    "bloom_incremental_dedup",  # bloom-pruned delta-vs-base dedup
    "snapshot_diff",        # CDC full-outer PK diff
    "simhash_pairs",        # numpy simhash kernel + chunk-bucket join
    "bm25_topk",            # lexical retrieval (1-row stats broadcast)
    "quality_classifier",   # model-apply (broadcast weight map)
    "containment_neardup",  # asymmetric near-subset dedup
    "rrf_hybrid_topk",      # BM25 + dense fusion (two TakeOrdereds)
    "domain_cap_sample",    # two-level distributed per-domain rank
    "salted_skew_join",     # fact-salt + replicated-dim merge join
    "bpe_encode",           # zero-shuffle subword tokenization
    "file_zonemap_audit",   # per-file min/max data-skipping stats
    "segment_dedup_rebuild",  # C4-style segment excision + rebuild
    "part_pagerank",        # 5-iteration fixed-point PageRank
    "ols_price_model",      # one-pass normal-equations regression
    "dpp_join_prune",       # dynamic partition pruning via dim join
    "tfidf_cosine_pairs",   # sparse inverted-index similarity join
    "cms_token_counts",     # oracle-checked count-min sketch
    "edit_distance_neardup",  # capped Levenshtein fuzzy-dedup verify
    "holt_forecast",        # coupled two-state Arrow kernel + forecasts
    "holt_winters",         # triple smoothing, m-vector seasonal state
    "forecast_anomalies",   # one-step-ahead residual z-score flags
    "cdc_apply",            # ordered I/U/D changelog last-writer-wins
    "contract_check_lineitem",  # single-pass data-contract gate
    "variant_props_stats",  # Spark-4 VARIANT schema-free extraction
    "atr_wilder",           # TR windows + Wilder ewm kernel over bars
    "cci",                  # frame-list MAD fold (quantized integer)
    "mfi",                  # sign-split money flows, decimal means
    "keltner_channels",     # window-pure channel bands
    "compaction_plan",      # manifest bin packing (per-source cumsum)
    "mmr_rerank",           # unrolled greedy diversity re-rank
    "parabolic_sar",        # 4-field branching state-machine kernel
    "hard_negative_mining", # cross-label LSH candidate mining
    "dashboard_snapshot",   # composed console refresh, one exchange
    "supertrend",           # band-ratchet state machine kernel
    "kama",                 # adaptive-alpha recurrence kernel
    "volume_profile",       # price-bin histogram + point of control
    "k_anonymity_audit",    # privacy equivalence-class histogram
    "ngram_novelty",        # first-occurrence gram window + doc agg
    "ultimate_oscillator",  # triple-horizon decimal rolling sums
    "embedding_dim_stats",  # 129-cell global whitening aggregate
    "pca_power_iteration",  # 3 scan+reduce power-iteration steps
    "part_triangles",       # oriented edge-iterator triangle counting
    "event_transitions",    # per-user lag + matrix rollup
    "source_token_entropy", # histogram + sequential ln fold
    "var_cvar",             # tail-risk quantile + exact tail mean
    "bq_topk",              # 1-bit hamming pre-rank + exact re-rank
    "return_autocorr",      # lag-1 Pearson from exact integer moments
    "cc_alternating",       # O(log n) star-contraction components
    "part_kcore",           # bounded-round k-core peeling / onion layers
    "sma_crossover_backtest",  # vectorized strategy PnL over bars
    "kalman_level",         # adaptive-gain local-level filter kernel
    "lang_confusion",       # lang-ID confusion matrix QA rollup
    "l_diversity_audit",    # sensitive-value diversity per QI class
    "incremental_agg_merge",  # mergeable-state MV maintenance
    "priority_sample",      # u/w weighted top-k sample, no global sort
    "dedup_survivorship",   # golden-record election over dup clusters
    "stoch_rsi",            # indicator-of-indicator window composition
    "chaikin_oscillator",   # cumulative ADL + two-alpha ewm kernel
    "part_bfs_hops",        # bounded-round frontier-expansion BFS
    "ulcer_index",          # RMS percentage drawdown (Martin)
    "mass_index",           # chained-EMA range expansion + 25-sum
    "coppock_curve",        # lag-chain weighted momentum
    "tokenizer_fertility",  # per-lang BPE pieces-per-word QA
    "dedup_cluster_stats",  # component-size histogram over CC labels
    "amihud_illiq",         # price impact per unit volume (integer-exact)
    "aqe_skew_join",        # runtime skew-split join (AQE demo twin)
    "quantile_sketch_merge",  # mergeable fixed-bucket quantile summary
    "cosine_topk_numpy",    # numpy shortlist + exact re-rank serving path
    "kmv_distinct_merge",   # mergeable k-minimum-values distinct sketch
    "grouped_quantile_sketch",  # per-group quantiles, one histogram pass
    "theil_sen_trend",      # median-of-pairwise-slopes robust trend
    "kmv_intersection",     # theta-style sketch set intersection
    "python_datasource_ticks",  # custom Python source, split-planned
    "python_datasource_sink",   # custom Python sink, manifest commit
    "lateral_topk_orders",  # decorrelated LATERAL -> WindowGroupLimit
    "rolling_24h_value",    # event-time RANGE frame rolling metrics
    "mann_kendall_trend",   # pairwise-sign trend significance test
    "ks_two_sample",        # exact-integer KS drift statistic
    "mannwhitney_u",        # exact-integer rank-sum location test
    "cusum_changepoint",    # decimal-exact CUSUM level-shift locator
    "wilcoxon_signed_rank", # paired doubled-rank location test
    "spearman_corr",        # doubled-rank Pearson, HUGEINT-safe moments
    "kendall_tau_pairs",    # per-user tau-b concordance
    "cusum_binary_seg",     # one-level binary segmentation
    "seasonal_strength_dow",  # ANOVA eta-squared seasonality score
    "seasonal_decompose_dow",  # day-of-week seasonal/level split
    "mann_kendall_capped",  # stride-capped bounded-work trend screen
    "theil_sen_capped",     # stride-capped robust slope
    "acf_multi_lag",        # K-lag ACF table, one window pass
    "pacf_durbin_levinson", # unrolled DL recursion over exact ACF
    "ljung_box_whiteness",  # pooled portmanteau whiteness test
    "runs_test_randomness", # Wald-Wolfowitz sign-runs test
    "benford_prices",       # first-digit conformity screen
    "fk_integrity_audit",   # six-relationship orphan audit
    "ar_order_select",      # composed ACF/PACF/LB order pick (r10)
    "rolling_covariance",   # bounded-universe rolling pair moments
    "variance_ratio",       # Lo-MacKinlay random-walk screen
    "cross_sectional_momentum",  # per-day Fama-MacBeth first stage
]

# API-coverage lanes: registry-green, bench-RECORDED, excluded from
# the HEADLINE suite number (r8 verdict item 4: all three or none).
# These exist to demonstrate API surface and to record measured
# findings, not to route production traffic:
# - udtf_sessionize / udtf_sessionize_arrow: Python UDTF PARTITION BY
#   sessionizer and its Arrow-serializer twin. The r8 A/B measured the
#   Arrow serializer ~2.8x SLOWER than row pickling for this shape
#   (per-row eval dispatch dominates); the production sessionization
#   lanes (F.session_window in sessionize_events, the timeout state
#   machine in stream_session_timeout) are both in HEADLINE/streams.
# - recursive_cte_kalman: pure-SQL WITH RECURSIVE parity demo of the
#   Kalman filter; the production lane is the Arrow kernel
#   (kalman_level, in HEADLINE).
API_LANES = [
    "udtf_sessionize",
    "udtf_sessionize_arrow",
    "recursive_cte_kalman",
]

#: Streaming replays probed every round (freshness envelope).
STREAM_PROBES = (
    "stream_ohlc_bars", "stream_upsert_idempotent",
    "stream_ingest_dedup_gate", "stream_atr_per_key",
    "stream_bq_topk", "stream_quantile_sketch",
    "stream_session_timeout", "stream_cusum_drift",
    "stream_python_datasource_sink")

#: Lane-B slice size (r9 verdict item 7): the registry queries not in
#: HEADLINE/API_LANES/STREAM_PROBES get a timed bench row on a
#: rotating ~30-query slice each round, so perf regressions outside
#: the headline are visible at least every ~6 rounds.
_LANEB_K = 30


def _laneb_slice(queries: dict) -> dict:
    """Deterministic rotating lane-B selection. The rotation index is
    the round number inferred from the committed CORRECTNESS_r*.json
    count (the one per-round artifact that exists from r1 on), so the
    slice advances exactly once per round no matter how many times
    bench.py runs within a round."""
    import glob
    import hashlib
    here = os.path.dirname(os.path.abspath(__file__))
    rnd = len(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))) + 1
    covered = set(HEADLINE) | set(API_LANES) | set(STREAM_PROBES)
    # Hash-ordered, not alphabetical: alphabetical order clumps all
    # stream_* replays (the expensive entries) into one slice; the
    # deterministic hash shuffle spreads them evenly across rounds.
    pool = sorted((n for n in queries if n not in covered),
                  key=lambda n: hashlib.md5(n.encode()).hexdigest())
    n_slices = max(1, -(-len(pool) // _LANEB_K))
    idx = rnd % n_slices
    return {"round": rnd, "slice": idx, "n_slices": n_slices,
            "pool_size": len(pool),
            "names": pool[idx * _LANEB_K:(idx + 1) * _LANEB_K]}


#: Threads for the parallel CPU control — matches the bench session's
#: executor-thread count so the control is contended exactly like a
#: 32-way Spark stage.
_CTRL_THREADS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _control_probe(spark) -> dict:
    """ONE control probe: three fixed workloads timed back-to-back.
    Probes run INTERLEAVED between suite passes (r8 verdict item 1:
    a once-per-run control cannot see contention that arrives
    mid-run), and the committed artifact records the full series.

    - cpu_1t: single-threaded pure-numpy sorts over a SEEDED array —
      no Spark, no JVM, no I/O; sequential host-CPU speed.
    - cpu_32t: the SAME sort workload fanned across _CTRL_THREADS
      Python threads (numpy sort releases the GIL, so these run truly
      parallel) — observes 32-way CPU contention, which the
      single-threaded spin provably cannot (r8: control read 1.19x
      while 32-way queries read 4.5x).
    - spark: a constant pinned JVM-side aggregation over spark.range
      (no parquet, no Python workers) — JVM scheduling + codegen +
      task dispatch at the session's parallelism.
    """
    import threading

    import numpy as np

    rng = np.random.default_rng(7)
    x = rng.standard_normal(2_000_000)

    t0 = time.perf_counter()
    acc = 0.0
    for _ in range(4):
        y = np.sort(x)
        acc += float(y[::97].sum())
    cpu_1t = time.perf_counter() - t0
    assert acc == acc  # keep the work observable

    out = [0.0] * _CTRL_THREADS

    def _spin(i: int) -> None:
        s = 0.0
        for _ in range(4):
            y = np.sort(x)
            s += float(y[::97].sum())
        out[i] = s

    threads = [threading.Thread(target=_spin, args=(i,))
               for i in range(_CTRL_THREADS)]
    t0 = time.perf_counter()
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    cpu_par = time.perf_counter() - t0
    assert sum(out) == sum(out)

    t0 = time.perf_counter()
    (spark.range(0, 100_000_000, 1, 32)
     .selectExpr("sum(id * 2654435761 % 1000003) AS s")
     .write.format("noop").mode("overwrite").save())
    spark_ctrl = time.perf_counter() - t0

    return {"cpu_1t": round(cpu_1t, 3),
            f"cpu_{_CTRL_THREADS}t": round(cpu_par, 3),
            "spark": round(spark_ctrl, 3)}


def _staging_probe(spark) -> dict:
    """Cold staged-relation build cost (r10 verdict item 8): the
    staged families are materialized HERE, before the untimed warmup,
    so the cost the warmup otherwise hides gets a recorded number.
    Timing only — the staged entries are exactly the ones the warmup
    would have built; no timed-region change."""
    from pyspark.sql import DataFrame

    from big_data_share_market_spark.staging import _BUILDERS

    out: dict[str, float] = {}
    # Registration order is dependency order (a module imports the
    # modules whose families it reads; inside a module a builder is
    # defined after the builders it calls), so each row is that
    # family's INCREMENTAL cold cost.
    for name, build in _BUILDERS.items():
        t0 = time.perf_counter()
        try:
            value = build(spark, SF_DIR)
            for item in value if isinstance(value, tuple) else (value,):
                if isinstance(item, DataFrame):
                    item.count()
        except Exception as exc:  # record, never fail the bench
            out[name] = -1.0
            print(f"staging probe {name} failed: {exc}", file=sys.stderr)
            continue
        out[name] = round(time.perf_counter() - t0, 3)
    return out


def _prev_line_queries() -> list[str]:
    """Query names on the PREVIOUS round's committed compact bench
    line (r10 verdict item 4: the 20-slowest selection is unstable
    round to round, so a query that merely got FASTER fell off the
    line and read as 'dropped_from_bench'). Including last round's
    names keeps the line rotation-stable without removing anything."""
    import glob
    here = os.path.dirname(os.path.abspath(__file__))
    files = sorted(glob.glob(os.path.join(here, "BENCH_r*.json")))
    # Exclude per-core-count side artifacts like BENCH_r10_c8.json:
    # the driver-diffed line is the plain BENCH_rNN one.
    files = [f for f in files
             if re.fullmatch(r"BENCH_r\d+\.json", os.path.basename(f))]
    if not files:
        return []
    try:
        with open(files[-1]) as fh:
            parsed = json.load(fh).get("parsed") or {}
        return list(parsed.get("queries") or {})
    except Exception:
        return []


def main() -> None:
    queries = all_queries()
    spark = get_spark(app_name="bdsm-bench")
    # Cold staged-relation materialization, timed per family (the
    # warmup pass would otherwise hide it — r10 verdict item 8).
    staging_seconds = _staging_probe(spark)
    # TPC-style warmup: one untimed execution per query so the timed
    # pass measures steady-state engine speed (file-index + footer
    # reads, codegen compilation, shuffle service and Python-worker
    # forks are one-time JVM costs, not per-query engine costs).
    for name in HEADLINE:
        fn, _ = queries[name]
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()

    # 3 timed reps per query, INTERLEAVED as full suite passes
    # (pass 1 times every query, then pass 2, then pass 3) with a
    # control probe before/after each pass. A slow-host excursion
    # mid-run now lands on one PASS (visible in the control series and
    # escapable via the per-query min across passes) instead of
    # poisoning all three back-to-back reps of whichever queries it
    # hit (r8: part_triangles 11.7 s MIN vs 2.55 s steady state).
    control_series: list[dict] = [_control_probe(spark)]
    timings_reps: dict[str, list] = {name: [] for name in HEADLINE}
    for _pass in range(3):
        for name in HEADLINE:
            fn, _ = queries[name]
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            timings_reps[name].append(
                round(time.perf_counter() - t0, 3))
        control_series.append(_control_probe(spark))

    # HEADLINE BASIS = per-query MIN across the interleaved passes
    # (r8 verdict item 1: the committed artifact is what future rounds
    # diff against, so it must carry the number least contaminated by
    # host contention; the median and raw reps ride along for spread).
    timings_min = {n: min(r) for n, r in timings_reps.items()}
    timings_median = {n: sorted(r)[1] for n, r in timings_reps.items()}

    # API-coverage lanes: one untimed warmup (matching the headline
    # protocol — first-run planning/codegen overhead would otherwise
    # bias the recorded number, e.g. the Arrow-vs-pickle UDTF
    # comparison) then one timed rep, recorded but excluded from the
    # suite number (deliberately non-production paths).
    api_lanes: dict[str, float] = {}
    for name in API_LANES:
        fn, _ = queries[name]
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        t0 = time.perf_counter()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        api_lanes[name] = round(time.perf_counter() - t0, 3)

    # Streaming freshness probe (BASELINE.md envelope: <= 60 s from
    # event to queryable row at sf0.1): timed available-now replays of
    # the event stream through tumbling OHLC bars and through the
    # double-replay foreachBatch upsert (full pipeline: micro-batch
    # execution + final distributed read, no driver collect). One rep
    # each — streaming runs are checkpointed and heavier; the number
    # answers "does a full replay fit the freshness envelope", not a
    # steady-state per-query latency.
    stream_timings: dict[str, float] = {}
    for name in STREAM_PROBES:
        fn, _ = queries[name]
        t0 = time.perf_counter()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        stream_timings[name] = round(time.perf_counter() - t0, 3)

    # Lane B (r9 verdict item 7): one warmup + one timed rep for this
    # round's rotating slice of non-HEADLINE queries, bracketed by its
    # OWN control probes (streaming entries skip the warmup — a replay
    # is a full-pipeline number, not a steady-state one, matching the
    # stream probe protocol above).
    laneb = _laneb_slice(queries)
    laneb_controls = [_control_probe(spark)]
    laneb_timings: dict[str, float] = {}
    for name in laneb["names"]:
        fn, _ = queries[name]
        if not name.startswith("stream_"):
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        t0 = time.perf_counter()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        laneb_timings[name] = round(time.perf_counter() - t0, 3)
    laneb_controls.append(_control_probe(spark))

    # Composed-pipeline probe (r9 verdict item 8): the training-data
    # story end-to-end — quality gate -> exact dedup -> LSH near-dup
    # -> split -> chunk -> hash-sharded parquet — as ONE lazy plan
    # with a real write, timed at this run's SF. The sf10 twin lives
    # in tools/composed_pipeline_probe.py / SCALING.md.
    import shutil
    import tempfile
    from big_data_share_market_spark.operators.packing import (
        training_chunks, write_training_shards)
    composed_out = os.path.join(tempfile.gettempdir(),
                                "bdsm_bench_composed_shards")
    shutil.rmtree(composed_out, ignore_errors=True)
    t0 = time.perf_counter()
    write_training_shards(training_chunks(spark, SF_DIR), composed_out)
    composed_pipeline = round(time.perf_counter() - t0, 3)
    shutil.rmtree(composed_out, ignore_errors=True)

    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else None

    # Backward-compatible control summary next to the full series:
    # min across probes = the host's best observed speed this run.
    par_key = f"cpu_{_CTRL_THREADS}t"
    controls = {
        "cpu_control_sec": min(p["cpu_1t"] for p in control_series),
        "cpu_parallel_control_sec": min(p[par_key] for p in control_series),
        "spark_control_sec": min(p["spark"] for p in control_series),
        "control_spread": round(
            max(p[par_key] for p in control_series)
            / min(p[par_key] for p in control_series), 2),
    }

    # The driver captures only the LAST 2000 bytes of stdout; the full
    # ~85-query dict no longer fits (BENCH_r05.json recorded
    # "parsed": null with the line's head cut off). Emit ONE compact
    # line guaranteed to fit: the 15 BASELINE-anchored core queries
    # (signal_case .. adx) + the 20 slowest of the rest — the numbers
    # that grade the round — and write the complete per-query detail
    # to BENCH_DETAIL.json next to this script.
    core = HEADLINE[:15]
    rest = sorted((n for n in timings_min if n not in core),
                  key=lambda n: -timings_min[n])[:20]
    # Rotation stability (r10 verdict item 4): every query on the
    # PREVIOUS round's line stays on this one, so an improvement near
    # the 20-slowest cutoff can never read as a dropped query.
    prev_names = [n for n in _prev_line_queries()
                  if n in timings_min and n not in core and n not in rest]
    full = {
        "metric": "headline_suite_seconds",
        # HEADLINE = sum of per-query MIN across interleaved passes
        # (stated basis; medians/reps ride along).
        "value": round(sum(timings_min.values()), 3),
        "basis": "min_of_3_interleaved_passes",
        "unit": "sec",
        "queries": timings_min,
        "queries_median": timings_median,
        "queries_reps": timings_reps,
        "api_coverage_lanes": api_lanes,
        "stream_suite_seconds": round(sum(stream_timings.values()), 3),
        "stream_queries": stream_timings,
        "lane_b": {**{k: laneb[k] for k in
                      ("round", "slice", "n_slices", "pool_size")},
                   "basis": "one_rep_after_warmup_batch_only",
                   "queries": laneb_timings,
                   "control_series": laneb_controls,
                   "seconds": round(sum(laneb_timings.values()), 3)},
        "composed_pipeline_seconds": composed_pipeline,
        "staging_seconds": staging_seconds,
        "sf": sf,
        "n_queries": len(timings_min),
        "control_series": control_series,
        **controls,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    with open(detail_path, "w") as fh:
        json.dump(full, fh, indent=1)
    compact = dict(full)
    # Medians/reps/series live in the detail file only — the compact
    # line must fit the driver's 2000-byte stdout tail. Lane B keeps
    # only its totals on the line; per-query rows are in the detail,
    # as is the per-family staging breakdown (the line carries the
    # cold-staging total).
    del compact["queries_median"], compact["queries_reps"]
    del compact["control_series"], compact["api_coverage_lanes"]
    del compact["staging_seconds"]
    compact["staging_cold_seconds"] = round(
        sum(s for s in staging_seconds.values() if s > 0), 3)
    compact["lane_b"] = {k: full["lane_b"][k] for k in
                         ("round", "slice", "n_slices", "seconds")}
    compact["detail"] = "BENCH_DETAIL.json"
    # If the line ever outgrows the driver tail, shed the NEW slowest
    # extras first (they are in BENCH_DETAIL either way) — never the
    # core 15 or last round's names, which is what keeps round-over-
    # round diffs free of false drops.
    extras = list(rest)
    while True:
        compact["queries"] = {n: timings_min[n]
                              for n in core + extras + prev_names}
        line = json.dumps(compact, separators=(",", ":"))
        if len(line) < 1900 or not extras:
            break
        extras.pop()
    assert len(line) < 1900, f"bench line {len(line)}B overflows driver tail"
    print(line)


if __name__ == "__main__":
    main()
