"""Lexical retrieval over the `documents` corpus: BM25 scoring and
top-k search for a fixed query.

The training-data counterpart of the embedding ANN family
(similarity.py): given a literal query (the common "score this corpus
against a probe query" shape used for quality-targeted data selection
a la DSIR / targeted-crawl ranking), rank every document by Okapi
BM25 and return the top-k.

Scale shape (the part that matters at 100 TB):

- Query terms are a compile-time literal list, so per-document term
  frequencies are ROW-LOCAL expressions (`size(filter(toks, ...))`)
  — the corpus pass is a narrow scan, no explode, no shuffle.
- The corpus statistics BM25 needs (N, total token count, per-term
  document frequencies) collapse into ONE single-row aggregate that
  broadcast-joins back onto the scan: bytes moved, not rows.
- avgdl is derived as exact-integer SUM(dl)/COUNT so Spark and the
  DuckDB oracle compute bit-identical inputs (AVG over doubles would
  drift with partial-aggregation order).
- The final top-k is an `orderBy(...).limit(k)` — Spark plans a
  TakeOrderedAndProject: per-partition heaps of k rows, no global
  sort of the corpus.

For ad-hoc (non-literal) multi-query retrieval the inverted shape is
the explode → LEFT-SEMI-on-broadcast(query terms) → per-(doc, term)
count path used by heavy_hitters (corpus.py); the scoring arithmetic
here is reused unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..staging import staged
from ..tables import load_table

#: Okapi BM25 constants (the standard defaults from the literature).
_K1 = 1.2
_B = 0.75
_TOP_K = 15

#: The probe query. 'dup' is rare in the fixture corpus (df ~ 5% of
#: docs) so its idf dominates — the query actually discriminates.
_QUERY_TERMS = ("dup", "spark", "window")


def _toks():
    """Row-local tokenizer expression over a `text` column. Batch
    paths read the staged token relation (text.staged_tokens)
    instead; this form remains for STREAMING consumers
    (stream_quality_gate), which score rows in flight and cannot
    join a persisted static relation for their own tokens."""
    return F.split(F.trim(F.lower(F.col("text"))), r"\s+")


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dl, bm25) for every document against `_QUERY_TERMS` —
    the shared scoring pass behind `bm25_topk` and the RRF fusion.

    One narrow corpus pass computes (dl, tf_t...) row-locally; a
    single-row stats aggregate (N, sum_dl, df_t...) broadcasts back;
    scoring is row-local arithmetic. Zero corpus-sized shuffles.

    Reads the STAGED tokenized corpus (text.staged_tokens): the plan
    references the feature subtree twice (stats agg + scoring scan)
    and Spark does not dedupe common subtrees, so without the stage
    the interpreted tokenizer would run over the corpus twice per
    query — measured 3.3 s → 1.8 s for bm25_topk at sf0.1.
    """
    from .text import staged_tokens

    docs = staged_tokens(spark, sf_dir)
    toks = F.col("toks")
    def _tf(term):
        # NB: a `lambda x, t=term:` default-arg closure would NOT work
        # here — pyspark's higher-order-function binder counts lambda
        # parameters and passes the array INDEX as the second argument,
        # silently overwriting the default.
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    tf_cols = [_tf(t).alias(f"tf_{i}") for i, t in enumerate(_QUERY_TERMS)]
    feat = docs.select("doc_id", F.size(toks).alias("dl"), *tf_cols)
    stats = feat.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.sum("dl").cast("double").alias("sum_dl"),
        *[F.sum((F.col(f"tf_{i}") > 0).cast("int")).cast("double")
          .alias(f"df_{i}") for i in range(len(_QUERY_TERMS))],
    )
    avgdl = F.col("sum_dl") / F.col("n_docs")
    parts = []
    for i in range(len(_QUERY_TERMS)):
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5))
            / (F.col(f"df_{i}") + F.lit(0.5)))
        tf = F.col(f"tf_{i}").cast("double")
        parts.append(
            idf * (tf * (_K1 + 1.0))
            / (tf + _K1 * (1.0 - _B + _B * F.col("dl").cast("double") / avgdl)))
    score = sum(parts[1:], parts[0])
    return (feat.crossJoin(F.broadcast(stats))
            .select("doc_id", "dl", score.alias("bm25")))


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k documents by Okapi BM25 for the literal query
    `_QUERY_TERMS`, with the Lucene non-negative idf
    ``ln(1 + (N - df + 0.5) / (df + 0.5))``. Scoring is
    `_bm25_scored`; the top-k is an orderBy+limit Spark plans as
    TakeOrderedAndProject (per-partition k-heaps, no global sort)."""
    return (
        _bm25_scored(spark, sf_dir)
        .filter(F.col("bm25") > 0.0)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_TOP_K)
    )


def _bm25_ctes() -> str:
    """CTE chain ending in `bscored(doc_id, dl, bm25)` — the DuckDB
    mirror of `_bm25_scored`, shared by the bm25 and RRF oracles."""
    tf_sel = ", ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf_{i}"
        for i, t in enumerate(_QUERY_TERMS))
    df_sel = ", ".join(
        f"CAST(SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_{i}"
        for i in range(len(_QUERY_TERMS)))
    parts = " + ".join(
        f"(ln(1.0 + (n_docs - df_{i} + 0.5) / (df_{i} + 0.5))"
        f" * (CAST(tf_{i} AS DOUBLE) * ({_K1} + 1.0))"
        f" / (CAST(tf_{i} AS DOUBLE)"
        f"    + {_K1} * (1.0 - {_B} + {_B} * CAST(dl AS DOUBLE)"
        f"                               / (sum_dl / n_docs))))"
        for i in range(len(_QUERY_TERMS)))
    return f"""t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
  FROM documents),
f AS (SELECT doc_id, len(toks) AS dl, {tf_sel} FROM t),
s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) AS sum_dl,
         {df_sel}
  FROM f),
bscored AS (SELECT doc_id, dl, {parts} AS bm25 FROM f, s)"""


def _bm25_sql() -> str:
    return f"""
WITH {_bm25_ctes()}
SELECT doc_id, dl, bm25
FROM bscored
WHERE bm25 > 0.0
ORDER BY bm25 DESC, doc_id ASC
LIMIT {_TOP_K}
"""


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of BM25 + dense cosine
# ---------------------------------------------------------------------------

#: RRF constant (the k=60 from the original Cormack/Clarke/Buettcher
#: paper) and the per-ranker candidate depth.
_RRF_K = 60
_FUSE_N = 50


def q_rrf_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: fuse the lexical BM25 ranking (`_QUERY_TERMS`
    over `documents`) with the dense cosine ranking (vec_id 0's
    embedding over `embeddings`, which is row-aligned with documents)
    by reciprocal-rank fusion ``score = Σ 1 / (60 + rank_i)`` — the
    standard rank-level combiner for retrieval stacks whose scores
    live on incomparable scales.

    Scale shape: each ranker independently prunes the corpus to its
    top-`_FUSE_N` via orderBy+limit — Spark plans TakeOrdered
    (per-partition heaps), so the only global structure ever built is
    two N-row sets. The row_number windows and the full-outer fusion
    join then run on ≤2N rows (constant, corpus-size-independent);
    fusion arithmetic is 1/(60+rank) — identical IEEE division in
    both engines. Documents in only one ranking contribute only that
    ranking's term (the full-outer semantics of RRF)."""
    from .similarity import _with_cosine

    lex = (_bm25_scored(spark, sf_dir)
           .filter(F.col("bm25") > 0.0)
           .orderBy(F.desc("bm25"), F.asc("doc_id"))
           .limit(_FUSE_N)
           .withColumn("lex_rank", F.row_number().over(
               W.orderBy(F.desc("bm25"), F.asc("doc_id"))).cast("long"))
           .select("doc_id", "lex_rank"))
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb"))
    den = (_with_cosine(
               emb.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(query)),
               "embedding", "q_emb")
           .filter(F.col("cosine").isNotNull())
           .orderBy(F.desc("cosine"), F.asc("vec_id"))
           .limit(_FUSE_N)
           .withColumn("dense_rank", F.row_number().over(
               W.orderBy(F.desc("cosine"), F.asc("vec_id"))).cast("long"))
           .select(F.col("vec_id").alias("doc_id"), "dense_rank"))
    contrib = (
        F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("dense_rank")), F.lit(0.0)))
    return (
        lex.join(den, "doc_id", "full_outer")
        .select("doc_id", "lex_rank", "dense_rank", contrib.alias("rrf"))
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(_TOP_K)
    )


def _rrf_sql() -> str:
    from .similarity import _cosine_sql

    return f"""
WITH {_bm25_ctes()},
lex AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS lex_rank
  FROM (SELECT doc_id, bm25 FROM bscored WHERE bm25 > 0.0
        ORDER BY bm25 DESC, doc_id ASC LIMIT {_FUSE_N})),
q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
den AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS dense_rank
  FROM (SELECT vec_id AS doc_id,
               {_cosine_sql('embedding', 'q_emb')} AS cosine
        FROM embeddings, q
        WHERE vec_id <> 0
          AND {_cosine_sql('embedding', 'q_emb')} IS NOT NULL
        ORDER BY cosine DESC, doc_id ASC LIMIT {_FUSE_N}))
SELECT COALESCE(lex.doc_id, den.doc_id) AS doc_id,
       lex.lex_rank, den.dense_rank,
       COALESCE(1.0 / ({_RRF_K} + lex.lex_rank), 0.0)
       + COALESCE(1.0 / ({_RRF_K} + den.dense_rank), 0.0) AS rrf
FROM lex FULL OUTER JOIN den ON lex.doc_id = den.doc_id
ORDER BY rrf DESC, doc_id ASC
LIMIT {_TOP_K}
"""


# ---------------------------------------------------------------------------
# Linear quality-classifier apply (model-artifact-as-table shape)
# ---------------------------------------------------------------------------

#: The "trained model": (feature, weight) rows. In a real pipeline
#: this is a table loaded from the model store (a fastText-style
#: linear quality classifier distilled to engine-side features); the
#: literal rows here stand in for that artifact, and everything
#: downstream treats it as DATA, not code.
_CLS_WEIGHTS = (
    ("bias", -3.9),
    ("len_norm", 2.0),
    ("ttr", 2.5),
    ("stop_ratio", 4.0),
    ("mean_token_len", 0.3),
)


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a linear document-quality classifier: engine-side features
    (length norm, type-token ratio, stopword ratio, mean token length)
    dotted with a WEIGHT TABLE that models a stored artifact.

    Scale shape: the weight table collapses to a single map row
    (`map_from_entries(collect_list(...))`) and broadcast-crossJoins
    onto the corpus scan — the model rides to every executor as bytes,
    the features and the dot product are row-local expressions, and
    there is no per-row fan-out (no explode-join-regroup). Swapping in
    a retrained model means replacing the table, not the query. The
    decision column (`keep = score > 0`) is what clean-corpus
    compositions gate on.

    Summation order is the fixed `_CLS_WEIGHTS` feature order in both
    engines, so scores are bit-identical.
    """
    weights = spark.createDataFrame(list(_CLS_WEIGHTS), "feature string, w double")
    wm = F.broadcast(weights.groupBy().agg(
        F.map_from_entries(
            F.collect_list(F.struct("feature", "w"))).alias("wm")))
    from .text import staged_tokens

    toks = F.col("toks")
    stop = ("the", "a", "of", "and", "to", "in", "is")
    feat = staged_tokens(spark, sf_dir).select(
        "doc_id",
        "n_chars",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.size(F.filter(toks, lambda x: x.isin(*stop))).alias("n_stop"),
    )
    ntok = F.col("n_tokens").cast("double")
    feats = {
        "len_norm": F.least(ntok / 100.0, F.lit(1.0)),
        "ttr": F.col("n_distinct") / ntok,
        "stop_ratio": F.col("n_stop") / ntok,
        "mean_token_len": (F.col("n_chars") - (F.col("n_tokens") - 1)) / ntok,
    }
    score = F.col("wm")["bias"]
    for name in ("len_norm", "ttr", "stop_ratio", "mean_token_len"):
        score = score + F.col("wm")[name] * feats[name]
    return (feat.crossJoin(wm)
            .select("doc_id",
                    feats["ttr"].alias("ttr"),
                    feats["stop_ratio"].alias("stop_ratio"),
                    score.alias("score"),
                    (score > 0.0).alias("keep")))


_STOP_IN = ", ".join(f"'{s}'" for s in ("the", "a", "of", "and", "to", "in", "is"))

_QUALITY_CLASSIFIER_SQL = f"""
WITH w(feature, wt) AS (VALUES {", ".join(f"('{f}', {v})" for f, v in _CLS_WEIGHTS)}),
t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks,
         length(text) AS n_chars
  FROM documents),
f AS (
  SELECT doc_id, n_chars,
         len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_distinct,
         len(list_filter(toks, x -> x IN ({_STOP_IN}))) AS n_stop
  FROM t),
s AS (
  SELECT doc_id,
         n_distinct / CAST(n_tokens AS DOUBLE) AS ttr,
         n_stop / CAST(n_tokens AS DOUBLE) AS stop_ratio,
         (SELECT wt FROM w WHERE feature = 'bias')
         + (SELECT wt FROM w WHERE feature = 'len_norm')
           * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
         + (SELECT wt FROM w WHERE feature = 'ttr')
           * (n_distinct / CAST(n_tokens AS DOUBLE))
         + (SELECT wt FROM w WHERE feature = 'stop_ratio')
           * (n_stop / CAST(n_tokens AS DOUBLE))
         + (SELECT wt FROM w WHERE feature = 'mean_token_len')
           * ((n_chars - (n_tokens - 1)) / CAST(n_tokens AS DOUBLE)) AS score
  FROM f)
SELECT doc_id, ttr, stop_ratio, score, score > 0.0 AS keep FROM s
"""


# ---------------------------------------------------------------------------
# MMR diversity re-ranking (unrolled greedy, pure relational algebra)
# ---------------------------------------------------------------------------

#: MMR trade-off: score = _MMR_L * relevance - (1 - _MMR_L) * max
#: similarity to the already-selected set.
_MMR_L = 0.7
#: Candidate pool depth per query and number of greedy picks.
_MMR_C = 8
_MMR_K = 3


@staged("retrieval.mmr_pool")
def _mmr_pool(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """MMR's per-query candidate pools, (q_id, cand_id, rel, c_emb) for
    the top-C by cosine, and their pairwise sims (q_id, a_id, b_id,
    sim). STAGED: every unrolled greedy stage of q_mmr_rerank joins
    against both, and without pinning each reference would re-execute
    the FULL pool scan + scoring subtree (measured 15 re-scans of
    embeddings in the unpinned plan) — the one part of the query that
    is unbounded at 100 TB. Pinned state is C rows and C² sims per
    query."""
    from pyspark import StorageLevel

    from .similarity import _with_cosine
    emb = load_table(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < 4)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_emb")))
    pool = (emb.filter(F.col("vec_id") >= 4)
            .select(F.col("vec_id").alias("cand_id"),
                    F.col("embedding").alias("c_emb")))
    scored = _with_cosine(pool.crossJoin(F.broadcast(q)), "q_emb", "c_emb") \
        .withColumnRenamed("cosine", "rel")
    wq = W.partitionBy("q_id").orderBy(
        F.col("rel").desc_nulls_last(), "cand_id")
    cand = (scored.withColumn("rn", F.row_number().over(wq))
            .filter(F.col("rn") <= _MMR_C)
            .select("q_id", "cand_id", "rel", "c_emb")
            .persist(StorageLevel.MEMORY_AND_DISK))
    ca = cand.select("q_id", F.col("cand_id").alias("a_id"),
                     F.col("c_emb").alias("a_emb"))
    cb = cand.select("q_id", F.col("cand_id").alias("b_id"),
                     F.col("c_emb").alias("b_emb"))
    sims = (_with_cosine(
        ca.join(cb, "q_id").filter(F.col("a_id") != F.col("b_id")),
        "a_emb", "b_emb")
        .select("q_id", "a_id", "b_id", F.col("cosine").alias("sim"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    return cand, sims


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-rank of dense-retrieval results —
    the diversity-selection step of a training-data curation pipeline
    (pick examples that are relevant but not near-duplicates of each
    other). Queries are vec_ids 0-3; each retrieves its top-8 pool by
    cosine, then greedy MMR picks 3: pick #1 maximizes rel, pick #r
    maximizes 0.7*rel - 0.3*max(sim to picks 1..r-1), ties broken by
    cand_id. The greedy loop is UNROLLED into K-1 join+argmax stages
    of plain relational algebra — no kernel, no driver loop — which
    both engines evaluate with the shared sequential-fold cosine, so
    every score (and therefore every argmax) is bit-identical.

    Scale: all iteration state is bounded by the pool (C=8 rows and
    C² candidate-pair sims per query); the only unbounded relation is
    the initial scan, scored against a 4-row broadcast. With millions
    of queries the same plan holds — the per-query pools hash-shuffle
    on q_id once and every later stage joins within that key."""
    cand, sims = _mmr_pool(spark, sf_dir)
    cand = cand.select("q_id", "cand_id", "rel")

    def top1(df: DataFrame, score, pick: int) -> DataFrame:
        w = W.partitionBy("q_id").orderBy(
            score.desc_nulls_last(), "cand_id")
        return (df.withColumn("mmr_score", score)
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("q_id", F.lit(pick).alias("pick"),
                        "cand_id", "rel", "mmr_score"))

    def drop_pick_attach_sim(df: DataFrame, sel: DataFrame) -> DataFrame:
        """Remove the picked candidate from each query's pool and
        attach its similarity to every survivor (per-key equi-joins of
        C-bounded relations)."""
        s = sel.select(F.col("q_id").alias("s_qid"),
                       F.col("cand_id").alias("s_id"))
        sm = sims.select(F.col("q_id").alias("m_qid"), "a_id", "b_id", "sim")
        return (df.join(s, df["q_id"] == s["s_qid"])
                .filter(F.col("cand_id") != F.col("s_id"))
                .join(sm, (F.col("m_qid") == F.col("q_id"))
                      & (F.col("a_id") == F.col("cand_id"))
                      & (F.col("b_id") == F.col("s_id"))))

    sel1 = top1(cand, F.lit(_MMR_L) * F.col("rel"), 1)
    rem1 = (drop_pick_attach_sim(cand, sel1)
            .select("q_id", "cand_id", "rel", F.col("sim").alias("ms")))
    score2 = F.lit(_MMR_L) * F.col("rel") - F.lit(1 - _MMR_L) * F.col("ms")
    sel2 = top1(rem1, score2, 2)
    rem2 = (drop_pick_attach_sim(rem1, sel2)
            .select("q_id", "cand_id", "rel",
                    F.greatest("ms", "sim").alias("ms")))
    sel3 = top1(rem2, score2, 3)
    return sel1.unionByName(sel2).unionByName(sel3)


def _mmr_sql() -> str:
    from .similarity import _cosine_sql
    rel = _cosine_sql("q.q_emb", "p.c_emb")
    sim = _cosine_sql("a.c_emb", "b.c_emb")
    lam, mu = _MMR_L, 1 - _MMR_L
    return f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 4),
pool AS (
  SELECT vec_id AS cand_id, embedding AS c_emb FROM embeddings WHERE vec_id >= 4),
scored AS (
  SELECT q.q_id, p.cand_id, {rel} AS rel, p.c_emb
  FROM pool p CROSS JOIN q),
cand AS (
  SELECT q_id, cand_id, rel, c_emb FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
               ORDER BY rel DESC NULLS LAST, cand_id) AS rn
    FROM scored) WHERE rn <= {_MMR_C}),
sims AS (
  SELECT a.q_id, a.cand_id AS a_id, b.cand_id AS b_id, {sim} AS sim
  FROM cand a JOIN cand b
    ON a.q_id = b.q_id AND a.cand_id <> b.cand_id),
sel1 AS (
  SELECT q_id, 1 AS pick, cand_id, rel, {lam} * rel AS mmr_score FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
               ORDER BY rel DESC NULLS LAST, cand_id) AS rn
    FROM cand) WHERE rn = 1),
rem1 AS (
  SELECT c.q_id, c.cand_id, c.rel, s.sim AS ms
  FROM cand c
  JOIN sel1 ON c.q_id = sel1.q_id AND c.cand_id <> sel1.cand_id
  JOIN sims s ON s.q_id = c.q_id AND s.a_id = c.cand_id
             AND s.b_id = sel1.cand_id),
sel2 AS (
  SELECT q_id, 2 AS pick, cand_id, rel,
         {lam} * rel - {mu} * ms AS mmr_score FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
               ORDER BY {lam} * rel - {mu} * ms DESC NULLS LAST,
                        cand_id) AS rn
    FROM rem1) WHERE rn = 1),
rem2 AS (
  SELECT r.q_id, r.cand_id, r.rel, greatest(r.ms, s.sim) AS ms
  FROM rem1 r
  JOIN sel2 ON r.q_id = sel2.q_id AND r.cand_id <> sel2.cand_id
  JOIN sims s ON s.q_id = r.q_id AND s.a_id = r.cand_id
             AND s.b_id = sel2.cand_id),
sel3 AS (
  SELECT q_id, 3 AS pick, cand_id, rel,
         {lam} * rel - {mu} * ms AS mmr_score FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
               ORDER BY {lam} * rel - {mu} * ms DESC NULLS LAST,
                        cand_id) AS rn
    FROM rem2) WHERE rn = 1)
SELECT * FROM sel1
UNION ALL SELECT * FROM sel2
UNION ALL SELECT * FROM sel3
"""


QUERIES = {
    "bm25_topk": (q_bm25_topk, _bm25_sql()),
    "rrf_hybrid_topk": (q_rrf_hybrid_topk, _rrf_sql()),
    "quality_classifier": (q_quality_classifier, _QUALITY_CLASSIFIER_SQL),
    "mmr_rerank": (q_mmr_rerank, _mmr_sql()),
}
