"""Similarity search over embedding columns (`embeddings.embedding:
array<float>`, 64-dim): brute-force cosine top-k as the exact baseline,
random-hyperplane LSH bucketing as the scale path, and per-label
centroids as the aggregate form.

Float determinism: all element arithmetic is done in DOUBLE with a
sequential left-to-right reduce on both engines (Spark
`aggregate(zip_with(...))` ≡ DuckDB `list_reduce(list_transform(...))`
— IEEE ops in the same order), so cosine values, and therefore top-k
cutoffs, are bit-identical to the oracle.

Scale notes: brute-force top-k against one query is a broadcast of the
query vector + a single TakeOrdered — linear scan, embarrassingly
parallel, the right baseline even at 10^9 vectors for one-off probes.
The LSH variant prunes to a bucket before scoring; for batch ANN
(many queries) the bucketed equi-join replaces the crossJoin.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..staging import staged
from ..tables import fan_out, iterate, load_table
from .dedup import _BUCKET_CAP

#: dot(a, b) with double casts and sequential summation (Spark SQL).
_DOT = ("aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")

def _dot_sql(a: str, b: str) -> str:
    """DuckDB mirror of :data:`_DOT` (1-based lists)."""
    return (f"list_reduce(list_transform(range(1, len({a}) + 1), "
            f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), "
            f"(acc, v) -> acc + v)")


def _with_cosine(df: DataFrame, a: str, b: str) -> DataFrame:
    dot = F.expr(_DOT.format(a=a, b=b))
    na = F.sqrt(F.expr(_DOT.format(a=a, b=a)))
    nb = F.sqrt(F.expr(_DOT.format(a=b, b=b)))
    return df.withColumn("cosine", dot / F.nullif(na * nb, F.lit(0.0)))


def _cosine_sql(a: str, b: str) -> str:
    return (f"{_dot_sql(a, b)} / nullif(sqrt({_dot_sql(a, a)}) * "
            f"sqrt({_dot_sql(b, b)}), 0.0)")


# ---------------------------------------------------------------------------
# Brute-force cosine top-k
# ---------------------------------------------------------------------------

def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 nearest neighbors of vec_id 0 by cosine. The query
    vector broadcasts; the scan is one pass, topped by
    TakeOrderedAndProject (no global sort)."""
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb"))
    cand = emb.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(query))
    return (
        _with_cosine(cand, "embedding", "q_emb")
        .select("vec_id", "label", "cosine")
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


_COSINE_TOPK_SQL = f"""
WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label,
       {_cosine_sql('embedding', 'q_emb')} AS cosine
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY cosine DESC, vec_id ASC
LIMIT 10
"""


def q_cosine_topk_numpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VECTORIZED form of q_cosine_topk — the kernel a 100 TB
    deployment actually runs: one Arrow-batched mapInPandas pass
    computing all cosines with a numpy matrix-vector product
    (~100× the per-element throughput of the interpreted fold), a
    TakeOrderedAndProject over the numpy scores for a 32-candidate
    shortlist, then an EXACT re-score of the shortlist with the same
    sequential-fold expression the exact query uses. numpy's pairwise
    summation orders float adds differently from the sequential fold
    (last-ulp drift, measured ≤1e-9), so the shortlist overfetches
    3×k and the final top-10 is ranked by the bit-exact fold — the
    candidate-overfetch + exact-re-rank shape every production ANN
    serving path uses (cf. bq_topk). That makes the output
    bit-identical to q_cosine_topk, so it carries the SAME full
    DuckDB oracle instead of the former rows-only registration.
    Scale shape: narrow map pass, broadcast query vector in the
    closure, top-32 TakeOrdered, 32-row exact re-rank — zero
    wide shuffles."""
    import numpy as np
    import pandas as pd  # noqa: F401 (schema of yielded frames)

    emb = load_table(spark, sf_dir, "embeddings")
    q_vec = np.array(
        emb.filter(F.col("vec_id") == 0).first()["embedding"],
        dtype=np.float64)

    def score(batches):
        for pdf in batches:
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            dots = mat @ q_vec
            nrm = np.linalg.norm(mat, axis=1) * np.linalg.norm(q_vec)
            yield pd.DataFrame({"vec_id": pdf["vec_id"],
                                "label": pdf["label"],
                                "embedding": pdf["embedding"],
                                "dot": dots, "nrm": nrm})

    # The division happens Spark-side through nullif so a zero-norm
    # vector yields NULL exactly like the exact kernel — a NaN from
    # numpy would sort FIRST under desc (Spark ranks NaN above any
    # double) where the baseline's NULL sorts last.
    shortlist = (
        emb.filter(F.col("vec_id") != 0)
        .select("vec_id", "label", "embedding")
        .mapInPandas(score,
                     schema="vec_id BIGINT, label INT, "
                            "embedding ARRAY<FLOAT>, "
                            "dot DOUBLE, nrm DOUBLE")
        .withColumn("cosine_np",
                    F.col("dot") / F.nullif(F.col("nrm"), F.lit(0.0)))
        .orderBy(F.desc("cosine_np"), F.asc("vec_id"))
        .limit(32)
    )
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb"))
    return (
        _with_cosine(shortlist.crossJoin(F.broadcast(query)),
                     "embedding", "q_emb")
        .select("vec_id", "label", "cosine")
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (random hyperplanes, deterministic)
# ---------------------------------------------------------------------------

_N_PLANES = 4
_DIM = 64  # embeddings.embedding is array<float>[64] (TESTDATA.md)


def _plane_weights(seed: str) -> list[float]:
    """±1 weight per dimension for one hyperplane, derived from
    md5(seed||'_'||dim) at PLAN-BUILD time (+1 iff the first hex digit
    is 0-7). Deterministic and engine-portable; materializing the
    weights as literal arrays keeps runtime free of per-element md5
    calls (measured: the interpreted md5-in-lambda form cost ~1 µs per
    element — dim × planes × rows of it)."""
    return [
        1.0 if hashlib.md5(f"{seed}_{i}".encode()).hexdigest()[0] in "01234567"
        else -1.0
        for i in range(_DIM)
    ]


def _proj_expr(emb_col: str, weights: list[float]) -> str:
    lits = ", ".join(f"CAST({w} AS DOUBLE)" for w in weights)
    return (f"aggregate(zip_with({emb_col}, array({lits}), "
            f"(x, w) -> CAST(x AS DOUBLE) * w), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")


def _proj_sql(emb_col: str, weights: list[float]) -> str:
    lits = ", ".join(f"CAST({w} AS DOUBLE)" for w in weights)
    return (f"list_reduce(list_transform(range(1, len({emb_col}) + 1), "
            f"i -> CAST({emb_col}[i] AS DOUBLE) * ([{lits}])[i]), "
            f"(acc, v) -> acc + v)")


def _bucket_expr(emb_col: str, table: str = "") -> str:
    """LSH bucket id: one sign bit per hyperplane; `table` prefixes the
    weight seeds so multi-table LSH draws independent plane sets."""
    bits = []
    for p in range(_N_PLANES):
        proj = _proj_expr(emb_col, _plane_weights(f"{table}{p}"))
        bits.append(f"(CASE WHEN ({proj}) > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(bits)


def _bucket_sql(emb_col: str, table: str = "") -> str:
    bits = []
    for p in range(_N_PLANES):
        proj = _proj_sql(emb_col, _plane_weights(f"{table}{p}"))
        bits.append(f"(CASE WHEN ({proj}) > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(bits)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors of vec_id 0: score only vectors in
    the query's hyperplane-sign bucket. Recall < 1 by design — the
    scale path that avoids scoring the whole corpus."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "bucket", F.expr(_bucket_expr("embedding")))
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb"), F.col("bucket").alias("q_bucket"))
    cand = (emb.crossJoin(F.broadcast(query))
            .filter((F.col("bucket") == F.col("q_bucket"))
                    & (F.col("vec_id") != 0)))
    return (
        _with_cosine(cand, "embedding", "q_emb")
        .select("vec_id", "label", "bucket", "cosine")
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(5)
    )


_ANN_LSH_SQL = f"""
WITH b AS (
  SELECT vec_id, label, embedding,
         {_bucket_sql('embedding')} AS bucket
  FROM embeddings),
q AS (SELECT embedding AS q_emb, bucket AS q_bucket FROM b WHERE vec_id = 0)
SELECT vec_id, label, bucket,
       {_cosine_sql('embedding', 'q_emb')} AS cosine
FROM b, q
WHERE bucket = q_bucket AND vec_id <> 0
ORDER BY cosine DESC, vec_id ASC
LIMIT 5
"""


# ---------------------------------------------------------------------------
# IVF-bucketed ANN (coarse quantizer = per-label centroids)
# ---------------------------------------------------------------------------

_IVF_NPROBE = 2


def _label_means(emb: DataFrame) -> DataFrame:
    """label → (centroid array<double>, n_dims): decimal-exact per-dim
    means computed as _DIM map-side-combinable SUM/COUNT aggregate
    PAIRS over the array elements — NO posexplode. The explode form
    shuffles dims × corpus rows on (label, dim); this form's shuffle
    carries only partial-aggregate rows (|partitions| × |labels|),
    which is the difference between a 64×-fan-out exchange and a
    near-free one at 10^9 vectors. Values are bit-identical to the
    explode form: same per-dim decimal sums, same per-dim non-null
    counts, same divide."""
    agg = emb.groupBy("label").agg(
        *[F.sum(F.col("embedding").getItem(i).cast("double")
                .cast("decimal(25,6)")).alias(f"s{i}") for i in range(_DIM)],
        *[F.count(F.col("embedding").getItem(i)).alias(f"c{i}")
          for i in range(_DIM)])
    return agg.select(
        "label",
        F.array(*[(F.col(f"s{i}").cast("double") / F.col(f"c{i}"))
                  for i in range(_DIM)]).alias("centroid"),
        F.lit(_DIM).cast("long").alias("n_dims"))


def _centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF codebook: mean embedding per label (decimal-exact per-dim
    means, identical arithmetic to q_label_centroids so both oracles
    share one definition). 10 labels → a broadcastable codebook; at
    scale the codebook is k-means-trained but the index structure —
    assign, invert, probe — is exactly this."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (_label_means(emb)
            .select(F.col("label").alias("clabel"), "centroid"))


_CENTROIDS_CTE = """
cdims AS (
  SELECT label, u.i - 1 AS dim, CAST(embedding[u.i] AS DOUBLE) AS x
  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) u),
cper_dim AS (
  SELECT label, dim,
         CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE) / COUNT(x) AS mean_x
  FROM cdims GROUP BY label, dim),
cents AS (
  SELECT label AS clabel, list(mean_x ORDER BY dim) AS centroid
  FROM cper_dim GROUP BY label)
"""


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5 neighbors of vec_id 0: every vector is
    assigned to its nearest codebook centroid (the inverted lists);
    the query probes its _IVF_NPROBE nearest lists and scores only
    their members exactly.

    Physical shape at scale: the codebook broadcasts; assignment is
    one map-side pass over the corpus (persisted as a partition column
    in a real deployment); a probe touches ~nprobe/k of the data.
    Recall < 1 by design; the oracle mirrors the same codebook and
    tie-breaks, so parity is exact."""
    emb = fan_out(spark, load_table(spark, sf_dir, "embeddings"))
    cents = _centroids(spark, sf_dir)
    cos_c = (F.expr(_DOT.format(a="embedding", b="centroid"))
             / F.nullif(
                 F.sqrt(F.expr(_DOT.format(a="embedding", b="embedding")))
                 * F.sqrt(F.expr(_DOT.format(a="centroid", b="centroid"))),
                 F.lit(0.0)))
    scored = (emb.crossJoin(F.broadcast(cents))
              .withColumn("cos_c", cos_c)
              .withColumn("rn", F.row_number().over(
                  W.partitionBy("vec_id")
                  .orderBy(F.desc("cos_c"), F.asc("clabel")))))
    assigned = scored.filter(F.col("rn") == 1).select(
        "vec_id", "label", "embedding", "clabel")
    probed = (scored.filter((F.col("vec_id") == 0) & (F.col("rn") <= _IVF_NPROBE))
              .select("clabel"))
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    cand = (assigned.join(F.broadcast(probed), "clabel")
            .filter(F.col("vec_id") != 0)
            .crossJoin(F.broadcast(q)))
    return (
        _with_cosine(cand, "embedding", "q_emb")
        .select("vec_id", "label", "clabel", "cosine")
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(5)
    )


_ANN_IVF_SQL = f"""
WITH {_CENTROIDS_CTE},
scored0 AS (
  SELECT e.vec_id, e.label, e.embedding, c.clabel,
         {_dot_sql('e.embedding', 'c.centroid')}
           / nullif(sqrt({_dot_sql('e.embedding', 'e.embedding')})
                    * sqrt({_dot_sql('c.centroid', 'c.centroid')}), 0.0) AS cos_c
  FROM embeddings e, cents c),
scored AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY cos_c DESC, clabel ASC) AS rn
  FROM scored0),
assigned AS (
  SELECT vec_id, label, embedding, clabel FROM scored WHERE rn = 1),
probed AS (
  SELECT clabel FROM scored WHERE vec_id = 0 AND rn <= {_IVF_NPROBE}),
q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
SELECT a.vec_id, a.label, a.clabel,
       {_cosine_sql('a.embedding', 'q_emb')} AS cosine
FROM assigned a JOIN probed p ON a.clabel = p.clabel, q
WHERE a.vec_id <> 0
ORDER BY cosine DESC, vec_id ASC
LIMIT 5
"""


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (multi-table LSH candidates + exact verify)
# ---------------------------------------------------------------------------

_ND_TABLES = 3
_ND_THRESHOLD = 0.4  # calibrated to the fixture corpus (max pairwise
                     # cosine ≈ 0.60; ≥0.4 yields ~920 true pairs at
                     # sf0.1) — a real near-dup sweep would use ≥0.95


def _norms_arrow(emb: DataFrame, id_alias: str, emb_alias: str,
                 nrm_alias: str, carry: tuple[str, ...] = ()) -> DataFrame:
    """(id, embedding-as-double[], norm) via ONE Arrow kernel that
    replays the interpreted fold bit-for-bit: products in float64
    (cast-then-multiply, exactly `transform(emb, CAST double)` /
    `zip_with` semantics), then a left-to-right accumulation ACROSS
    DIMENSIONS vectorized across rows — `acc = acc + P[:, i]` is the
    same IEEE add sequence per row as `aggregate(..., acc + v)`, so
    values (and the oracle hash) are unchanged. ~20× the throughput
    of the per-element interpreted lambda at the 10× fixture."""
    import numpy as np
    import pandas as pd

    carry_ddl = "".join(
        f", {c} {dict((f.name, f.dataType.simpleString()) for f in emb.schema)[c]}"
        for c in carry)
    schema = (f"{id_alias} long, {emb_alias} array<double>, "
              f"{nrm_alias} double{carry_ddl}")

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({
                    id_alias: pd.Series([], dtype="int64"),
                    emb_alias: pd.Series([], dtype="object"),
                    nrm_alias: pd.Series([], dtype="float64"),
                    **{c: pdf[c] for c in carry}})
                continue
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            sq = mat * mat
            acc = np.zeros(len(pdf), dtype=np.float64)
            for i in range(sq.shape[1]):
                acc = acc + sq[:, i]
            yield pd.DataFrame({id_alias: pdf["vec_id"].to_numpy(),
                                emb_alias: list(mat),
                                nrm_alias: np.sqrt(acc),
                                **{c: pdf[c].to_numpy() for c in carry}})

    return emb.select("vec_id", "embedding", *carry).mapInPandas(gen, schema)


def _assign_arrow(emb: DataFrame, cents: list) -> DataFrame:
    """(vec_id, clabel, emb double[], nrm) — norms + nearest-centroid
    assignment fused into one Arrow map pass. `cents` is the collected
    codebook as (clabel, centroid double[]) sorted by clabel.
    Replicates `row_number() OVER (ORDER BY cos_c DESC, clabel ASC)`:
    centroids are scanned in clabel order with a STRICT > improvement
    test, so ties keep the lowest clabel; a NaN cosine (zero norm)
    never wins, leaving the lowest clabel — exactly desc-NULLS-LAST.
    All folds are the exact left-to-right per-dimension form."""
    import numpy as np
    import pandas as pd

    schema = "vec_id long, clabel int, emb array<double>, nrm double"

    def gen(batches):
        cmat = [np.asarray(c, dtype=np.float64) for _, c in cents]
        labs = [int(lab) for lab, _ in cents]
        cnorms = []
        for c in cmat:
            acc = np.float64(0.0)
            for d in range(c.shape[0]):
                acc = acc + c[d] * c[d]
            cnorms.append(np.sqrt(acc))
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({
                    "vec_id": pd.Series([], dtype="int64"),
                    "clabel": pd.Series([], dtype="int32"),
                    "emb": pd.Series([], dtype="object"),
                    "nrm": pd.Series([], dtype="float64")})
                continue
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            sq = mat * mat
            acc = np.zeros(len(pdf), dtype=np.float64)
            for d in range(sq.shape[1]):
                acc = acc + sq[:, d]
            nrm = np.sqrt(acc)
            best_cos = np.full(len(pdf), -np.inf)
            best_lab = np.full(len(pdf), labs[0], dtype=np.int32)
            for lab, c, cn in zip(labs, cmat, cnorms):
                prod = mat * c[None, :]
                dot = np.zeros(len(pdf), dtype=np.float64)
                for d in range(prod.shape[1]):
                    dot = dot + prod[:, d]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = dot / (nrm * cn)
                better = cos > best_cos          # NaN compares False
                best_cos = np.where(better, cos, best_cos)
                best_lab = np.where(better, lab, best_lab).astype(np.int32)
            yield pd.DataFrame({"vec_id": pdf["vec_id"].to_numpy(),
                                "clabel": best_lab,
                                "emb": list(mat),
                                "nrm": nrm})

    return emb.select("vec_id", "embedding").mapInPandas(gen, schema)


def _nd_buckets(emb: DataFrame) -> DataFrame:
    """(vec_id, tbl, bucket) rows over the _ND_TABLES LSH tables —
    shared by the near-dup candidate generator and the bucket-health
    report so the two can never disagree about the bucketing."""
    return emb.select(
        "vec_id",
        F.explode(F.array(*[
            F.struct(F.lit(t).alias("tbl"),
                     F.expr(_bucket_expr("embedding", f"t{t}.")).alias("bucket"))
            for t in range(_ND_TABLES)])).alias("tb")
    ).select("vec_id", "tb.tbl", "tb.bucket")


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: candidates from 3
    independent LSH tables (4 hyperplanes each — a pair qualifies if it
    collides in ANY table, boosting recall multiplicatively), then
    exact cosine ≥ threshold on candidates only.

    Same candidate semantics as the MinHash path (dedup.py): bucket
    ids are MAP-SIDE literal-weight projections and candidates are
    in-bucket pairs under the first-cap-sorted-ids truncation — but
    both scoring and the cap run INSIDE the bucket group
    (`_bucket_verify`), so only threshold-clearing pairs ever become
    rows. Recall < 1 by design; the oracle mirrors the same tables,
    so parity is exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    # Verify WITHIN the bucket group (applyInPandas over (tbl,
    # bucket)): vectors shuffle ONCE (one row per (vector, table) —
    # corpus-sized, not candidate-sized), the ≤ cap² candidate pairs
    # of each bucket are scored in-memory by the exact-fold kernel,
    # and only pairs CLEARING the threshold materialize as rows. The
    # previous shape expanded every candidate pair into a row and
    # joined 64-double vectors onto both ends — 2 candidate-sized
    # vector joins plus a candidate-sized distinct (1.5 M pair rows at
    # the 10× fixture, ~3.5 s) that this eliminates (6.4 s → 2.4 s).
    # Dedup across tables happens on the SURVIVORS (dropDuplicates on
    # the pair key), which the true-duplicate rate bounds. The cap and
    # the fold order replicate capped_pair_expand + the interpreted
    # fold bit-for-bit, so the oracle is unchanged.
    # Buckets are computed on the KERNEL's double arrays (CAST is
    # exact, so the hyperplane signs — and the oracle — are
    # unchanged); fusing them here instead of joining `_nd_buckets`
    # back on vec_id removes a corpus-sized shuffle join.
    withv = _norms_arrow(fan_out(spark, emb), "vec_id", "emb", "nrm")
    tb = F.explode(F.array(*[
        F.struct(F.lit(t).alias("tbl"),
                 F.expr(_bucket_expr("emb", f"t{t}.")).alias("bucket"))
        for t in range(_ND_TABLES)])).alias("tb")
    bucketed = (withv.select("vec_id", "emb", "nrm", tb)
                .select("vec_id", "emb", "nrm", "tb.tbl", "tb.bucket"))
    return (
        _bucket_verify(bucketed, _ND_THRESHOLD)
        .dropDuplicates(["a_id", "b_id"])
        .orderBy("a_id", "b_id")
    )


def _group_pair_cosines(pdf):
    """Capped in-group exact pairwise cosines: first `_BUCKET_CAP`
    sorted ids (capped_pair_expand's truncation contract), products in
    float64, LEFT-TO-RIGHT per-dimension accumulation (bit-identical
    to the interpreted fold). Returns (ids, ii, jj, cos, den) for the
    upper-triangle pairs, or None for degenerate groups."""
    import numpy as np

    order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
    pdf = pdf.iloc[order[:_BUCKET_CAP]]
    n = len(pdf)
    if n < 2:
        return None
    mat = np.stack(pdf["emb"].to_numpy())
    nrm = pdf["nrm"].to_numpy()
    ids = pdf["vec_id"].to_numpy()
    ii, jj = np.triu_indices(n, k=1)
    prod = mat[ii] * mat[jj]
    acc = np.zeros(len(ii), dtype=np.float64)
    for d in range(prod.shape[1]):
        acc = acc + prod[:, d]
    den = nrm[ii] * nrm[jj]
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = acc / den
    return ids, ii, jj, cos, den


def _bucket_verify(bucketed: DataFrame, threshold: float,
                   group_cols=("tbl", "bucket")) -> DataFrame:
    """Exact-cosine verification inside each `group_cols` group.
    Input rows: (vec_id, *group_cols, emb: array<double>, nrm).
    Emits (a_id, b_id, cosine) for in-group pairs with cosine >=
    threshold. The cap bounds PAIR EXPANSION to O(cap * dim + cap²)
    per task; group materialization is NOT capped — applyInPandas
    hands the whole group to the kernel before the slice, so a
    degenerate bucket still costs O(occupancy * dim) transient memory
    in one task (acceptable: occupancy is bounded in expectation by
    the LSH plane count, and `q_lsh_bucket_health` is the alarm for
    when it isn't). Only pairs CLEARING the threshold ever
    materialize as rows."""
    import pandas as pd

    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        got = _group_pair_cosines(pdf)
        if got is None:
            return pd.DataFrame({"a_id": pd.Series([], dtype="int64"),
                                 "b_id": pd.Series([], dtype="int64"),
                                 "cosine": pd.Series([], dtype="float64")})
        ids, ii, jj, cos, den = got
        keep = (den != 0.0) & (cos >= threshold)
        return pd.DataFrame({"a_id": ids[ii][keep], "b_id": ids[jj][keep],
                             "cosine": cos[keep]})

    return (bucketed.groupBy(*group_cols)
            .applyInPandas(verify, "a_id long, b_id long, cosine double"))


def _bucket_topk(bucketed: DataFrame, k: int,
                 group_cols=("tbl", "bucket")) -> DataFrame:
    """Per-group DIRECTED top-k neighbor prune: for every capped group
    member, its k best in-group neighbors by (cosine DESC, b_id ASC).
    A neighbor in the GLOBAL top-k over all groups is necessarily in
    its group's top-k, so ranking the union of these prunes exactly —
    the shuffle after this carries O(k · members) rows instead of the
    full pair expansion. Cosines share `_group_pair_cosines`' exact
    fold, so downstream ranks match the interpreted form bit-for-bit."""
    import numpy as np
    import pandas as pd

    def topk(pdf: pd.DataFrame) -> pd.DataFrame:
        got = _group_pair_cosines(pdf)
        if got is None:
            return pd.DataFrame({"a_id": pd.Series([], dtype="int64"),
                                 "b_id": pd.Series([], dtype="int64"),
                                 "cosine": pd.Series([], dtype="float64")})
        ids, ii, jj, cos, den = got
        n = len(ids)
        full = np.full((n, n), -np.inf)
        cosm = np.where(den == 0.0, -np.inf, cos)
        full[ii, jj] = cosm
        full[jj, ii] = cosm
        a_out, b_out, c_out = [], [], []
        for a in range(n):
            row = full[a]
            take = np.lexsort((ids, -row))[:k]
            take = take[np.isfinite(row[take])]
            a_out.append(np.repeat(ids[a], len(take)))
            b_out.append(ids[take])
            c_out.append(row[take])
        return pd.DataFrame({"a_id": np.concatenate(a_out),
                             "b_id": np.concatenate(b_out),
                             "cosine": np.concatenate(c_out)})

    return (bucketed.groupBy(*group_cols)
            .applyInPandas(topk, "a_id long, b_id long, cosine double"))


_EMB_NEARDUP_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding,
         {", ".join(f"{_bucket_sql('embedding', f't{t}.')} AS bucket_{t}"
                    for t in range(_ND_TABLES))}
  FROM embeddings),
{", ".join(
    f"r{t} AS (SELECT vec_id, bucket_{t} AS bucket, "
    f"row_number() OVER (PARTITION BY bucket_{t} ORDER BY vec_id) AS rn "
    f"FROM b)"
    for t in range(_ND_TABLES))},
cand AS (
  SELECT DISTINCT a_id, b_id FROM (
    {" UNION ALL ".join(
        f"SELECT x.vec_id AS a_id, y.vec_id AS b_id "
        f"FROM r{t} x JOIN r{t} y ON x.bucket = y.bucket "
        f"AND x.vec_id < y.vec_id "
        f"WHERE x.rn <= {_BUCKET_CAP} AND y.rn <= {_BUCKET_CAP}"
        for t in range(_ND_TABLES))})),
n AS (
  SELECT vec_id, embedding,
         sqrt({_dot_sql('embedding', 'embedding')}) AS nrm
  FROM embeddings),
scored AS (
  SELECT a_id, b_id,
         {_dot_sql('ea.embedding', 'eb.embedding')}
           / nullif(ea.nrm * eb.nrm, 0.0) AS cosine
  FROM cand
  JOIN n ea ON ea.vec_id = a_id
  JOIN n eb ON eb.vec_id = b_id)
SELECT a_id, b_id, cosine FROM scored
WHERE cosine >= {_ND_THRESHOLD}
ORDER BY a_id, b_id
"""


# ---------------------------------------------------------------------------
# k-means Lloyd iteration (the codebook-training step IVF assumes)
# ---------------------------------------------------------------------------

def q_kmeans_lloyd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE Lloyd iteration of k-means over the embeddings, initialized
    from the label centroids — the training step the IVF docstring
    assumes ('at scale the codebook is k-means-trained'): assign every
    vector to its nearest centroid by cosine, then recompute each
    cluster's mean. Iterating this query to convergence IS k-means;
    one step is the oracle-checkable unit (floating-point assignment
    ties are broken by clabel, and the mean recompute uses the same
    decimal-exact arithmetic as `_label_means`, so Spark and DuckDB
    agree bit-for-bit).

    Scale shape: the codebook broadcasts (k rows); assignment is one
    map-side pass; the recompute is the posexplode-free per-cluster
    SUM/COUNT aggregation — one shuffle carrying only partial
    aggregates. Per-iteration cost at 10^9 vectors: one scan + one
    tiny exchange, the textbook distributed k-means step."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _centroids(spark, sf_dir)
    cos_c = (F.expr(_DOT.format(a="embedding", b="centroid"))
             / F.nullif(
                 F.sqrt(F.expr(_DOT.format(a="embedding", b="embedding")))
                 * F.sqrt(F.expr(_DOT.format(a="centroid", b="centroid"))),
                 F.lit(0.0)))
    assigned = (
        fan_out(spark, emb).crossJoin(F.broadcast(cents))
        .withColumn("cos_c", cos_c)
        .withColumn("rn", F.row_number().over(
            W.partitionBy("vec_id").orderBy(F.desc("cos_c"), F.asc("clabel"))))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", "clabel")
    )
    agg = assigned.groupBy("clabel").agg(
        F.count("*").alias("n_members"),
        *[F.sum(F.col("embedding").getItem(i).cast("double")
                .cast("decimal(25,6)")).alias(f"s{i}") for i in range(_DIM)],
        *[F.count(F.col("embedding").getItem(i)).alias(f"c{i}")
          for i in range(_DIM)])
    # Output as exploded scalar (clabel, dim, mean_x, n_members) rows:
    # array cells are unhashable for the driver's value compare, and
    # the explode runs on k·dim aggregated rows, never the corpus
    # (same contract as label_centroids).
    return (agg.select(
        "clabel", "n_members",
        F.posexplode(F.array(*[
            (F.col(f"s{i}").cast("double") / F.col(f"c{i}"))
            for i in range(_DIM)])).alias("dim", "mean_x"))
        .select("clabel", F.col("dim").cast("long").alias("dim"),
                "mean_x", "n_members")
        .orderBy("clabel", "dim"))


_KMEANS_STEP_SQL = f"""
WITH {_CENTROIDS_CTE},
scored0 AS (
  SELECT e.vec_id, e.embedding, c.clabel,
         {_dot_sql('e.embedding', 'c.centroid')}
           / nullif(sqrt({_dot_sql('e.embedding', 'e.embedding')})
                    * sqrt({_dot_sql('c.centroid', 'c.centroid')}), 0.0) AS cos_c
  FROM embeddings e, cents c),
assigned AS (
  SELECT vec_id, embedding, clabel FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cos_c DESC, clabel ASC) AS rn
    FROM scored0) WHERE rn = 1),
adims AS (
  SELECT clabel, u.i - 1 AS dim, CAST(embedding[u.i] AS DOUBLE) AS x
  FROM assigned, (SELECT unnest(range(1, 65)) AS i) u),
aper_dim AS (
  SELECT clabel, dim,
         CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE) / COUNT(x) AS mean_x
  FROM adims GROUP BY clabel, dim),
members AS (
  SELECT clabel, COUNT(*) AS n_members FROM assigned GROUP BY clabel)
SELECT p.clabel, p.dim, p.mean_x, m.n_members
FROM aper_dim p JOIN members m USING (clabel)
ORDER BY p.clabel, p.dim
"""


# ---------------------------------------------------------------------------
# Multi-iteration k-means training (the full codebook-training loop)
# ---------------------------------------------------------------------------

_KMEANS_ITERS = 3


def q_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE chained Lloyd iterations — the iterative codebook
    training kmeans_lloyd_step is the unit of, built by looping the
    step in the DRIVER while every iteration stays a distributed
    plan: assign (broadcast k-row codebook, map-side cosine, per-key
    argmin) then recompute (decimal-exact per-dim means over the RAW
    float embeddings — so exactness never decays across iterations;
    one partial-aggregate shuffle each).

    This is the canonical shape of iterative ML on Spark: the loop
    lives in the driver, the per-iteration state is a bytes-sized
    codebook, and the data is rescanned per iteration (a production
    run would .persist() the assignment input once). The oracle
    unrolls the same three iterations as generated CTEs, so the full
    trajectory — not just one step — is bit-exact against DuckDB.

    r11 recompute shape: the per-iteration mean recomputation runs as
    posexplode'd (clabel, dim, x) CELLS through one narrow
    map-side-combined groupBy(clabel, dim) — the embedding_dim_stats
    lesson — instead of a 129-expression groupBy(clabel) aggregate:
    the wide form fell out of whole-stage codegen AND its ~320
    Column objects per iteration made the eager analyzer re-walk a
    tree that grew by that much per iteration, so QUERY CONSTRUCTION
    alone cost 5.5-6.6 s of driver time (measured §1-style: build
    6.0 s / plan 0.17 s / execute 4.3 s). Each iteration's ~650-row
    per-dim aggregate is the loop state `iterate` freezes (the
    kcore/cc loop discipline — freezes the exact computed decimals,
    keeps the per-iteration plan constant); the means, the rebuilt
    centroid array (array_sort over (dim, mean) structs — exact), and
    n_members (count of dim-0/NULL-dim cells = one per assigned
    vector, including empty-embedding rows) all read those frozen
    sums, so every output double is bit-identical to the wide form
    (A/B-verified row-for-row at sf0.1 and vs the unchanged oracle).
    Measured: 10.6-12.2 s → 4.9-5.8 s."""
    # Norms hoisted OUT of the 10-way crossJoin: ‖e‖ is computed once
    # per vector (not once per (vector, label) pair) and ‖c‖ once per
    # codebook row. Identical subexpressions, identical values; ~3×
    # less fold work per assignment pass. (At fixture scale wall time
    # is stage-latency-bound — 6 serialized jobs — so this shows up
    # only at real vector counts, where per-pair folds dominate.)
    emb = fan_out(spark, load_table(spark, sf_dir, "embeddings")).withColumn(
        "e_nrm", F.sqrt(F.expr(_DOT.format(a="embedding", b="embedding"))))
    cents = _centroids(spark, sf_dir)
    cos_c = (F.expr(_DOT.format(a="embedding", b="centroid"))
             / F.nullif(F.col("e_nrm") * F.col("c_nrm"), F.lit(0.0)))

    def lloyd(_i, gb):
        codebook = cents if gb is None else (
            gb.filter(F.col("dim").isNotNull())
            .select("clabel", "dim",
                    (F.col("s").cast("double") / F.col("c")).alias("m"))
            .groupBy("clabel")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))),
                lambda t: t["m"]).alias("centroid")))
        cents_n = codebook.withColumn(
            "c_nrm", F.sqrt(F.expr(_DOT.format(a="centroid", b="centroid"))))
        assigned = (
            emb.crossJoin(F.broadcast(cents_n))
            .withColumn("cos_c", cos_c)
            .withColumn("rn", F.row_number().over(
                W.partitionBy("vec_id")
                .orderBy(F.desc("cos_c"), F.asc("clabel"))))
            .filter(F.col("rn") == 1)
            .select("vec_id", "embedding", "clabel"))
        cells = assigned.select(
            "clabel", F.posexplode_outer("embedding").alias("dim", "x"))
        return (cells.groupBy("clabel", "dim")
                .agg(F.count("*").alias("nr"),
                     F.sum(F.col("x").cast("double").cast("decimal(25,6)"))
                     .alias("s"),
                     F.count("x").alias("c")))

    gb, _ = iterate(spark, None, lloyd, rounds=_KMEANS_ITERS, narrow=False)
    # Exploded scalar output rows, same driver-hashable contract as
    # kmeans_lloyd_step / label_centroids. n_members and the per-dim
    # means both read the final frozen per-dim aggregate.
    # coalesce-with-0 restores the wide form's NOT NULL schema flags
    # (dim is post-filter non-null, n_members a non-empty group sum —
    # the 0 arms are unreachable; only nullability metadata changes).
    n_members = (gb.filter(F.col("dim").isNull() | (F.col("dim") == 0))
                 .groupBy("clabel")
                 .agg(F.coalesce(F.sum("nr"), F.lit(0).cast("long"))
                      .alias("n_members")))
    means = (gb.filter(F.col("dim").isNotNull())
             .select("clabel",
                     F.coalesce(F.col("dim"), F.lit(0)).cast("long")
                     .alias("dim"),
                     (F.col("s").cast("double") / F.col("c")).alias("mean_x")))
    return (means.join(F.broadcast(n_members), "clabel")
            .select("clabel", "dim", "mean_x", "n_members")
            .orderBy("clabel", "dim"))


def _kmeans_train_sql() -> str:
    """Unrolled _KMEANS_ITERS-iteration mirror of q_kmeans_train:
    cents0 = label means (shared _CENTROIDS_CTE), then per iteration
    the same scored/assigned/per-dim-mean CTE block with the previous
    iteration's centroids as the codebook."""
    parts = [_CENTROIDS_CTE.strip().rstrip(",")]
    prev = "cents"
    k = 0
    for k in range(1, _KMEANS_ITERS + 1):
        parts.append(f"""scored{k} AS (
  SELECT e.vec_id, e.embedding, c.clabel,
         {_dot_sql('e.embedding', 'c.centroid')}
           / nullif(sqrt({_dot_sql('e.embedding', 'e.embedding')})
                    * sqrt({_dot_sql('c.centroid', 'c.centroid')}), 0.0)
           AS cos_c
  FROM embeddings e, {prev} c),
assigned{k} AS (
  SELECT vec_id, embedding, clabel FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cos_c DESC, clabel ASC) AS rn
    FROM scored{k}) WHERE rn = 1),
adims{k} AS (
  SELECT clabel, u.i - 1 AS dim, CAST(embedding[u.i] AS DOUBLE) AS x
  FROM assigned{k}, (SELECT unnest(range(1, {_DIM + 1})) AS i) u),
aper{k} AS (
  SELECT clabel, dim,
         CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE) / COUNT(x) AS mean_x
  FROM adims{k} GROUP BY clabel, dim),
cents{k} AS (
  SELECT clabel, list(mean_x ORDER BY dim) AS centroid
  FROM aper{k} GROUP BY clabel)""")
        prev = f"cents{k}"
    body = ",\n".join(parts)
    return f"""
WITH {body},
membersK AS (
  SELECT clabel, COUNT(*) AS n_members FROM assigned{k} GROUP BY clabel)
SELECT p.clabel, p.dim, p.mean_x, m.n_members
FROM aper{k} p JOIN membersK m USING (clabel)
ORDER BY p.clabel, p.dim
"""


# ---------------------------------------------------------------------------
# Batch ANN: top-k in-bucket neighbors for EVERY vector
# ---------------------------------------------------------------------------

_BATCH_K = 3


def q_ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-3 neighbors for EVERY vector at once — the
    batch form of ANN the single-query `ann_lsh_topk` docstring
    promises: candidates from the 3 LSH tables' bucket co-membership
    (bounded pair expansion), exact cosine on candidates only, then a
    per-vector window rank. This is the retrieval shape dedup
    clustering and hard-negative mining actually run: one bucketed
    equi-join over the corpus, never a crossJoin.

    Scale shape: scoring happens INSIDE each (table, bucket) group
    (`_bucket_topk`: first-cap-sorted-ids truncation, exact fold) and
    each member keeps only its per-bucket top-k there — a global
    top-k neighbor is necessarily in its bucket's top-k, so ranking
    the pruned union is exact while the post-kernel shuffle carries
    O(k·corpus) rows, never the cap² pair expansion. Recall < 1 by
    design; the oracle mirrors buckets, cap, and tiebreaks, so parity
    is exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    # Score WITHIN the bucket group and prune to each member's
    # per-bucket top-k there (_bucket_topk): a global top-k neighbor
    # is necessarily in its bucket's top-k, so the global rank over
    # the pruned union is exact — and the shuffle after the kernel
    # carries O(k · corpus) rows, never the cap² pair expansion.
    # Buckets ride the norms kernel's double arrays (CAST-exact).
    withv = _norms_arrow(fan_out(spark, emb), "vec_id", "emb", "nrm")
    tb = F.explode(F.array(*[
        F.struct(F.lit(t).alias("tbl"),
                 F.expr(_bucket_expr("emb", f"t{t}.")).alias("bucket"))
        for t in range(_ND_TABLES)])).alias("tb")
    bucketed = (withv.select("vec_id", "emb", "nrm", tb)
                .select("vec_id", "emb", "nrm", "tb.tbl", "tb.bucket"))
    scored = (
        _bucket_topk(bucketed, _BATCH_K)
        # the same pair can surface from several LSH tables with the
        # same exact cosine — collapse before the global rank
        .dropDuplicates(["a_id", "b_id"])
        .withColumn("rnk", F.row_number().over(
            W.partitionBy("a_id").orderBy(F.desc("cosine"), F.asc("b_id"))))
    )
    return (scored.filter(F.col("rnk") <= _BATCH_K)
            .select(F.col("a_id").alias("vec_id"),
                    F.col("b_id").alias("neighbor_id"),
                    "cosine", F.col("rnk").alias("rank"))
            .orderBy("vec_id", "rank"))


def _batch_topk_sql() -> str:
    return f"""
WITH b AS (
  SELECT vec_id, embedding,
         {", ".join(f"{_bucket_sql('embedding', f't{t}.')} AS bucket_{t}"
                    for t in range(_ND_TABLES))}
  FROM embeddings),
{", ".join(
    f"r{t} AS (SELECT vec_id, bucket_{t} AS bucket, "
    f"row_number() OVER (PARTITION BY bucket_{t} ORDER BY vec_id) AS rn "
    f"FROM b)"
    for t in range(_ND_TABLES))},
und AS (
  SELECT DISTINCT a_id, b_id FROM (
    {" UNION ALL ".join(
        f"SELECT x.vec_id AS a_id, y.vec_id AS b_id "
        f"FROM r{t} x JOIN r{t} y ON x.bucket = y.bucket "
        f"AND x.vec_id < y.vec_id "
        f"WHERE x.rn <= {_BUCKET_CAP} AND y.rn <= {_BUCKET_CAP}"
        for t in range(_ND_TABLES))})),
cand AS (
  SELECT a_id, b_id FROM und
  UNION ALL
  SELECT b_id, a_id FROM und),
n AS (
  SELECT vec_id, embedding,
         sqrt({_dot_sql('embedding', 'embedding')}) AS nrm
  FROM embeddings),
scored AS (
  SELECT a_id, b_id,
         {_dot_sql('ea.embedding', 'eb.embedding')}
           / nullif(ea.nrm * eb.nrm, 0.0) AS cosine
  FROM cand
  JOIN n ea ON ea.vec_id = a_id
  JOIN n eb ON eb.vec_id = b_id
  -- zero-norm pairs have undefined cosine; the kernel drops them
  -- (den == 0 -> -inf, filtered), so the oracle must too — else
  -- NULL cosines rank NULLS-LAST into ranks <= k for vectors with
  -- fewer than k finite-cosine candidates
  WHERE ea.nrm * eb.nrm <> 0.0),
ranked AS (
  SELECT a_id, b_id, cosine,
         row_number() OVER (PARTITION BY a_id
                            ORDER BY cosine DESC, b_id ASC) AS rnk
  FROM scored)
SELECT a_id AS vec_id, b_id AS neighbor_id, cosine, rnk AS rank
FROM ranked WHERE rnk <= {_BATCH_K}
ORDER BY vec_id, rank
"""


# ---------------------------------------------------------------------------
# LSH index health: bucket occupancy + cap truncation, per table
# ---------------------------------------------------------------------------

def q_lsh_bucket_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Occupancy statistics of the 3 near-dup LSH tables: bucket
    count, max/mean occupancy, buckets over the pair-expansion cap,
    and the candidate pairs the cap would drop — the numbers an
    operator alarms on before trusting a near-dup sweep (at sf1.0
    these showed 48/48 buckets truncated under the fixed plane count;
    see SCALING.md). One groupBy(tbl, bucket) + one tiny re-agg; cost
    is the same map-side bucket pass the dedup itself pays."""
    emb = load_table(spark, sf_dir, "embeddings")
    per_bucket = (_nd_buckets(emb).groupBy("tbl", "bucket")
                  .agg(F.count("*").cast("long").alias("n")))
    # kept/n_truncated/dropped_pairs mirror capped_pair_expand's stats
    # arithmetic exactly (and the SQL oracle mirrors both) — grouped
    # per table here instead of globally.
    kept = F.least(F.col("n"), F.lit(_BUCKET_CAP).cast("long"))
    return (per_bucket
            .withColumn("kept", kept)
            .groupBy("tbl")
            .agg(F.count("*").alias("n_buckets"),
                 F.max("n").alias("max_occupancy"),
                 (F.sum("n") / F.count("*")).alias("mean_occupancy"),
                 F.sum((F.col("n") > _BUCKET_CAP).cast("long"))
                 .alias("n_truncated"),
                 F.sum(((F.col("n") * (F.col("n") - 1)
                         - F.col("kept") * (F.col("kept") - 1)) / F.lit(2))
                       .cast("long")).alias("dropped_pairs"))
            .orderBy("tbl"))


_LSH_HEALTH_SQL = f"""
WITH b AS (
  SELECT vec_id,
         {", ".join(f"{_bucket_sql('embedding', f't{t}.')} AS bucket_{t}"
                    for t in range(_ND_TABLES))}
  FROM embeddings),
long AS (
  {" UNION ALL ".join(f"SELECT {t} AS tbl, bucket_{t} AS bucket, vec_id FROM b"
                      for t in range(_ND_TABLES))}),
per_bucket AS (
  SELECT tbl, bucket, COUNT(*) AS n,
         LEAST(COUNT(*), {_BUCKET_CAP}) AS kept
  FROM long GROUP BY tbl, bucket)
SELECT tbl,
       COUNT(*) AS n_buckets,
       MAX(n) AS max_occupancy,
       CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mean_occupancy,
       CAST(SUM(CASE WHEN n > {_BUCKET_CAP} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_truncated,
       CAST(SUM((n * (n - 1) - kept * (kept - 1)) / 2) AS BIGINT)
         AS dropped_pairs
FROM per_bucket GROUP BY tbl ORDER BY tbl
"""


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup: cluster, then near-dup within clusters)
# ---------------------------------------------------------------------------

_SD_THRESHOLD = 0.4  # same calibration as _ND_THRESHOLD (fixture max
                     # within-cluster cosine ≈ 0.49; 0.4 marks the
                     # planted near-dup tail, ~1e-3 of cluster pairs)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public paper): assign every vector
    to its nearest k-means centroid, then search for near-duplicates
    ONLY within each cluster — pruning by semantics where MinHash/LSH
    prunes by hash. Decision per vector: `keep` = no in-cluster
    neighbor with smaller vec_id at cosine ≥ 0.5 (keep-lowest-id
    representative, the same convention as exact_dedup), plus the
    duplicate-neighbor count so downstream can weight instead of drop.
    (At the paper's operating point the threshold sits much nearer 1.0;
    0.4 matches this synthetic corpus's planted-similarity scale.)

    Scale shape: the codebook ships to every executor (k rows — the
    offline artifact) and assignment is ONE Arrow map pass fused with
    the norm computation (`_assign_arrow`) — at 10^9 vectors k is
    ~10^5 so mean cluster size stays ~10^4; the in-cluster verify runs
    inside the cluster group (`_bucket_verify`: first-cap-sorted-ids
    truncation, exact per-dimension fold, only threshold-clearing
    pairs materialize). Shuffles: codebook agg (tiny), the cluster
    groupBy, the dup-count agg, final join-back — no corpus × k
    fan-out, no per-vector rank window, no candidate-sized vector
    join. The assignment subtree feeds both the pair stage and the
    join-back — in this lazy one-shot form it plans twice; an
    iterative production deployment would persist `assigned` once, as
    it's also the k-means input."""
    emb = load_table(spark, sf_dir, "embeddings")
    # Assignment runs INSIDE the norms kernel against the collected
    # codebook (k rows — the offline artifact, see _pq_codebook):
    # per-centroid cosines use the same exact fold, the argmax
    # replicates row_number(desc cos_c, asc clabel), and the
    # crossJoin + per-vector rank window of the expression form —
    # a corpus × k fan-out plus a corpus-sized shuffle — disappear:
    # assignment is now genuinely the map-side pass the SemDeDup
    # deployment story promises.
    cents = sorted((r["clabel"], r["centroid"])
                   for r in _pq_codebook(spark, sf_dir).collect())
    assigned = _assign_arrow(fan_out(spark, emb), cents)
    dup_pairs = (_bucket_verify(assigned, _SD_THRESHOLD, ("clabel",))
                 .select("a_id", "b_id"))
    dup_of = dup_pairs.groupBy(F.col("b_id").alias("vec_id")).agg(
        F.count("*").cast("long").alias("n_dup_neighbors"))
    return (
        assigned.select("vec_id", "clabel").join(dup_of, "vec_id", "left")
        .select(
            "vec_id", "clabel",
            F.coalesce("n_dup_neighbors", F.lit(0).cast("long"))
            .alias("n_dup_neighbors"),
            F.col("n_dup_neighbors").isNull().alias("keep"))
        .orderBy("vec_id")
    )


_SEMANTIC_DEDUP_SQL = f"""
WITH {_CENTROIDS_CTE},
sscored AS (
  SELECT e.vec_id, e.embedding, c.clabel,
         {_dot_sql('e.embedding', 'c.centroid')}
           / nullif(sqrt({_dot_sql('e.embedding', 'e.embedding')})
                    * sqrt({_dot_sql('c.centroid', 'c.centroid')}), 0.0) AS cos_c
  FROM embeddings e, cents c),
sassigned AS (
  SELECT vec_id, clabel FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cos_c DESC, clabel ASC) AS rn
    FROM sscored) WHERE rn = 1),
sr AS (
  SELECT vec_id, clabel,
         row_number() OVER (PARTITION BY clabel ORDER BY vec_id) AS rn
  FROM sassigned),
spairs AS (
  SELECT x.vec_id AS a_id, y.vec_id AS b_id
  FROM sr x JOIN sr y ON x.clabel = y.clabel AND x.vec_id < y.vec_id
  WHERE x.rn <= {_BUCKET_CAP} AND y.rn <= {_BUCKET_CAP}),
sn AS (
  SELECT vec_id, embedding,
         sqrt({_dot_sql('embedding', 'embedding')}) AS nrm
  FROM embeddings),
sdup AS (
  SELECT b_id, COUNT(*) AS n_dup_neighbors FROM (
    SELECT p.a_id, p.b_id,
           {_dot_sql('ea.embedding', 'eb.embedding')}
             / nullif(ea.nrm * eb.nrm, 0.0) AS cosine
    FROM spairs p
    JOIN sn ea ON ea.vec_id = p.a_id
    JOIN sn eb ON eb.vec_id = p.b_id)
  WHERE cosine >= {_SD_THRESHOLD}
  GROUP BY b_id)
SELECT a.vec_id, a.clabel,
       COALESCE(d.n_dup_neighbors, 0) AS n_dup_neighbors,
       d.n_dup_neighbors IS NULL AS keep
FROM sassigned a LEFT JOIN sdup d ON d.b_id = a.vec_id
ORDER BY a.vec_id
"""


# ---------------------------------------------------------------------------
# Per-label centroids (array aggregation)
# ---------------------------------------------------------------------------

def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean embedding per label — the reduce side of k-means/IVF
    training. Computed as an array-column aggregation (`_label_means`):
    ONE shuffle carrying only map-side partial aggregates instead of a
    64×-row-fan-out exchange on (label, dim). The RESULT is then
    posexploded to scalar (label, dim, mean_x) rows — value-hashable
    for the driver's oracle compare (array cells are not), and the
    explode runs on k·dim rows (tiny), not the corpus. The oracle
    keeps the explode-first formulation — the decimal sums are
    order-independent, so values are bit-identical."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        _label_means(emb)
        .select("label", F.posexplode("centroid").alias("dim", "mean_x"))
        .select("label", F.col("dim").cast("long").alias("dim"), "mean_x")
        .orderBy("label", "dim")
    )


_LABEL_CENTROIDS_SQL = """
WITH dims AS (
  SELECT label, u.i - 1 AS dim, CAST(embedding[u.i] AS DOUBLE) AS x
  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) u)
SELECT label, dim,
       CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE) / COUNT(x) AS mean_x
FROM dims GROUP BY label, dim ORDER BY label, dim
"""


# ---------------------------------------------------------------------------
# ANN index quality: recall@k of the LSH path vs the exact scan
# ---------------------------------------------------------------------------

_RECALL_K = 5


def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the LSH-bucketed index against the exact
    brute-force top-5 — the evaluation loop every ANN deployment runs
    before trusting an index. One row: exact size, ANN candidate
    count, overlap, recall. Both rankings are bit-deterministic
    (sequential-reduce cosines, vec_id tiebreak), so the recall value
    is oracle-checkable, not just a rows-only smoke.

    Scale notes: the exact side is the one-query linear scan
    (broadcast + TakeOrdered); the ANN side prunes to one bucket. The
    final compare is a broadcast join of two k-row sets — at any
    corpus size the evaluation costs one extra scan, nothing more."""
    exact = (q_cosine_topk(spark, sf_dir).limit(_RECALL_K)
             .select("vec_id"))
    ann = (q_ann_lsh_topk(spark, sf_dir)
           .select(F.col("vec_id").alias("a_vec")))
    joined = exact.join(F.broadcast(ann),
                        exact.vec_id == F.col("a_vec"), "left")
    hits = joined.agg(
        F.count("vec_id").alias("n_exact"),
        F.count("a_vec").alias("n_overlap"))
    n_ann = ann.agg(F.count("*").alias("n_ann"))
    return (hits.join(F.broadcast(n_ann))
            .select("n_exact", "n_ann", "n_overlap",
                    (F.col("n_overlap") / F.lit(float(_RECALL_K)))
                    .alias("recall_at_5")))


_ANN_RECALL_SQL = f"""
WITH b AS (
  SELECT vec_id, label, embedding,
         {_bucket_sql('embedding')} AS bucket
  FROM embeddings),
q AS (SELECT embedding AS q_emb, bucket AS q_bucket FROM b WHERE vec_id = 0),
ann AS (
  SELECT vec_id, {_cosine_sql('embedding', 'q_emb')} AS cosine
  FROM b, q
  WHERE bucket = q_bucket AND vec_id <> 0
  ORDER BY cosine DESC, vec_id ASC LIMIT {_RECALL_K}),
exact AS (
  SELECT vec_id,
         {_cosine_sql('embedding', 'q_emb')} AS cosine
  FROM embeddings, q
  WHERE vec_id <> 0
  ORDER BY cosine DESC, vec_id ASC LIMIT {_RECALL_K})
SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
       (SELECT COUNT(*) FROM ann) AS n_ann,
       (SELECT COUNT(*) FROM exact JOIN ann USING (vec_id)) AS n_overlap,
       CAST((SELECT COUNT(*) FROM exact JOIN ann USING (vec_id)) AS DOUBLE)
         / {float(_RECALL_K)} AS recall_at_5
"""


# ---------------------------------------------------------------------------
# Product quantization (PQ encode + asymmetric-distance top-k)
# ---------------------------------------------------------------------------

_PQ_M = 8        # subspaces: 64 dims -> 8 slices of 8
_PQ_SUB = 8      # dims per subspace


def _pq_d2(vec: str, cent: str, s: int):
    """Squared L2 between subspace-s slices of `vec` and `cent`
    (columns), as a sequential double fold over the dim indices —
    bit-identical on both engines."""
    lo, hi = s * _PQ_SUB + 1, s * _PQ_SUB + _PQ_SUB
    return F.expr(
        f"aggregate(sequence({lo}, {hi}), CAST(0.0 AS DOUBLE), (acc, i) -> "
        f"acc + (CAST(element_at({vec}, i) AS DOUBLE) - element_at({cent}, i))"
        f" * (CAST(element_at({vec}, i) AS DOUBLE) - element_at({cent}, i)))")


def _pq_d2_sql(vec: str, cent: str, s: int) -> str:
    """DuckDB mirror of :func:`_pq_d2` (1-based lists)."""
    lo, hi = s * _PQ_SUB + 1, s * _PQ_SUB + _PQ_SUB
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range({lo}, {hi + 1}), i -> "
        f"(CAST({vec}[i] AS DOUBLE) - {cent}[i])"
        f" * (CAST({vec}[i] AS DOUBLE) - {cent}[i]))), (acc, v) -> acc + v)")


# Collected codebook rows keyed by (applicationId, sf_dir). The
# codebook is a static OFFLINE artifact in any real PQ deployment
# (trained once, stored next to the index); recomputing the 2 s
# label-means aggregate on every probe would be the anti-pattern.
# Values are the exact doubles of the one computation, so parity
# with the oracle (which derives the same codebook in SQL) holds.
@staged("similarity.pq_codebook")
def _pq_codebook_rows(spark: SparkSession, sf_dir: str) -> list:
    return _centroids(spark, sf_dir).collect()


def _pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.createDataFrame(_pq_codebook_rows(spark, sf_dir),
                                 "clabel int, centroid array<double>")


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: each 64-dim float vector compresses to
    8 one-byte codes (per-subspace argmin against a shared
    codebook — the label-centroid slices, so the codebook definition is
    the one `label_centroids` already proves bit-identical), and the
    query ranks by ASYMMETRIC distance: sum over subspaces of
    d2(query_slice, sub_centroid[code]) — never touching the original
    vectors at query time.

    Why it matters at 100 TB: 10^9 × 64 × 4 B of floats becomes 10^9 ×
    8 B of codes (32× smaller), and a probe is table lookups instead of
    float folds over raw vectors. Shape here: codebook (10 rows) and
    query (1 row) broadcast onto the scan; per-subspace argmins reduce
    the 10-way fanout in ONE partial-aggregatable groupBy via
    lexicographic struct-min (d2, label, query_d2) — the query-side
    distance rides along with the winning code, so no second join
    against a lookup table and no order-dependent float sum. A real
    deployment folds the literal codebook into the encode map pass and
    persists codes; the argmin/ADC arithmetic is exactly this.

    Approximate by design (quantization error); the oracle mirrors
    codebook, argmins, and the left-to-right 8-term ADC sum, so parity
    is exact."""
    emb = fan_out(spark, load_table(spark, sf_dir, "embeddings"))
    q = (load_table(spark, sf_dir, "embeddings")
         .filter(F.col("vec_id") == 0)
         .select(F.col("embedding").alias("q_emb")))
    # Query-side ADC lookup table: d2(q_slice, sub_centroid) depends
    # only on (subspace, codebook row), so it is computed ONCE on the
    # 10-row codebook frame — NOT per corpus row inside the crossJoin
    # (which would redo 10 q-folds per vector for zero benefit).
    # (Folding the codebook in as 640 literal-arithmetic chains was
    # measured 4x SLOWER here: the giant expression tree falls out of
    # whole-stage codegen into interpreted eval. The 10-row broadcast
    # crossJoin + partial-aggregated struct-min is the faster AND
    # AQE-friendly shape.)
    cents = (_pq_codebook(spark, sf_dir)
             .crossJoin(F.broadcast(q))
             .select("clabel", "centroid",
                     *[_pq_d2("q_emb", "centroid", s).alias(f"qd{s}")
                       for s in range(_PQ_M)]))
    j = emb.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(cents))
    aggs = [
        F.min(F.struct(
            _pq_d2("embedding", "centroid", s).alias("d"),
            F.col("clabel").alias("c"),
            F.col(f"qd{s}").alias("q"))).alias(f"m{s}")
        for s in range(_PQ_M)]
    enc = j.groupBy("vec_id", "label").agg(*aggs)
    adc = F.col("m0.q")
    for s in range(1, _PQ_M):
        adc = adc + F.col(f"m{s}.q")
    return (enc.select(
        "vec_id", "label",
        *[F.col(f"m{s}.c").alias(f"code{s}") for s in range(_PQ_M)],
        adc.alias("approx_d2"))
        .orderBy(F.asc("approx_d2"), F.asc("vec_id"))
        .limit(5))


_ANN_PQ_SQL = f"""
WITH {_CENTROIDS_CTE},
q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
j AS (
  SELECT e.vec_id, e.label, c.clabel,
         {", ".join(f"{_pq_d2_sql('e.embedding', 'c.centroid', s)} AS d{s}, "
                    f"{_pq_d2_sql('q_emb', 'c.centroid', s)} AS qd{s}"
                    for s in range(_PQ_M))}
  FROM embeddings e, cents c, q
  WHERE e.vec_id <> 0),
r AS (
  SELECT *,
         {", ".join(f"row_number() OVER (PARTITION BY vec_id "
                    f"ORDER BY d{s}, clabel) AS rn{s}"
                    for s in range(_PQ_M))}
  FROM j),
enc AS (
  SELECT vec_id, label,
         {", ".join(f"MAX(CASE WHEN rn{s} = 1 THEN clabel END) AS code{s}, "
                    f"MAX(CASE WHEN rn{s} = 1 THEN qd{s} END) AS q{s}"
                    for s in range(_PQ_M))}
  FROM r GROUP BY vec_id, label)
SELECT vec_id, label,
       {", ".join(f"code{s}" for s in range(_PQ_M))},
       {" + ".join(f"q{s}" for s in range(_PQ_M))} AS approx_d2
FROM enc
ORDER BY approx_d2 ASC, vec_id ASC
LIMIT 5
"""


def q_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 retrieval over SQ8 scalar-quantized embeddings — the
    faiss-style int8 compression path (4× smaller than float32, 8×
    smaller than the float64 compute form) that a 100 TB vector store
    keeps hot in memory: each vector stores one float scale
    (max|x|/127) plus int8 codes round(x/scale); search reconstructs
    code*scale on the fly and ranks by cosine against the
    FULL-PRECISION query (asymmetric distance, like ann_pq_topk but
    per-dimension instead of per-subspace — higher fidelity, lower
    compression).

    Everything is row-local codegen (quantize + reconstruct are array
    transforms over the scan; the 1-row query vector broadcasts) and
    the ranking is TakeOrderedAndProject — no shuffle anywhere. The
    quantizer is oracle-exact: max via a 0-init fold over abs values,
    round as floor(x/s + 0.5), reconstruction and the cosine's
    sequential index fold all IEEE-identical across engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb"))
    absmax = F.expr(
        "aggregate(embedding, CAST(0.0 AS DOUBLE), "
        "(acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE))))")
    base = (emb.filter(F.col("vec_id") != 0)
            .select("vec_id", "label", "embedding",
                    (absmax / 127.0).alias("scale")))
    recon = F.expr(
        "CASE WHEN scale = 0.0 THEN transform(embedding, x -> 0.0) "
        "ELSE transform(embedding, x -> "
        "CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS INT) * scale) "
        "END")
    cand = (base.withColumn("recon", recon)
            .crossJoin(F.broadcast(query)))
    return (_with_cosine(cand, "recon", "q_emb")
            .select("vec_id", "label", "scale",
                    F.col("cosine").alias("sq8_cosine"))
            .orderBy(F.desc("sq8_cosine"), F.asc("vec_id"))
            .limit(10))


_SQ8_TOPK_SQL = f"""
WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
base AS (
  SELECT vec_id, label, embedding,
         list_reduce(list_transform(embedding,
                                    x -> abs(CAST(x AS DOUBLE))),
                     (a, b) -> greatest(a, b)) / 127.0 AS scale
  FROM embeddings WHERE vec_id <> 0),
rec AS (
  SELECT vec_id, label, scale,
         CASE WHEN scale = 0.0 THEN list_transform(embedding, x -> 0.0)
              ELSE list_transform(embedding, x ->
                CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS INT)
                  * scale)
         END AS recon
  FROM base)
SELECT vec_id, label, scale,
       {_cosine_sql('recon', 'q_emb')} AS sq8_cosine
FROM rec, q
ORDER BY sq8_cosine DESC, vec_id ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Hard-negative mining (cross-label nearest neighbors)
# ---------------------------------------------------------------------------

#: Hard negatives kept per anchor.
_HNM_K = 2


def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 most-similar DIFFERENT-label vectors per anchor — the
    hard-negative mining pass a contrastive-training pipeline runs to
    upgrade random in-batch negatives. Candidates come from the same
    3-table LSH bucket co-membership as `ann_batch_topk` (bounded by
    the first-cap-sorted-ids truncation), labels filter BEFORE the
    cosine so only cross-label pairs are ever scored, and a per-anchor
    window rank keeps the 2 hardest. Recall < 1 by design (a hard
    negative outside every shared bucket is missed — at mining scale
    that is the accepted LSH trade); the oracle mirrors tables, cap,
    label filter, and tiebreaks, so parity is exact.

    Scale: bucket membership is map-side literal-weight projection;
    scoring, the label mask, and the per-member top-k prune all run
    INSIDE each (table, bucket) group (`_bucket_cross_topk`, the
    label-aware sibling of `_bucket_topk`) — so the post-kernel
    shuffle carries O(k · corpus) rows, never the cap² pair expansion
    (measured 4.5 s → kernel path at sf0.1 vs the previous wide
    candidate-join form)."""
    emb = load_table(spark, sf_dir, "embeddings")
    withv = _norms_arrow(fan_out(spark, emb), "vec_id", "emb", "nrm",
                         carry=("label",))
    tb = F.explode(F.array(*[
        F.struct(F.lit(t).alias("tbl"),
                 F.expr(_bucket_expr("emb", f"t{t}.")).alias("bucket"))
        for t in range(_ND_TABLES)])).alias("tb")
    bucketed = (withv.select("vec_id", "emb", "nrm", "label", tb)
                .select("vec_id", "emb", "nrm", "label",
                        "tb.tbl", "tb.bucket"))
    scored = (_bucket_cross_topk(bucketed, _HNM_K)
              .dropDuplicates(["a_id", "b_id"])
              .withColumn("rnk", F.row_number().over(
                  W.partitionBy("a_id").orderBy(
                      F.col("cosine").desc_nulls_last(), "b_id"))))
    return (scored.filter(F.col("rnk") <= _HNM_K)
            .select(F.col("a_id").alias("vec_id"),
                    F.col("a_label").alias("label"),
                    F.col("b_id").alias("neg_id"),
                    F.col("b_label").alias("neg_label"),
                    "cosine", F.col("rnk").alias("rank")))


def _bucket_cross_topk(bucketed: DataFrame, k: int) -> DataFrame:
    """Label-aware `_bucket_topk`: per capped group member, its k best
    DIFFERENT-label in-group neighbors by (cosine DESC, b_id ASC).
    Shares `_group_pair_cosines`' exact fold; same-label pairs are
    masked to −inf before the per-member selection, so the prune is
    exact for the downstream global cross-label rank (a global
    cross-label top-k neighbor shares a bucket and is therefore in
    that bucket's cross-label top-k)."""
    import numpy as np
    import pandas as pd

    empty = {"a_id": pd.Series([], dtype="int64"),
             "a_label": pd.Series([], dtype="int32"),
             "b_id": pd.Series([], dtype="int64"),
             "b_label": pd.Series([], dtype="int32"),
             "cosine": pd.Series([], dtype="float64")}

    def topk(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
        pdf = pdf.iloc[order[:_BUCKET_CAP]]
        got = _group_pair_cosines(pdf)
        if got is None:
            return pd.DataFrame(empty)
        ids, ii, jj, cos, den = got
        labels = pdf["label"].to_numpy()
        n = len(ids)
        full = np.full((n, n), -np.inf)
        cosm = np.where(den == 0.0, -np.inf, cos)
        full[ii, jj] = cosm
        full[jj, ii] = cosm
        full[labels[:, None] == labels[None, :]] = -np.inf
        a_out, al_out, b_out, bl_out, c_out = [], [], [], [], []
        for a in range(n):
            row = full[a]
            take = np.lexsort((ids, -row))[:k]
            take = take[np.isfinite(row[take])]
            a_out.append(np.repeat(ids[a], len(take)))
            al_out.append(np.repeat(labels[a], len(take)))
            b_out.append(ids[take])
            bl_out.append(labels[take])
            c_out.append(row[take])
        return pd.DataFrame({"a_id": np.concatenate(a_out),
                             "a_label": np.concatenate(al_out),
                             "b_id": np.concatenate(b_out),
                             "b_label": np.concatenate(bl_out),
                             "cosine": np.concatenate(c_out)})

    return (bucketed.groupBy("tbl", "bucket")
            .applyInPandas(
                topk, "a_id long, a_label int, b_id long, "
                      "b_label int, cosine double"))


def _hnm_sql() -> str:
    return f"""
WITH b AS (
  SELECT vec_id, embedding, label,
         {", ".join(f"{_bucket_sql('embedding', f't{t}.')} AS bucket_{t}"
                    for t in range(_ND_TABLES))}
  FROM embeddings),
{", ".join(
    f"r{t} AS (SELECT vec_id, bucket_{t} AS bucket, "
    f"row_number() OVER (PARTITION BY bucket_{t} ORDER BY vec_id) AS rn "
    f"FROM b)"
    for t in range(_ND_TABLES))},
cand AS (
  SELECT DISTINCT a_id, b_id FROM (
    {" UNION ALL ".join(
        f"SELECT x.vec_id AS a_id, y.vec_id AS b_id "
        f"FROM r{t} x JOIN r{t} y ON x.bucket = y.bucket "
        f"AND x.vec_id <> y.vec_id "
        f"WHERE x.rn <= {_BUCKET_CAP} AND y.rn <= {_BUCKET_CAP}"
        for t in range(_ND_TABLES))})),
scored AS (
  SELECT a_id, ea.label AS a_label, b_id, eb.label AS b_label,
         {_cosine_sql('ea.embedding', 'eb.embedding')} AS cosine
  FROM cand
  JOIN b ea ON ea.vec_id = a_id
  JOIN b eb ON eb.vec_id = b_id
  WHERE ea.label <> eb.label),
ranked AS (
  -- cosine IS NOT NULL: the Spark kernel (_bucket_cross_topk) drops
  -- non-finite similarities (zero-norm embeddings); exclude them
  -- here too so both engines emit the same row set when an anchor
  -- has fewer than k finite cross-label neighbors.
  SELECT a_id, a_label, b_id, b_label, cosine,
         row_number() OVER (PARTITION BY a_id
                            ORDER BY cosine DESC, b_id) AS rnk
  FROM scored WHERE cosine IS NOT NULL)
SELECT a_id AS vec_id, a_label AS label, b_id AS neg_id,
       b_label AS neg_label, cosine, rnk AS rank
FROM ranked WHERE rnk <= {_HNM_K}
"""


# ---------------------------------------------------------------------------
# Embedding whitening stats (per-dimension mean/variance)
# ---------------------------------------------------------------------------

def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean and population variance over the whole
    embedding corpus — the statistics every whitening / ABTT-style
    post-processing step (Mu & Viswanath 2018, public paper) computes
    before centering or scaling vectors, and the first QA table an
    embedding pipeline prints (a dead dimension has var ≈ 0; a
    mis-scaled encoder shows in the per-dim spread).

    Exactness: the per-dim SUM(x) / SUM(x²) pairs go through the
    decimal-exact quantization (the label_centroids discipline) so
    both engines sum order-free; mean/var derive from identical
    double expressions. Scale shape: posexplode to (dim, x) cells,
    then ONE map-side-combined groupBy(dim) — the narrow three-sum
    aggregate stays in whole-stage codegen, where the alternative
    129-column single-row aggregate falls out of codegen into
    interpreted eval (measured 3.1 s → 1.2 s at sf0.1; the same
    lesson as ann_pq_topk's literal-tree note in the verify skill).
    The shuffle carries 64 rows per task; a 10⁹-vector corpus costs
    one scan + a 64-key reduce."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = F.col("x").cast("double")
    cells = (fan_out(spark, emb)
             .select(F.posexplode_outer("embedding").alias("dim", "x"))
             .filter(F.col("x").isNotNull()))
    per_dim = cells.groupBy("dim").agg(
        F.count("*").alias("n_vecs"),
        F.sum(x.cast("decimal(25,6)")).cast("double").alias("sx"),
        F.sum((x * x).cast("decimal(25,6)")).cast("double").alias("sq"))
    mean = F.col("sx") / F.col("n_vecs")
    return (per_dim.select(
        F.col("dim").cast("long").alias("dim"),
        mean.alias("mean_x"),
        (F.col("sq") / F.col("n_vecs") - mean * mean).alias("var_x"),
        "n_vecs")
        .orderBy("dim"))


_DIM_STATS_SQL = f"""
WITH cells AS (
  SELECT u.i - 1 AS dim, CAST(embedding[u.i] AS DOUBLE) AS x
  FROM embeddings, (SELECT unnest(range(1, {_DIM} + 1)) AS i) u),
per_dim AS (
  -- COUNT(x) + WHERE x IS NOT NULL: count exactly the cells Spark's
  -- posexplode_outer + isNotNull filter keeps, so NULL elements or
  -- ragged (<{_DIM}-dim) vectors cannot diverge n_vecs/mean/var
  -- across engines (the range() cross join fabricates a row for
  -- every position regardless of array length).
  SELECT dim,
         COUNT(x) AS n_vecs,
         CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(x * x AS DECIMAL(25,6))) AS DOUBLE) AS sq
  FROM cells WHERE x IS NOT NULL GROUP BY dim)
SELECT dim,
       sx / n_vecs AS mean_x,
       sq / n_vecs - (sx / n_vecs) * (sx / n_vecs) AS var_x,
       n_vecs
FROM per_dim ORDER BY dim
"""


# ---------------------------------------------------------------------------
# Top principal direction via distributed power iteration
# ---------------------------------------------------------------------------

#: Fixed power-iteration count (like kmeans_train's bounded Lloyd
#: loop: the oracle-checkable unit is N exact steps, not "until
#: converged").
_PCA_ITERS = 3


def q_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant direction of the embedding corpus by _PCA_ITERS exact
    power-iteration steps on the (uncentered) Gram operator — the
    all-but-the-top component removal / dominant-direction diagnostic
    of Mu & Viswanath 2018 (public) runs exactly this: v ← Xᵀ(Xv),
    rescaled each step. Deterministic start v₀ = 1/8 per dim (1/√64,
    exactly representable). Rescaling uses the ∞-norm (v ← w/max|wⱼ|)
    instead of L2: MAX(ABS(·)) is order-free and bit-exact across
    engines, while an L2 norm would sum 64 unquantized squares in
    engine-dependent order. Output: 64 (dim, v_x) rows plus
    lambda_inf, the final growth factor max|wⱼ| (the ∞-norm
    eigenvalue estimate).

    Exactness: per step, sᵢ = x·v is the shared sequential _DOT fold;
    wⱼ = Σᵢ sᵢ·xᵢⱼ goes through decimal-exact sums, so w, the max,
    and the rescaled v are IDENTICAL doubles in both engines — the
    next step's literals start from the same bits. Scale shape: each
    step scores s = x·v map-side, posexplodes to (s, dim, x) cells,
    and reduces with ONE narrow map-side-combined groupBy(dim) sum
    (the 64-column single-row aggregate alternative falls out of
    whole-stage codegen — measured 6.0 s → 2.3 s for 3 steps at
    sf0.1); the 64-double carrier vector round-trips through the
    driver (bounded, like the PQ codebook), never the data. At 10⁹
    vectors: _PCA_ITERS scans, each with a 64-key reduce.

    No fan_out (r10): the per-row work here is one 64-step fold —
    microseconds — so a round-robin fan of the 2 k-row fixture to 32
    tasks costs more in exchange + per-task overhead than it
    parallelizes (measured: 0.7 s → 0.35 s per step without it). At
    scale the scan's own splits provide the parallelism fan_out
    exists to guarantee for CPU-heavy kernels.

    Driver-job overhead (r11; guide §5 — this query IS a driver-step
    loop, so its wall is job count × per-job cost, not data): the 3
    collect steps run as a narrow `iterate` loop, so with AQE off
    (legal here precisely because the steps execute inside the
    builder). The 64-row result frame is built as ONE partition in
    dim order with an in-partition sort — a global orderBy on it cost
    a range-sampling pass plus a 32-task parallelize scan (0.7 →
    0.17 s, identical rows and order).
    Combined same-session A/B: 2.2 → 1.4 s; rows bit-identical."""
    emb = load_table(spark, sf_dir, "embeddings")

    def power_step(_i, state):
        v, _lam = state
        varr = F.array(*[F.lit(float(c)) for c in v])
        s = F.expr(_DOT.format(a="embedding", b="varr"))
        scored = emb.withColumn("varr", varr).withColumn("s", s)
        rows = (scored
                .select("s", F.posexplode("embedding").alias("dim", "x"))
                .groupBy("dim")
                .agg(F.sum((F.col("s") * F.col("x").cast("double"))
                           .cast("decimal(25,6)"))
                     .cast("double").alias("w"))
                .collect())
        w_by_dim = {r["dim"]: r["w"] for r in rows}
        w = [w_by_dim[j] for j in range(_DIM)]
        lam = max(abs(c) for c in w)
        return [c / lam for c in w], lam

    (v, lam), _ = iterate(spark, ([0.125] * _DIM, None), power_step,
                          rounds=_PCA_ITERS, narrow=True)
    out = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(j, v[j], lam) for j in range(_DIM)], 1),
        "dim bigint, v_x double, lambda_inf double")
    # One partition built in dim order: the in-partition sort IS the
    # global order, with no range-sampling exchange.
    return out.sortWithinPartitions("dim")


def _pca_sql() -> str:
    dot_v = ("list_reduce(list_transform(range(1, len(embedding) + 1), "
             "i -> CAST(embedding[i] AS DOUBLE) * vl[i]), "
             "(acc, v) -> acc + v)")
    sql = f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
v0l AS (SELECT list_transform(range(0, {_DIM}), i -> 0.125) AS vl)"""
    prev = "v0l"
    for t in range(1, _PCA_ITERS + 1):
        sql += f""",
s{t} AS (
  SELECT vec_id, embedding, {dot_v} AS s FROM e, {prev}),
w{t} AS (
  SELECT u.i - 1 AS dim,
         CAST(SUM(CAST(s * CAST(embedding[u.i] AS DOUBLE)
                       AS DECIMAL(25,6))) AS DOUBLE) AS w
  FROM s{t}, (SELECT unnest(range(1, {_DIM} + 1)) AS i) u
  GROUP BY u.i),
m{t} AS (SELECT MAX(ABS(w)) AS m FROM w{t}),
v{t} AS (SELECT dim, w / m AS v FROM w{t}, m{t}),
v{t}l AS (SELECT list(v ORDER BY dim) AS vl FROM v{t})"""
        prev = f"v{t}l"
    last = _PCA_ITERS
    sql += f"""
SELECT v.dim, v.v AS v_x, m.m AS lambda_inf
FROM v{last} v, m{last} m
ORDER BY v.dim
"""
    return sql


# ---------------------------------------------------------------------------
# Binary (1-bit) quantization retrieval: Hamming pre-rank + exact re-rank
# ---------------------------------------------------------------------------

#: Hamming-candidate pool fed to the exact re-rank.
_BQ_POOL = 32


def _bq_codes():
    """Sign-bit packing of the 64-dim embedding into TWO 32-bit
    halves (code_lo = dims 0-31, code_hi = dims 32-63). Two halves,
    not one 64-bit word, on purpose: bit 63 would make the packed
    value negative, and BIGINT shift/overflow semantics at the sign
    bit differ between engines — 32 bits per word keeps every
    intermediate positive and arithmetic identical."""
    def half(lo: int) -> str:
        return (f"aggregate(sequence({lo}, {lo + 31}), 0L, (acc, i) -> "
                f"acc + IF(embedding[i] > 0, shiftleft(1L, i - {lo}), 0L))")
    return F.expr(half(0)).alias("code_lo"), F.expr(half(32)).alias("code_hi")


def _bq_codes_sql(prefix: str) -> str:
    def half(lo: int) -> str:
        return (f"list_reduce(list_transform(range({lo + 1}, {lo + 33}), "
                f"i -> CASE WHEN {prefix}embedding[i] > 0 "
                f"THEN (CAST(1 AS BIGINT) << (i - {lo + 1})) "
                f"ELSE CAST(0 AS BIGINT) END), (acc, v) -> acc + v)")
    return half(0), half(32)


def q_bq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization retrieval (the 1-bit/RaBitQ-style scale
    path modern vector stores ship next to SQ8/PQ): every embedding
    collapses to its 64 SIGN BITS — a 32× compression — packed into
    two 32-bit integer words; candidates are pre-ranked by Hamming
    distance to the query's code (bit_count of XOR, pure integer,
    bit-identical across engines), the top-_BQ_POOL pool is re-ranked
    by EXACT cosine (the shared sequential fold), top-10 out.

    Scale shape: the code table is 16 bytes/vector — a 10⁹-vector
    index fits in 16 GB and scans at memory bandwidth; the Hamming
    pass is codegen integer ops + TakeOrdered (no global sort), and
    the expensive float fold touches only _BQ_POOL rows. Recall is
    pinned against the exact scan in test_invariants (like sq8).

    Exactness: Hamming and the pool cut are integers with a vec_id
    tiebreak; the re-rank cosine is the engine-shared fold — every
    stage deterministic, full value oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    lo, hi = _bq_codes()
    coded = emb.select("vec_id", "label", "embedding", lo, hi)
    query = (coded.filter(F.col("vec_id") == 0)
             .select(F.col("embedding").alias("q_emb"),
                     F.col("code_lo").alias("q_lo"),
                     F.col("code_hi").alias("q_hi")))
    ham = (F.bit_count(F.col("code_lo").bitwiseXOR(F.col("q_lo")))
           + F.bit_count(F.col("code_hi").bitwiseXOR(F.col("q_hi"))))
    pool = (coded.filter(F.col("vec_id") != 0)
            .crossJoin(F.broadcast(query))
            .withColumn("hamming", ham.cast("int"))
            .orderBy(F.asc("hamming"), F.asc("vec_id"))
            .limit(_BQ_POOL))
    return (_with_cosine(pool, "embedding", "q_emb")
            .select("vec_id", "label", "hamming", "cosine")
            .orderBy(F.desc("cosine"), F.asc("vec_id"))
            .limit(10))


def _bq_sql() -> str:
    lo, hi = _bq_codes_sql("e.")
    qlo, qhi = _bq_codes_sql("q.")
    return f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
pool AS (
  SELECT e.vec_id, e.label, e.embedding, q.embedding AS q_emb,
         CAST(bit_count(xor({lo}, {qlo}))
              + bit_count(xor({hi}, {qhi})) AS INTEGER) AS hamming
  FROM embeddings e, q
  WHERE e.vec_id <> 0
  ORDER BY hamming ASC, e.vec_id ASC
  LIMIT {_BQ_POOL})
SELECT vec_id, label, hamming,
       {_cosine_sql('embedding', 'q_emb')} AS cosine
FROM pool
ORDER BY cosine DESC, vec_id ASC
LIMIT 10
"""


def q_bq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the 1-bit BQ index against the exact brute-force
    top-10 — the q_ann_recall_eval loop pointed at the quantized
    index (the number a team checks before trading 32× compression
    for it). One row: exact size, BQ result count, overlap, recall.
    Every stage of both rankings is deterministic (integer Hamming,
    vec_id tiebreaks, sequential-fold cosines), so recall carries a
    full value oracle — the stronger form of the local recall
    invariant in tests/test_invariants.py."""
    exact = q_cosine_topk(spark, sf_dir).select("vec_id")
    bq = q_bq_topk(spark, sf_dir).select(F.col("vec_id").alias("b_vec"))
    joined = exact.join(F.broadcast(bq),
                        exact.vec_id == F.col("b_vec"), "left")
    hits = joined.agg(
        F.count("vec_id").alias("n_exact"),
        F.count("b_vec").alias("n_overlap"))
    n_bq = bq.agg(F.count("*").alias("n_bq"))
    return (hits.join(F.broadcast(n_bq))
            .select("n_exact", "n_bq", "n_overlap",
                    (F.col("n_overlap") / F.lit(10.0))
                    .alias("recall_at_10")))


def _bq_recall_sql() -> str:
    lo, hi = _bq_codes_sql("e.")
    qlo, qhi = _bq_codes_sql("q.")
    return f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
pool AS (
  SELECT e.vec_id, e.embedding, q.embedding AS q_emb,
         CAST(bit_count(xor({lo}, {qlo}))
              + bit_count(xor({hi}, {qhi})) AS INTEGER) AS hamming
  FROM embeddings e, q
  WHERE e.vec_id <> 0
  ORDER BY hamming ASC, e.vec_id ASC
  LIMIT {_BQ_POOL}),
bq AS (
  SELECT vec_id FROM (
    SELECT vec_id, {_cosine_sql('embedding', 'q_emb')} AS cosine
    FROM pool)
  ORDER BY cosine DESC, vec_id ASC LIMIT 10),
exact AS (
  SELECT vec_id FROM (
    SELECT e.vec_id, {_cosine_sql('e.embedding', 'q.embedding')} AS cosine
    FROM embeddings e, q WHERE e.vec_id <> 0)
  ORDER BY cosine DESC, vec_id ASC LIMIT 10)
SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
       (SELECT COUNT(*) FROM bq) AS n_bq,
       (SELECT COUNT(*) FROM exact JOIN bq USING (vec_id)) AS n_overlap,
       CAST((SELECT COUNT(*) FROM exact JOIN bq USING (vec_id)) AS DOUBLE)
         / 10.0 AS recall_at_10
"""


QUERIES = {
    "embedding_dim_stats": (q_embedding_dim_stats, _DIM_STATS_SQL),
    "bq_recall_eval": (q_bq_recall_eval, _bq_recall_sql()),
    "pca_power_iteration": (q_pca_power_iteration, _pca_sql()),
    "cosine_topk": (q_cosine_topk, _COSINE_TOPK_SQL),
    "hard_negative_mining": (q_hard_negative_mining, _hnm_sql()),
    "sq8_topk": (q_sq8_topk, _SQ8_TOPK_SQL),
    "bq_topk": (q_bq_topk, _bq_sql()),
    # numpy kernel: no value oracle by design (pairwise vs sequential
    # float summation); invariant-tested against cosine_topk instead.
    # Bit-identical to cosine_topk (exact re-rank of the numpy
    # shortlist), so it shares the exact query's oracle.
    "cosine_topk_numpy": (q_cosine_topk_numpy, _COSINE_TOPK_SQL),
    "ann_recall_eval": (q_ann_recall_eval, _ANN_RECALL_SQL),
    "ann_lsh_topk": (q_ann_lsh_topk, _ANN_LSH_SQL),
    "ann_batch_topk": (q_ann_batch_topk, _batch_topk_sql()),
    "ann_ivf_topk": (q_ann_ivf_topk, _ANN_IVF_SQL),
    "ann_pq_topk": (q_ann_pq_topk, _ANN_PQ_SQL),
    "kmeans_lloyd_step": (q_kmeans_lloyd_step, _KMEANS_STEP_SQL),
    "kmeans_train": (q_kmeans_train, _kmeans_train_sql()),
    "embedding_neardup": (q_embedding_neardup, _EMB_NEARDUP_SQL),
    "semantic_dedup": (q_semantic_dedup, _SEMANTIC_DEDUP_SQL),
    "lsh_bucket_health": (q_lsh_bucket_health, _LSH_HEALTH_SQL),
    "label_centroids": (q_label_centroids, _LABEL_CENTROIDS_SQL),
}
