"""Distributed BPE subword tokenizer: merge-table training from the
corpus word counts and row-local subword encoding of every document.

Beyond the reference (its only tokenization is display formatting —
SURVEY.md §2 has no text operators): real training pipelines count
TOKENS, not words, and the token count depends on a learned BPE merge
table (Sennrich et al. 2016 — the GPT/Llama tokenizer family). This
module trains one on the corpus and applies it.

Algorithm (the textbook word-frequency form):

1. the corpus collapses to a word-count table; the trainer consumes
   only the TOP `_BPE_TRAIN_TOP` words by count (ties by word) — a
   BOUNDED model artifact exactly like the DSIR hashed model or the
   quality-classifier weight table, and how SentencePiece/HF trainers
   actually ingest corpora (word counts, capped/sampled);
2. each word is marker-prefix encoded ("merge" -> "|m|e|r|g|e";
   pieces are [a-z0-9]+ so '|' never collides); one merge iteration =
   count-weighted adjacent-pair argmax (ties (total DESC, a, b)) and
   a plain string replace of "|a|b" with "|ab" — leftmost
   non-overlapping replacement on the marker encoding IS the greedy
   leftmost BPE merge, and `replace`/`str.replace` behave identically
   in Python, Spark and DuckDB, which is what makes the trainer
   oracle-checkable;
3. encoding applies the 8 learned merges as a nested-replace LITERAL
   chain inside `transform()` over each document's word array —
   entirely row-local whole-stage-codegen, ZERO shuffle, no joins:
   given the merge artifact, tokenization is embarrassingly parallel.

Scale shape: one vocab-sized aggregate (the only shuffle anywhere) +
a TakeOrdered cap for the trainer artifact + a pure map encode pass.
The DuckDB oracle re-derives the merges itself from the same capped
vocabulary via 8 unrolled CTE iterations and certifies the md5 of
every document's full piece sequence — the exact token stream, not
just its length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..staging import staged
from ..tables import load_table

_BPE_ITERS = 8
#: Trainer vocabulary cap — bounds the driver-side artifact the same
#: way DSIR's 4096-row hashed model does, regardless of corpus size.
_BPE_TRAIN_TOP = 4096


def _train_merges(wordcounts: list[tuple[str, int]]) -> list[tuple[str, str]]:
    """Greedy BPE merge learning over (word, count) pairs — pure
    integer counting, tiebreak (total DESC, a ASC, b ASC), identical
    to the oracle's unrolled CTE trainer."""
    syms = {w: "|" + "|".join(w) for w, _ in wordcounts}
    merges: list[tuple[str, str]] = []
    for _ in range(_BPE_ITERS):
        totals: dict[tuple[str, str], int] = {}
        for w, cnt in wordcounts:
            pieces = syms[w][1:].split("|")
            for a, b in zip(pieces, pieces[1:]):
                totals[(a, b)] = totals.get((a, b), 0) + cnt
        if not totals:
            break
        (a, b), _total = min(totals.items(),
                             key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        pat, rep = f"|{a}|{b}", f"|{a}{b}"
        merges.append((pat, rep))
        syms = {w: s.replace(pat, rep) for w, s in syms.items()}
    return merges


# Learned merges per (applicationId, sf_dir); training is
# deterministic so this is pure reuse.
@staged("bpe.merges")
def _merges_for(spark: SparkSession, sf_dir: str) -> list[tuple[str, str]]:
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode_outer(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("rw"))
        .select(F.regexp_replace("rw", "[^a-z0-9]", "").alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w").agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("w")).limit(_BPE_TRAIN_TOP))
    return _train_merges(
        [(r["w"], r["cnt"]) for r in words.collect()])


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document subword statistics under the corpus-trained BPE
    merge table: word count, PIECE count (the number a token-budget
    pipeline actually bills), and an md5 fingerprint of the full
    piece sequence. The piece count falls out of the marker encoding
    for free: every piece carries exactly one '|'. The whole encode
    is one scan-side projection — no explode, no join, no shuffle."""
    merges = _merges_for(spark, sf_dir)
    chain = "regexp_replace(x, '(.)', '|$1')"
    for pat, rep in merges:
        chain = f"replace({chain}, '{pat}', '{rep}')"
    words_arr = (
        "filter(transform(split(trim(lower(text)), '\\\\s+'), "
        "t -> regexp_replace(t, '[^a-z0-9]', '')), t -> t != '')")
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.expr(words_arr).alias("ws"))
        # no row filter: a doc with zero valid words emits (0, 0,
        # md5('')) — filtering on size(ws) would let predicate
        # pushdown substitute the whole transform chain into the
        # scan's DataFilters (the inferred-filter pathology pinned by
        # test_no_expensive_exprs_in_scan_filters)
        .select("doc_id",
                F.size("ws").cast("bigint").alias("n_words"),
                F.expr(f"array_join(transform(ws, x -> {chain}), '')")
                .alias("sstr"))
        .select("doc_id", "n_words",
                F.expr("CAST(length(sstr) - length(replace(sstr, '|', ''))"
                       " AS BIGINT)").alias("n_pieces"),
                F.md5("sstr").alias("pieces_fp")))


def _bpe_sql(final: str | None = None) -> str:
    parts = [r"""words AS MATERIALIZED (
  SELECT w, COUNT(*) AS cnt FROM (
    SELECT regexp_replace(u, '[^a-z0-9]', '', 'g') AS w
    FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS u
          FROM documents))
  WHERE w <> '' GROUP BY w),"""
             + f"""
wtop AS MATERIALIZED (
  SELECT w, cnt FROM words ORDER BY cnt DESC, w ASC LIMIT {_BPE_TRAIN_TOP}),"""
             + r"""
v0 AS MATERIALIZED (
  SELECT w, cnt, regexp_replace(w, '(.)', '|\1', 'g') AS syms
  FROM wtop)"""]
    for k in range(1, _BPE_ITERS + 1):
        parts.append(f"""p{k} AS MATERIALIZED (
  SELECT t.cnt,
         unnest(list_slice(t.p, 1, len(t.p) - 1)) AS a,
         unnest(list_slice(t.p, 2, len(t.p))) AS b
  FROM (SELECT cnt, string_split(substring(syms, 2), '|') AS p
        FROM v{k - 1}) t
  WHERE len(t.p) >= 2),
b{k} AS MATERIALIZED (
  SELECT '|' || a || '|' || b AS pat, '|' || a || b AS rep
  FROM (SELECT a, b, SUM(cnt) AS total FROM p{k} GROUP BY a, b)
  ORDER BY total DESC, a ASC, b ASC LIMIT 1),
v{k} AS MATERIALIZED (
  SELECT w, cnt,
         replace(syms, (SELECT pat FROM b{k}), (SELECT rep FROM b{k}))
           AS syms
  FROM v{k - 1})""")
    chain = r"regexp_replace(x, '(.)', '|\1', 'g')"
    for k in range(1, _BPE_ITERS + 1):
        chain = f"replace({chain}, b{k}.pat, b{k}.rep)"
    bs = ", ".join(f"b{k}" for k in range(1, _BPE_ITERS + 1))
    body = ",\n".join(parts)
    if final is None:
        final = """
SELECT doc_id, n_words,
       CAST(length(sstr) - length(replace(sstr, '|', '')) AS BIGINT)
         AS n_pieces,
       md5(sstr) AS pieces_fp
FROM encd"""
    return f"""
WITH {body},
docw AS MATERIALIZED (
  SELECT doc_id,
         list_filter(list_transform(
           string_split_regex(trim(lower(text)), '\\s+'),
           t -> regexp_replace(t, '[^a-z0-9]', '', 'g')),
           t -> t <> '') AS ws
  FROM documents),
encd AS MATERIALIZED (
  SELECT doc_id, len(ws) AS n_words,
         array_to_string(list_transform(ws, x -> {chain}), '') AS sstr
  FROM docw, {bs})
{final}
"""


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per language — pieces per word under the
    corpus-trained BPE merge table, the first number a multilingual
    tokenizer review reads (a language with fertility 2x the others
    pays 2x the context budget per word; cf. the XLM-R/BLOOM
    tokenizer-equity analyses, public). Composes q_bpe_encode's
    zero-shuffle per-doc counts with one lang-keyed aggregate;
    fertility = Σpieces/Σwords as a single division of exact integer
    sums (identical on both engines — sums are far below 2^53)."""
    enc = q_bpe_encode(spark, sf_dir).select(
        "doc_id", "n_words", "n_pieces")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return (enc.join(docs, "doc_id")
            .groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_words").alias("n_words"),
                 F.sum("n_pieces").alias("n_pieces"))
            .select("lang", "n_docs", "n_words", "n_pieces",
                    (F.col("n_pieces").cast("double")
                     / F.nullif(F.col("n_words").cast("double"),
                                F.lit(0.0))).alias("fertility"))
            .orderBy("lang"))


_FERTILITY_FINAL = """,
perdoc AS (
  SELECT doc_id, n_words,
         CAST(length(sstr) - length(replace(sstr, '|', '')) AS BIGINT)
           AS n_pieces
  FROM encd)
SELECT d.lang, COUNT(*) AS n_docs,
       CAST(SUM(p.n_words) AS BIGINT) AS n_words,
       CAST(SUM(p.n_pieces) AS BIGINT) AS n_pieces,
       CAST(CAST(SUM(p.n_pieces) AS BIGINT) AS DOUBLE)
         / nullif(CAST(CAST(SUM(p.n_words) AS BIGINT) AS DOUBLE), 0.0)
         AS fertility
FROM perdoc p JOIN documents d USING (doc_id)
GROUP BY d.lang
ORDER BY d.lang"""


QUERIES = {
    "bpe_encode": (q_bpe_encode, _bpe_sql()),
    "tokenizer_fertility": (q_tokenizer_fertility,
                            _bpe_sql(final=_FERTILITY_FINAL)),
}
