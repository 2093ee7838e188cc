"""Text-analysis operators for training-data pipelines over the
`documents` table: token counting, quality scoring, language-ID
heuristic, document fingerprinting.

All pure `pyspark.sql.functions` expressions — whole-stage codegen,
no UDFs — with exact DuckDB mirrors. Tokenization contract shared with
dedup.py: trim, lower, split on \\s+.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..staging import staged
from ..tables import load_table

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")
_STOP_IN = ", ".join(f"'{s}'" for s in _STOPWORDS)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


@staged("text.tokens")
def staged_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, toks, n_chars) — the normalized token array for
    every document, STAGED: persisted MEMORY_AND_DISK once per
    (SparkContext, sf_dir), the tokenization twin of dedup._shingled.

    Staging rationale: the interpreted `split(trim(lower(text)))`
    tokenizer is the dominant cost of the lexical family, and Spark
    does not dedupe common plan subtrees — BM25 alone evaluates its
    feature subtree twice (corpus-stats agg + scoring scan), and the
    retrieval suite (bm25_topk, rrf_hybrid_topk, quality_classifier)
    re-tokenizes the same corpus five times per bench pass without
    this stage. A 100 TB deployment tokenizes the corpus ONCE into a
    staging store and runs every lexical sweep off it; persist() is
    local-mode's equivalent. Cache key includes applicationId so a
    new SparkContext never sees a stale handle.

    fan_out before the tokenizer: the per-row kernel is CPU-bound and
    a single-file fixture scan would otherwise pin it to 1-2 tasks;
    at scale the scan is already wide and fan_out is a no-op."""
    from pyspark import StorageLevel

    from ..tables import fan_out

    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    corpus = (
        fan_out(spark, _docs(spark, sf_dir))
        .select("doc_id", "lang", toks.alias("toks"),
                F.length("text").alias("n_chars"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return corpus


# ---------------------------------------------------------------------------
# Token counting
# ---------------------------------------------------------------------------

def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens + a BPE-ish subword estimate: ceil(chars/4)
    per token, the standard ~4-chars-per-token heuristic."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return docs.select(
        "doc_id", "lang",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars_measured"),
        F.expr(
            "aggregate(split(trim(text), '\\\\s+'), CAST(0 AS BIGINT), "
            "(acc, t) -> acc + CAST(ceil(length(t) / 4.0) AS BIGINT))"
        ).alias("n_subword_est"),
    )


_TOKEN_COUNT_SQL = """
SELECT doc_id, lang,
       len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
       length(text) AS n_chars_measured,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
         list_transform(string_split_regex(trim(text), '\\s+'),
                        t -> CAST(ceil(length(t) / 4.0) AS BIGINT))),
         (acc, v) -> acc + v) AS n_subword_est
FROM documents
"""


# ---------------------------------------------------------------------------
# Quality scoring
# ---------------------------------------------------------------------------

def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: length band, mean token length,
    stopword ratio — the C4/Gopher-style cheap filters. score ∈ [0,1],
    deterministic double arithmetic mirrored in the oracle."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    docs = docs.select(
        "doc_id", "lang",
        F.length("text").alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))).alias("n_stop"),
    )
    mean_tok = (F.col("n_chars") - (F.col("n_tokens") - 1)) / F.nullif(
        F.col("n_tokens").cast("double"), F.lit(0.0))
    stop_ratio = F.col("n_stop") / F.nullif(F.col("n_tokens").cast("double"),
                                            F.lit(0.0))
    len_score = F.least(F.col("n_tokens").cast("double") / 50.0, F.lit(1.0))
    tok_score = F.when((mean_tok >= 3.0) & (mean_tok <= 10.0), 1.0).otherwise(0.5)
    stop_score = F.least(stop_ratio * 5.0, F.lit(1.0))
    return docs.select(
        "doc_id", "lang", "n_tokens", "n_stop",
        mean_tok.alias("mean_token_len"),
        stop_ratio.alias("stopword_ratio"),
        ((len_score * 0.4) + (tok_score * 0.3) + (stop_score * 0.3))
        .alias("quality_score"),
    )


_QUALITY_SCORE_SQL = f"""
WITH t AS (
  SELECT doc_id, lang,
         length(text) AS n_chars,
         len(string_split_regex(trim(lower(text)), '\\s+')) AS n_tokens,
         len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                         t -> t IN ({_STOP_IN}))) AS n_stop
  FROM documents)
SELECT doc_id, lang, n_tokens, n_stop,
       (n_chars - (n_tokens - 1)) / nullif(CAST(n_tokens AS DOUBLE), 0.0)
         AS mean_token_len,
       n_stop / nullif(CAST(n_tokens AS DOUBLE), 0.0) AS stopword_ratio,
       (least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.4)
         + (CASE WHEN (n_chars - (n_tokens - 1))
                      / nullif(CAST(n_tokens AS DOUBLE), 0.0) >= 3.0
                 AND (n_chars - (n_tokens - 1))
                      / nullif(CAST(n_tokens AS DOUBLE), 0.0) <= 10.0
            THEN 1.0 ELSE 0.5 END * 0.3)
         + (least(n_stop / nullif(CAST(n_tokens AS DOUBLE), 0.0) * 5.0, 1.0) * 0.3)
         AS quality_score
FROM t
"""


# ---------------------------------------------------------------------------
# Language-ID heuristic
# ---------------------------------------------------------------------------

_LANG_MARKERS = {
    "en": (" the ", " and ", " is "),
    "es": (" el ", " la ", " los "),
    "fr": (" le ", " les ", " des "),
    "de": (" der ", " und ", " die "),
    "zh": ("的", "是", "了"),
}


def _marker_count(text_col, marker: str):
    # occurrences = (len(s) - len(replace(s, m, ''))) / len(m)
    return ((F.length(text_col)
             - F.length(F.replace(text_col, F.lit(marker), F.lit(""))))
            / F.lit(len(marker))).cast("long")


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-n-gram language scores + argmax prediction (deterministic
    tie-break by the fixed language order). The synthetic corpus is one
    shared vocabulary, so predictions mostly collapse to the tie-break
    — the operator's semantics (scoring + argmax plumbing), not its
    accuracy, is what the oracle checks."""
    docs = _docs(spark, sf_dir)
    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    scored = docs.select(
        "doc_id", "lang",
        *[sum(_marker_count(padded, m) for m in markers).alias(f"score_{lang}")
          for lang, markers in _LANG_MARKERS.items()])
    best = F.greatest(*[F.col(f"score_{lang}") for lang in _LANG_MARKERS])
    pred = F.lit(None).cast("string")
    chain = None
    for lang in _LANG_MARKERS:  # first max wins (insertion order)
        cond = F.col(f"score_{lang}") == best
        chain = F.when(cond, lang) if chain is None else chain.when(cond, lang)
    return scored.select(
        "doc_id", "lang", *[f"score_{lang}" for lang in _LANG_MARKERS],
        chain.alias("predicted_lang"),
    ).withColumn("match", F.col("predicted_lang") == F.col("lang"))


def _marker_count_sql(expr: str, marker: str) -> str:
    m = marker.replace("'", "''")
    return (f"CAST((length({expr}) - length(replace({expr}, '{m}', '')))"
            f" // {len(marker)} AS BIGINT)")


def _lang_id_sql() -> str:
    padded = "(' ' || lower(text) || ' ')"
    score_cols = []
    for lang, markers in _LANG_MARKERS.items():
        parts = " + ".join(_marker_count_sql(padded, m) for m in markers)
        score_cols.append(f"({parts}) AS score_{lang}")
    langs = list(_LANG_MARKERS)
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    chain = "CASE " + " ".join(
        f"WHEN score_{lang} = {best} THEN '{lang}'" for lang in langs) + " END"
    return f"""
WITH s AS (
  SELECT doc_id, lang, {', '.join(score_cols)}
  FROM documents)
SELECT doc_id, lang, {', '.join(f'score_{lang}' for lang in langs)},
       {chain} AS predicted_lang,
       {chain} = lang AS match
FROM s
"""


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix — the QA table a corpus pipeline
    prints next to the classifier (which declared→predicted cells
    dominate tells you whether a marker list or the declared metadata
    is wrong): per (declared lang, predicted lang) cell, doc count
    and the cell's share of its declared-language row. Composes
    q_lang_id's scoring row-locally, then ONE grouped count over the
    ≤ |langs|² cells; the per-row share divides by a window sum over
    the tiny cell relation — nothing data-sized shuffles twice."""
    pred = q_lang_id(spark, sf_dir).select("lang", "predicted_lang")
    cells = (pred.groupBy("lang", "predicted_lang")
             .agg(F.count("*").alias("n_docs")))
    from pyspark.sql import Window as W
    row_total = F.sum("n_docs").over(W.partitionBy("lang"))
    return (cells
            .withColumn("row_frac",
                        F.col("n_docs").cast("double") / row_total)
            .orderBy("lang", "predicted_lang"))


def _lang_confusion_sql() -> str:
    return f"""
WITH pred AS ({_lang_id_sql()})
SELECT lang, predicted_lang, COUNT(*) AS n_docs,
       CAST(COUNT(*) AS DOUBLE)
         / SUM(COUNT(*)) OVER (PARTITION BY lang) AS row_frac
FROM pred
GROUP BY lang, predicted_lang
ORDER BY lang, predicted_lang
"""


# ---------------------------------------------------------------------------
# Document fingerprinting
# ---------------------------------------------------------------------------

def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: full-text md5, 8-word-prefix md5 (the
    dedup key), and a 60-bit integer fingerprint for compact storage/
    joins (first 15 md5 hex digits)."""
    docs = _docs(spark, sf_dir)
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    prefix = F.concat_ws(" ", F.slice(F.split(norm, " "), 1, 8))
    return docs.select(
        "doc_id",
        F.md5(norm).alias("content_fp"),
        F.md5(prefix).alias("prefix_fp"),
        F.conv(F.substring(F.md5(norm), 1, 15), 16, 10).cast("long")
        .alias("fp64"),
    )


_DOC_FINGERPRINT_SQL = """
WITH n AS (
  SELECT doc_id,
         regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm
  FROM documents)
SELECT doc_id,
       md5(norm) AS content_fp,
       md5(array_to_string(list_slice(string_split(norm, ' '), 1, 8), ' '))
         AS prefix_fp,
       CAST(('0x' || substring(md5(norm), 1, 15)) AS BIGINT) AS fp64
FROM n
"""


# ---------------------------------------------------------------------------
# Winnowing fingerprints (rolling hash + min-in-window selection)
# ---------------------------------------------------------------------------

_WIN_K = 8     # character k-gram width
_WIN_W = 4     # winnowing window (hashes per window)
_WIN_B = 257   # polynomial base
_WIN_P = 2147483647  # 2^31 − 1; acc·B + c fits int64


def _winnow_kernel(batches):
    """Arrow-batched winnowing: per document, code points via a
    utf-32 view, then the SAME mod-at-every-step rolling-hash
    recurrence as the SQL oracle — h := (h·B + c) % P, eight
    vectorized steps across all gram positions (acc stays < P·B + c,
    well inside int64) — then a sliding 4-window min and distinct.
    Integer arithmetic, so values are bit-identical to the
    higher-order-function form this replaced (which interpreted the
    per-char fold and was ~8× slower at the 10× fixture)."""
    import numpy as np
    import pandas as pd
    from numpy.lib.stride_tricks import sliding_window_view

    for pdf in batches:
        out_ids, out_fps = [], []
        for doc_id, norm in zip(pdf["doc_id"], pdf["norm"]):
            if norm is None or len(norm) < _WIN_K:
                continue
            codes = np.frombuffer(
                norm.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
            grams = sliding_window_view(codes, _WIN_K)
            acc = np.zeros(len(grams), dtype=np.int64)
            for j in range(_WIN_K):
                acc = (acc * _WIN_B + grams[:, j]) % _WIN_P
            if len(acc) < _WIN_W:
                continue
            fps = np.unique(sliding_window_view(acc, _WIN_W).min(axis=1))
            out_ids.append(np.full(len(fps), doc_id, dtype=np.int64))
            out_fps.append(fps)
        if out_ids:
            yield pd.DataFrame({"doc_id": np.concatenate(out_ids),
                                "fp": np.concatenate(out_fps)})


def q_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style winnowing fingerprints: polynomial rolling hash
    h = Σ code(c_j)·B^(k−1−j) mod P over character 8-grams of the
    normalized text, then the min hash of every 4-hash window,
    distinct — the classic near-copy localization fingerprint
    (guarantees any match of length ≥ k+w−1 shares a fingerprint).

    Implementation: a numpy mapInPandas kernel (_winnow_kernel) — the
    sanctioned Arrow slow path, because the pure-expression form
    (nested transform/aggregate folds) is interpreted per character
    and measured ~8× slower at the 10× fixture. The kernel replays
    the oracle's exact integer recurrence, so parity is still
    bit-exact. Fully map-side; the only shuffle is the final sort."""
    from ..tables import fan_out

    docs = fan_out(spark, _docs(spark, sf_dir))
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    return (
        docs.select("doc_id", norm.alias("norm"))
        .mapInPandas(_winnow_kernel, "doc_id long, fp long")
        .orderBy("doc_id", "fp")
    )


_WINNOW_SQL = f"""
WITH n AS (
  SELECT doc_id,
         regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm
  FROM documents),
g AS (
  SELECT doc_id,
         list_transform(range(1, greatest(length(norm) - {_WIN_K} + 1, 0) + 1),
           i -> list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(0, {_WIN_K}),
                      j -> CAST(ord(substring(norm, CAST(i + j AS INT), 1)) AS BIGINT))),
                  (acc, v) -> (acc * {_WIN_B} + v) % {_WIN_P})) AS gh
  FROM n),
w AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(gh) - {_WIN_W} + 1, 0) + 1),
           w -> list_min(list_slice(gh, w, w + {_WIN_W} - 1)))) AS fps
  FROM g)
SELECT doc_id, unnest(fps) AS fp FROM w
ORDER BY doc_id, fp
"""


# ---------------------------------------------------------------------------
# PII scrubbing (redaction pass for training corpora)
# ---------------------------------------------------------------------------

#: RE2-and-Java-compatible patterns (both engines must agree byte-for-
#: byte): emails, then 7+-digit runs (phone/account numbers).
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_DIGITS = r"[0-9][0-9 ()./-]{5,}[0-9]"


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact emails and long digit runs from document text — the
    mandatory scrub pass before a corpus ships to training. Pure
    regexp_replace (codegen, no UDF); emits per-doc redaction counts
    so the pass is auditable. Patterns restricted to the RE2 ∩ Java
    regex dialect so the DuckDB oracle is exact."""
    docs = _docs(spark, sf_dir)
    n_email = F.size(F.expr(f"regexp_extract_all(text, '{_PII_EMAIL}', 0)"))
    scrub1 = F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>")
    n_digit = F.size(F.expr(
        f"regexp_extract_all(regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>'),"
        f" '{_PII_DIGITS}', 0)"))
    return docs.select(
        "doc_id",
        F.regexp_replace(scrub1, _PII_DIGITS, "<NUM>").alias("clean_text"),
        n_email.alias("n_emails"),
        n_digit.alias("n_digit_runs"),
    ).orderBy("doc_id")


_PII_SCRUB_SQL = f"""
SELECT doc_id,
       regexp_replace(regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                      '{_PII_DIGITS}', '<NUM>', 'g') AS clean_text,
       len(regexp_extract_all(text, '{_PII_EMAIL}', 0)) AS n_emails,
       len(regexp_extract_all(
           regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
           '{_PII_DIGITS}', 0)) AS n_digit_runs
FROM documents ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# N-gram frequency (corpus statistics)
# ---------------------------------------------------------------------------

def q_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 word bigrams across the corpus: tokenize (shared
    contract: lower, squeeze \\s+, split on ' '), form bigrams with a
    sequence transform (no UDF), explode, count. The explode fans out
    ~n_tokens rows per doc but the count is map-side combined before
    the single shuffle on the bigram key; top-20 is
    TakeOrderedAndProject, never a global sort."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "), " ")
    bigrams = F.expr(
        "transform(sequence(0, size(toks) - 2),"
        " i -> concat(toks[i], ' ', toks[i + 1]))")
    return (
        docs.select(toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(F.explode_outer(bigrams).alias("bigram"))
        .filter(F.col("bigram").isNotNull())
        .groupBy("bigram").agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


_BIGRAM_SQL = r"""
WITH toks AS (
  SELECT string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS t
  FROM documents),
bi AS (
  SELECT unnest(list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i + 1])) AS bigram
  FROM toks WHERE len(t) >= 2)
SELECT bigram, COUNT(*) AS n FROM bi
GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 20
"""


# ---------------------------------------------------------------------------
# TF-IDF (salient terms per document)
# ---------------------------------------------------------------------------

def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed idf =
    ln((N+1)/(df+1)) + 1). Two shuffles total: one groupBy on
    (doc_id, term) for tf, one on term for df; the df side is
    |vocabulary| rows and broadcasts back onto the tf side, so the
    fact-side explode never shuffles twice. Scores are rounded to 6
    decimals on both engines so the ln() ULP difference can't flip
    the hash compare (ordering uses the full-precision score first,
    term as the deterministic tiebreak)."""
    docs = _docs(spark, sf_dir)
    n_docs = docs.count()  # scalar, computed once driver-side
    toks = (docs.select(
        "doc_id",
        F.explode_outer(F.split(F.regexp_replace(F.lower(F.col("text")),
                                                 r"\s+", " "), " "))
        .alias("term"))
        .filter(F.col("term").isNotNull()))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (tf.join(F.broadcast(df), "term")
              .withColumn("tfidf",
                          F.col("tf") * (F.log((F.lit(n_docs) + 1.0)
                                               / (F.col("df") + 1.0)) + 1.0)))
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3)
            .select("doc_id", "term", "tf", "df",
                    F.round("tfidf", 6).alias("tfidf"), "rnk")
            .orderBy("doc_id", "rnk"))


_TFIDF_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(text), '\s+', ' ', 'g'),
                             ' ')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         tf.tf * (ln(((SELECT COUNT(*) FROM documents) + 1.0) / (df.df + 1.0))
                  + 1.0) AS tfidf
  FROM tf JOIN df USING (term)),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term ASC) AS rnk
  FROM scored)
SELECT doc_id, term, tf, df, round(tfidf, 6) AS tfidf, rnk
FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk
"""


# ---------------------------------------------------------------------------
# Gopher-style rule filter
# ---------------------------------------------------------------------------

_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS = 15, 90
_GOPHER_MIN_MWL, _GOPHER_MAX_MWL = 3.0, 10.0
_GOPHER_MIN_ALPHA_FRAC = 0.8
_GOPHER_MIN_TTR = 0.35
_GOPHER_MIN_STOP_HITS = 2


def q_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style heuristic document filter (Rae et al. 2021 §A.1.1,
    public paper), one boolean column per rule plus the conjunction:

    * ``ok_word_count``  — word count in [15, 90] (paper: 50–100 k,
      rescaled to this corpus's 10–99-token band so the rule has
      discriminating power on the fixture);
    * ``ok_mean_word_len`` — mean word length in [3, 10];
    * ``ok_alpha_frac``  — ≥80 % of words contain an alphabetic char;
    * ``ok_ttr``         — type-token ratio ≥ 0.35 (the repetition
      family of filters collapsed to its cheapest per-row form);
    * ``ok_stopwords``   — ≥2 hits from the shared stopword list.

    Unlike ``quality_score`` (a weighted score) this is the hard
    gating shape production corpus builders actually run: per-rule
    booleans so rejection reasons are countable, `keep` as the AND.

    Scale shape: one narrow map pass over the scan — every rule is a
    whole-stage-codegen expression on the token array; no shuffle, no
    UDF, nothing to skew. At 100 TB this is scan-bound, the cheapest
    possible filter stage, and composes under the same plan as
    `clean_corpus`'s gates."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    t = docs.select(
        "doc_id", "source",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.size(F.filter(toks, lambda w: w.rlike("[a-z]"))).alias("n_alpha"),
        F.size(F.filter(toks, lambda w: w.isin(*_STOPWORDS))).alias("n_stop"),
    )
    ntok_d = F.col("n_tokens").cast("double")
    mean_wl = (F.col("n_chars") - (F.col("n_tokens") - 1)) / F.nullif(
        ntok_d, F.lit(0.0))
    alpha_frac = F.col("n_alpha") / F.nullif(ntok_d, F.lit(0.0))
    ttr = F.col("n_distinct") / F.nullif(ntok_d, F.lit(0.0))
    rules = {
        "ok_word_count": (F.col("n_tokens") >= _GOPHER_MIN_WORDS)
        & (F.col("n_tokens") <= _GOPHER_MAX_WORDS),
        "ok_mean_word_len": (mean_wl >= _GOPHER_MIN_MWL)
        & (mean_wl <= _GOPHER_MAX_MWL),
        "ok_alpha_frac": alpha_frac >= _GOPHER_MIN_ALPHA_FRAC,
        "ok_ttr": ttr >= _GOPHER_MIN_TTR,
        "ok_stopwords": F.col("n_stop") >= _GOPHER_MIN_STOP_HITS,
    }
    keep = F.lit(True)
    for cond in rules.values():
        keep = keep & cond
    return t.select(
        "doc_id", "source", "n_tokens",
        mean_wl.alias("mean_word_len"),
        alpha_frac.alias("alpha_frac"),
        ttr.alias("ttr"),
        F.col("n_stop").alias("stop_hits"),
        *[cond.alias(name) for name, cond in rules.items()],
        keep.alias("keep"),
    )


_GOPHER_SQL = f"""
WITH t AS (
  SELECT doc_id, source,
         len(w) AS n_tokens,
         length(text) AS n_chars,
         len(list_distinct(w)) AS n_distinct,
         len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
         len(list_filter(w, x -> x IN ({_STOP_IN}))) AS n_stop
  FROM (SELECT doc_id, source, text,
               string_split_regex(trim(lower(text)), '\\s+') AS w
        FROM documents)),
m AS (
  SELECT *,
         (n_chars - (n_tokens - 1)) / nullif(CAST(n_tokens AS DOUBLE), 0.0)
           AS mean_word_len,
         n_alpha / nullif(CAST(n_tokens AS DOUBLE), 0.0) AS alpha_frac,
         n_distinct / nullif(CAST(n_tokens AS DOUBLE), 0.0) AS ttr
  FROM t)
SELECT doc_id, source, n_tokens, mean_word_len, alpha_frac, ttr,
       n_stop AS stop_hits,
       n_tokens >= {_GOPHER_MIN_WORDS} AND n_tokens <= {_GOPHER_MAX_WORDS}
         AS ok_word_count,
       mean_word_len >= {_GOPHER_MIN_MWL} AND mean_word_len <= {_GOPHER_MAX_MWL}
         AS ok_mean_word_len,
       alpha_frac >= {_GOPHER_MIN_ALPHA_FRAC} AS ok_alpha_frac,
       ttr >= {_GOPHER_MIN_TTR} AS ok_ttr,
       n_stop >= {_GOPHER_MIN_STOP_HITS} AS ok_stopwords,
       (n_tokens >= {_GOPHER_MIN_WORDS} AND n_tokens <= {_GOPHER_MAX_WORDS})
         AND (mean_word_len >= {_GOPHER_MIN_MWL}
              AND mean_word_len <= {_GOPHER_MAX_MWL})
         AND alpha_frac >= {_GOPHER_MIN_ALPHA_FRAC}
         AND ttr >= {_GOPHER_MIN_TTR}
         AND n_stop >= {_GOPHER_MIN_STOP_HITS} AS keep
FROM m
"""


# ---------------------------------------------------------------------------
# Vocabulary construction with coverage
# ---------------------------------------------------------------------------

_VOCAB_V = 32


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-V vocabulary with cumulative corpus coverage — the
    tokenizer-training prerequisite: rank tokens by frequency and
    report what fraction of all token occurrences the top-1..top-V
    prefix covers (where to cut the vocab).

    Shape: one explode → map-side-combined count per token (the
    shuffle is vocabulary-sized, tiny next to the corpus), then rank +
    running coverage over the VOCAB frame only — a single-partition
    window over ≤|vocab| rows, never over corpus rows. For
    billion-term vocabularies, run heavy_hitters first and rank its
    bounded candidate set instead; the ranking stage is identical."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    counts = (docs.select(F.explode_outer(toks).alias("token"))
              .filter(F.col("token").isNotNull())
              .groupBy("token").agg(F.count("*").alias("cnt")))
    total = docs.agg(F.sum(F.size(toks)).cast("long").alias("total"))
    w = W.partitionBy().orderBy(F.desc("cnt"), F.asc("token"))
    return (counts
            .withColumn("rank", F.row_number().over(w))
            .withColumn("cum_cnt",
                        F.sum("cnt").over(
                            w.rowsBetween(W.unboundedPreceding, 0)))
            .filter(F.col("rank") <= _VOCAB_V)
            .crossJoin(F.broadcast(total))
            .select("rank", "token", "cnt",
                    (F.col("cum_cnt") / F.col("total").cast("double"))
                    .alias("cum_coverage")))


_VOCAB_COVERAGE_SQL = f"""
WITH t AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM t),
c AS (SELECT token, COUNT(*) AS cnt FROM t GROUP BY token),
r AS (
  SELECT token, cnt,
         row_number() OVER (ORDER BY cnt DESC, token ASC) AS rank,
         SUM(cnt) OVER (ORDER BY cnt DESC, token ASC
                        ROWS UNBOUNDED PRECEDING) AS cum_cnt
  FROM c)
SELECT rank, token, cnt,
       cum_cnt / CAST((SELECT total FROM tot) AS DOUBLE) AS cum_coverage
FROM r WHERE rank <= {_VOCAB_V}
"""


def q_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over CCNet-NORMALIZED text — the pass that catches
    the duplicates raw-byte fingerprints miss: case changes,
    punctuation drift, digit substitutions ("v2.1" vs "v3.0"
    boilerplate), and whitespace reflows. Normalization is the CCNet
    recipe re-expressed portably: lowercase, every whitespace run and
    non-alphanumeric char to a single space, all digits to '0', then
    squeeze + trim; the fingerprint is md5 of the WHOLE normalized
    text (not a prefix) so near-identical long docs with identical
    heads still separate.

    Scale shape: normalization is a row-local regex chain inside
    whole-stage codegen (no UDF, no fan-out); the dedup is the same
    ONE shuffle on the fingerprint as q_exact_dedup. At 100 TB this
    runs as a single scan + exchange — the cheapest near-dup recall
    upgrade available before shingle/MinHash machinery is needed
    (dedup.py:1-20 documents that family)."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.col("text"))
    norm = F.regexp_replace(norm, r"[^a-z0-9]", " ")
    norm = F.regexp_replace(norm, r"[0-9]", "0")
    norm = F.trim(F.regexp_replace(norm, r" +", " "))
    w = W.partitionBy("norm_fp")
    return (docs.select("doc_id", F.md5(norm).alias("norm_fp"),
                        F.length(norm).alias("norm_len"))
            .withColumn("n_copies", F.count("*").over(w))
            .withColumn("keep",
                        F.col("doc_id") == F.min("doc_id").over(w))
            .select("doc_id", "norm_fp", "norm_len", "n_copies", "keep"))


_NORMALIZED_DEDUP_SQL = """
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(
             regexp_replace(lower(text), '[^a-z0-9]', ' ', 'g'),
             '[0-9]', '0', 'g'),
           ' +', ' ', 'g')) AS norm
  FROM documents)
SELECT doc_id, md5(norm) AS norm_fp, length(norm) AS norm_len,
       COUNT(*) OVER (PARTITION BY md5(norm)) AS n_copies,
       doc_id = MIN(doc_id) OVER (PARTITION BY md5(norm)) AS keep
FROM n
"""


# ---------------------------------------------------------------------------
# Sparse TF-IDF cosine similarity join (inverted-index dot product)
# ---------------------------------------------------------------------------

#: Document-frequency cap for the pairing join (terms in more than
#: _TFIDF_DF_CAP docs are dropped from the VECTORS entirely) and the
#: fixed-point weight scale (1e4 units per tfidf point — integer dot
#: products and norms, so cross-engine float summation order and
#: ln() ULP differences cannot perturb the compare).
_TFIDF_DF_CAP = 32
_W_SCALE = 10_000
_TFIDF_TOP_PAIRS = 20


@staged("text.tfidf_index")
def _tfidf_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term, df, wq) — the df-capped quantized TF-IDF
    inverted index, STAGED: the similarity join references it three
    times (norms + both pair sides) plus the df aggregate, and Spark
    re-executes unpersisted subtrees per reference. An inverted index
    is the canonical staged artifact of a retrieval system — built
    once per corpus, swept by every query."""
    from pyspark import StorageLevel

    tok = staged_tokens(spark, sf_dir)
    n_docs = tok.count()  # scalar off the staged relation, no rescan
    tf = (tok.select("doc_id", F.explode_outer("toks").alias("term"))
          .filter(F.col("term").isNotNull())
          .groupBy("doc_id", "term").agg(F.count("*").alias("tf")))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    wq = F.round(
        F.col("tf")
        * (F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)) + 1.0)
        * _W_SCALE).cast("long")
    vec = (tf.join(F.broadcast(df.filter(F.col("df") <= _TFIDF_DF_CAP)),
                   "term")
           .select("doc_id", "term", "df", wq.alias("wq"))
           .persist(StorageLevel.MEMORY_AND_DISK))
    return vec


def q_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most similar document pairs by TF-IDF cosine over the
    RARE-TERM subspace — the sparse / inverted-index similarity join,
    the lexical twin of embedding_neardup (similarity.py): vectors
    meet on their shared TERMS via an equi-join on the posting list,
    never through an all-pairs comparison.

    Semantics: vectors keep only terms with df <= 32 (hot terms carry
    near-zero idf and are what make naive term joins quadratic — this
    is the frequency-capped sparse join every production
    set-similarity system runs, cf. the df-capped Jaccard family in
    dedup.py); weights are smoothed tf-idf quantized to integer 1e-4
    units, so dot products and norms are EXACT integer sums in both
    engines and cosine is one identical double expression at the end.

    Scale shape: the quantized index is STAGED (`_tfidf_vectors`);
    the pairing join fans out at most df²/2 <= 512 pairs per term;
    per-pair scores aggregate in one shuffle; TakeOrdered keeps the
    global top-20 without a global sort."""
    vec = _tfidf_vectors(spark, sf_dir)
    norms = vec.groupBy("doc_id").agg(
        F.sum(F.col("wq") * F.col("wq")).alias("n2"))
    pairable = vec.filter(F.col("df") >= 2)
    a = pairable.select(F.col("doc_id").alias("a_id"), "term",
                        F.col("wq").alias("wa"))
    b = pairable.select(F.col("doc_id").alias("b_id"), "term",
                        F.col("wq").alias("wb"))
    dots = (a.join(b, "term")
            .filter(F.col("a_id") < F.col("b_id"))
            .groupBy("a_id", "b_id")
            .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot")))
    na = norms.select(F.col("doc_id").alias("a_id"),
                      F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("b_id"),
                      F.col("n2").alias("nb2"))
    cos = (F.col("dot").cast("double")
           / (F.sqrt(F.col("na2").cast("double"))
              * F.sqrt(F.col("nb2").cast("double"))))
    return (dots.join(na, "a_id").join(nb, "b_id")
            .select("a_id", "b_id", "dot", cos.alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc("a_id"), F.asc("b_id"))
            .limit(_TFIDF_TOP_PAIRS))


_TFIDF_PAIRS_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
vec AS (
  SELECT tf.doc_id, tf.term, df.df,
         CAST(round(tf.tf
                    * (ln(((SELECT COUNT(*) FROM documents) + 1.0)
                          / (df.df + 1.0)) + 1.0)
                    * {_W_SCALE}) AS BIGINT) AS wq
  FROM tf JOIN df USING (term)
  WHERE df.df <= {_TFIDF_DF_CAP}),
norms AS (SELECT doc_id, SUM(wq * wq) AS n2 FROM vec GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, SUM(a.wq * b.wq) AS dot
  FROM vec a JOIN vec b ON a.term = b.term AND a.doc_id < b.doc_id
  WHERE a.df >= 2
  GROUP BY a.doc_id, b.doc_id)
SELECT a_id, b_id, CAST(dot AS BIGINT) AS dot,
       CAST(dot AS DOUBLE)
       / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
       AS cosine
FROM dots
JOIN norms na ON na.doc_id = a_id
JOIN norms nb ON nb.doc_id = b_id
ORDER BY cosine DESC, a_id ASC, b_id ASC
LIMIT {_TFIDF_TOP_PAIRS}
"""


QUERIES = {
    "token_count": (q_token_count, _TOKEN_COUNT_SQL),
    "tfidf_cosine_pairs": (q_tfidf_cosine_pairs, _TFIDF_PAIRS_SQL),
    "normalized_dedup": (q_normalized_dedup, _NORMALIZED_DEDUP_SQL),
    "vocab_coverage": (q_vocab_coverage, _VOCAB_COVERAGE_SQL),
    "gopher_filters": (q_gopher_filters, _GOPHER_SQL),
    "tfidf_top_terms": (q_tfidf_top_terms, _TFIDF_SQL),
    "pii_scrub": (q_pii_scrub, _PII_SCRUB_SQL),
    "bigram_counts": (q_bigram_counts, _BIGRAM_SQL),
    "winnowing_fingerprint": (q_winnowing_fingerprint, _WINNOW_SQL),
    "quality_score": (q_quality_score, _QUALITY_SCORE_SQL),
    "lang_id": (q_lang_id, _lang_id_sql()),
    "lang_confusion": (q_lang_confusion, _lang_confusion_sql()),
    "doc_fingerprint": (q_doc_fingerprint, _DOC_FINGERPRINT_SQL),
}
