"""Text analysis for training-data pipelines (driver-contract extension):
quality scoring, token counting, language-ID, tf-idf, fingerprinting,
corpus rollups. All native expressions — one scan per query; the single
exception is NFC normalization (no Spark builtin), which rides an
Arrow-batched pandas_udf in text_normalize_unicode.

Cross-engine notes: every ratio is int/int double division (exact);
corpus-relative scores use decimal accumulation; idf uses the rational
N/df form rather than log so no transcendental crosses the oracle
boundary."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, table_path, widen_if_narrow
from ..functions.text import doc_fingerprint_md5
from ..operators.parity import davg, sql_davg
from ..session import _release, local_frame, memo


def _docs_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents scan widened when pathologically narrow — the
    llm/dedup.py convention (r11; single-row-group test parquet opens
    as 2 splits, so token/char explodes and Arrow passes ran 2-wide on
    32 cores; no-op on real split-able corpora)."""
    return widen_if_narrow(spark, load_table(spark, sf_dir, "documents"))

#: tokens treated as stopwords in quality scoring (from the corpus
#: vocabulary; any fixed lexicon works the same way at scale)
STOPWORDS = ("the", "a", "of", "and", "to")


def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals: token counts, type-token ratio,
    average token length, stopword ratio, and a composite score —
    the standard cheap pre-filters before expensive LLM-data steps."""
    d = _docs_wide(spark, sf_dir)
    toks = F.split("text", " ")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    # STAGE the counts: stop_ratio feeds both the rounded output and
    # passes_quality, and an inline size(filter(...)) is re-inlined per
    # consumer — the stopword scan ran twice per row (caught by the
    # round-10 re-inlining guard)
    staged = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).alias(
            "_n_stop"
        ),
    )
    n_tokens = F.col("n_tokens")
    avg_len = F.col("n_chars").cast("double") / n_tokens.cast("double")
    ttr = F.col("n_distinct").cast("double") / n_tokens.cast("double")
    stop_ratio = F.col("_n_stop").cast("double") / n_tokens.cast("double")
    return staged.select(
        "doc_id",
        "lang",
        "n_tokens",
        "n_distinct",
        F.round(ttr, 6).alias("ttr"),
        F.round(avg_len, 6).alias("avg_token_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        ((n_tokens >= 20) & (stop_ratio < 0.5)).cast("int").alias("passes_quality"),
    )


TEXT_QUALITY_SQL = f"""
SELECT doc_id, lang,
  len(split(text, ' ')) AS n_tokens,
  len(list_distinct(split(text, ' '))) AS n_distinct,
  ROUND(CAST(len(list_distinct(split(text, ' '))) AS DOUBLE)
        / CAST(len(split(text, ' ')) AS DOUBLE), 6) AS ttr,
  ROUND(CAST(n_chars AS DOUBLE) / CAST(len(split(text, ' ')) AS DOUBLE), 6) AS avg_token_len,
  ROUND(CAST(len(list_filter(split(text, ' '),
        t -> list_contains({list(STOPWORDS)!r}, t))) AS DOUBLE)
        / CAST(len(split(text, ' ')) AS DOUBLE), 6) AS stopword_ratio,
  CAST(len(split(text, ' ')) >= 20
       AND CAST(len(list_filter(split(text, ' '),
             t -> list_contains({list(STOPWORDS)!r}, t))) AS DOUBLE)
           / CAST(len(split(text, ' ')) AS DOUBLE) < 0.5 AS INT) AS passes_quality
FROM documents
"""


def text_token_counting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, characters, vowel-group count
    (regexp), and a BPE-style token estimate (chars/4 heuristic used for
    budget planning in LLM pipelines)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
        F.length("text").alias("n_chars"),
        F.regexp_count(F.col("text"), F.lit("[aeiou]+")).alias("n_vowel_groups"),
        F.ceil(F.length("text") / 4.0).cast("long").alias("est_bpe_tokens"),
    )


TEXT_TOKEN_COUNT_SQL = """
SELECT doc_id,
  len(split(text, ' ')) AS n_ws_tokens,
  length(text) AS n_chars,
  len(regexp_extract_all(text, '[aeiou]+')) AS n_vowel_groups,
  CAST(CEIL(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens
FROM documents
"""


def text_langid_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-profile language ID: build per-language token
    distributions from the labeled corpus, then classify each document
    by the highest total token probability (rational scores, decimal
    accumulation, deterministic lang-asc tie-break).

    This is the degenerate-but-deterministic stand-in for char-n-gram
    langid; the architecture (broadcast profile join + argmax window) is
    exactly what a real fastText-style scorer would use.

    Scoring runs at the (doc, token)-TYPE grain, not per token
    instance: the corpus reduces to per-doc token counts first (one
    partial-aggregable shuffle), then each TYPE joins the broadcast
    profile once and contributes n x dec(p) — an exact integer
    multiple of the decimal, so the sum is bit-identical to the
    per-instance fold while the |langs|-way join fan-out applies to
    ~2.3x fewer rows and the argmax aggregation reads a type-grain
    stream (r9 rewrite: 16.4 s -> 4.0 s at sf1 on the scoring stage).
    The oracle states the per-instance form; equality is exact, not
    approximate.

    Decimal discipline for that exactness: the product is computed as
    decimal(20,10) x decimal(17,0) -> decimal(38,10) with NO precision
    adjustment. A naive decimal(38,10) * bigint overflows precision 38
    and Spark silently ADJUSTS the result type to decimal(38,6),
    rounding every term at 1e-6 (round-9 self-review finding: scores
    diverged from the oracle's per-instance sum on ~all rows, max
    ~5e-6 — enough to flip a near-tied argmax and break
    certification); the tightened operand types keep the multiply
    exact, pinned bit-equal to the per-instance fold by
    tests/test_llm.py::test_langid_type_grain_score_bit_equal."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("token"))
    counts = tok.groupBy(F.col("lang").alias("p_lang"), "token").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # per-lang totals via aggregate + broadcast join, NOT a window
    # partitioned by p_lang: a handful of languages would funnel the
    # whole vocabulary through |langs| tasks; the totals frame is
    # |langs| rows — broadcast it
    totals = counts.groupBy("p_lang").agg(F.sum("cnt").alias("total"))
    profile = (
        counts.join(F.broadcast(totals), "p_lang")
        .withColumn("p", F.col("cnt").cast("double") / F.col("total").cast("double"))
        .select("p_lang", "token", "p")
    )
    tcnt = tok.groupBy("doc_id", "lang", "token").agg(
        F.count(F.lit(1)).alias("n")
    )
    scored = (
        tcnt.join(F.broadcast(profile), "token")
        .groupBy("doc_id", "lang", "p_lang")
        .agg(
            F.sum(
                (
                    F.col("p").cast("decimal(20,10)")
                    * F.col("n").cast("decimal(17,0)")
                ).cast("decimal(38,10)")
            )
            .cast("double")
            .alias("score")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("p_lang").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id",
            F.col("p_lang").alias("predicted_lang"),
            F.col("lang").alias("actual_lang"),
            (F.col("p_lang") == F.col("lang")).cast("int").alias("correct"),
        )
    )


def _langid_chain_sql() -> str:
    """The langid WITH-chain fragment (CTE names li_*-prefixed so it
    composes with other chains), terminal CTE `langid` = one row per
    doc with the argmax language. Single source for both the
    text_langid_profile oracle and the CCNet composite
    (llm/curation.pipeline_ccnet_buckets)."""
    return """li_tok AS (
  SELECT doc_id, lang, unnest(split(text, ' ')) AS token FROM documents
), li_profile AS (
  SELECT lang AS p_lang, token, COUNT(*) AS cnt,
         SUM(COUNT(*)) OVER (PARTITION BY lang) AS total
  FROM li_tok GROUP BY lang, token
), li_scored AS (
  SELECT t.doc_id, t.lang, p.p_lang,
         CAST(SUM(CAST(CAST(p.cnt AS DOUBLE) / CAST(p.total AS DOUBLE)
              AS DECIMAL(38,10))) AS DOUBLE) AS score
  FROM li_tok t JOIN li_profile p ON t.token = p.token
  GROUP BY t.doc_id, t.lang, p.p_lang
), langid AS (
  SELECT doc_id, p_lang AS predicted_lang, lang AS actual_lang,
         CAST(p_lang = lang AS INT) AS correct
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
              ORDER BY score DESC, p_lang ASC) AS rk
    FROM li_scored
  ) WHERE rk = 1
)"""


TEXT_LANGID_SQL = f"""
WITH {_langid_chain_sql()}
SELECT doc_id, predicted_lang, actual_lang, correct FROM langid
"""


def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: md5 + sha256 of the canonicalized (sorted
    distinct-token) form — dedup/blocking keys."""
    d = load_table(spark, sf_dir, "documents")
    canon = F.array_join(F.sort_array(F.array_distinct(F.split("text", " "))), " ")
    return d.select(
        "doc_id",
        doc_fingerprint_md5(F.col("text")).alias("md5_fp"),
        F.sha2(canon, 256).alias("sha256_fp"),
        F.length(canon).alias("canon_len"),
    )


TEXT_FINGERPRINT_SQL = """
SELECT doc_id,
  md5(array_to_string(list_sort(list_distinct(split(text, ' '))), ' ')) AS md5_fp,
  sha256(array_to_string(list_sort(list_distinct(split(text, ' '))), ' ')) AS sha256_fp,
  length(array_to_string(list_sort(list_distinct(split(text, ' '))), ' ')) AS canon_len
FROM documents
"""


def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf-idf (rational idf
    N/df — no log crosses the oracle). df computed corpus-wide, joined
    back broadcast; one shuffle for the per-doc window."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tok.select("doc_id", "token").distinct().groupBy("token").agg(
        F.count(F.lit(1)).alias("df")
    )
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf").cast("double")
            * (F.col("n_docs").cast("double") / F.col("df").cast("double")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "doc_id",
            "rk",
            "token",
            F.round(F.col("tfidf").cast("decimal(38,10)"), 6).cast("double").alias("tfidf"),
        )
    )


TEXT_TFIDF_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(split(text, ' ')) AS token FROM documents
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
), df AS (
  SELECT token, COUNT(*) AS df
  FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY token
), n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT doc_id, rk, token, tfidf FROM (
  SELECT tf.doc_id, tf.token,
    CAST(ROUND(CAST(CAST(tf.tf AS DOUBLE) * (CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)) AS DECIMAL(38,10)), 6) AS DOUBLE) AS tfidf,
    ROW_NUMBER() OVER (PARTITION BY tf.doc_id ORDER BY
      CAST(tf.tf AS DOUBLE) * (CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)) DESC,
      tf.token ASC) AS rk
  FROM tf JOIN df ON tf.token = df.token, n
) WHERE rk <= 3
"""


def text_corpus_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition rollup per (lang, source): doc counts, size
    stats, token totals — the monitoring surface of a data pipeline."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            davg(F.col("n_chars").cast("double"), "avg_chars"),
            F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


TEXT_ROLLUP_SQL = f"""
SELECT lang, source, COUNT(*) AS n_docs,
  {sql_davg('CAST(n_chars AS DOUBLE)', 'avg_chars')},
  CAST(SUM(len(split(text, ' '))) AS BIGINT) AS total_tokens,
  MIN(n_chars) AS min_chars,
  MAX(n_chars) AS max_chars
FROM documents GROUP BY lang, source
"""


def text_normalize_unicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization — the first pass of any corpus
    cleaning pipeline: NFC unicode composition, control-character
    stripping, whitespace collapsing, casefold. NFC is the one step
    Spark has no builtin for, so it rides an Arrow-batched pandas_udf
    (stdlib unicodedata — deterministic by the Unicode standard, which
    is what lets DuckDB's nfc_normalize serve as the oracle); the rest
    stays JVM-side regex/lower. Output fingerprints the normalized
    text (md5) rather than shipping it — the production shape where
    the cleaned column is written, and only its hash is audited."""

    @F.pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(lambda t: unicodedata.normalize("NFC", t) if t is not None else None)

    d = _docs_wide(spark, sf_dir)
    norm = F.lower(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(nfc(F.col("text")), "[\\x00-\\x1f\\x7f]", ""),
                "\\s+",
                " ",
            )
        )
    )
    return d.select(
        "doc_id",
        F.md5(norm).alias("norm_fp"),
        F.length(norm).cast("long").alias("norm_len"),
        (norm != F.col("text")).alias("changed"),
    )


TEXT_NORMALIZE_SQL = """
WITH n AS (
  SELECT doc_id, text,
         lower(trim(regexp_replace(regexp_replace(nfc_normalize(text),
           '[\\x00-\\x1f\\x7f]', '', 'g'), '\\s+', ' ', 'g'))) AS norm
  FROM documents
)
SELECT doc_id, md5(norm) AS norm_fp,
       CAST(length(norm) AS BIGINT) AS norm_len,
       norm <> text AS changed
FROM n
"""


#: collocation extraction knobs: candidate pairs need >= MIN_SUPPORT
#: corpus occurrences; top K by lift survive
COLLOC_MIN_SUPPORT = 20
COLLOC_TOP_K = 50


def text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level collocation mining: adjacent token pairs ranked by
    lift = p(xy) / (p(x) p(y)) — the PMI-without-the-log phrase scorer
    that feeds tokenizer vocab candidates and phrase dictionaries.
    Rational form (c_xy * N^2) / (B * c_x * c_y) keeps every factor an
    exact integer so the oracle hash-matches (the same no-transcendental
    discipline as the tf-idf rational idf).

    Scale: bigram counts and unigram counts are two partial+final
    explode-aggs over the corpus; the pair->unigram joins shuffle on
    the WORD key (vocab-sized relations, not corpus-sized); the (N, B)
    totals ride a one-row broadcast. Top-K picks over rounded lift with
    a full lexical tie-break, so the cut is deterministic on both
    engines."""
    d = _docs_wide(spark, sf_dir)
    toks = F.split("text", " ")
    tok = d.select(F.explode(toks).alias("w"))
    uni = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c_w"))
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bg = (
        d.select(F.explode(pairs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= COLLOC_MIN_SUPPORT)
    )
    totals = tok.agg(
        F.count(F.lit(1)).alias("n_tokens")
    ).crossJoin(
        d.select(
            F.explode(pairs).alias("p")
        ).agg(F.count(F.lit(1)).alias("n_bigrams"))
    )
    lift = (
        F.col("c_xy").cast("decimal(38,6)")
        * F.col("n_tokens").cast("decimal(18,0)")
        * F.col("n_tokens").cast("decimal(18,0)")
    ).cast("double") / (
        F.col("n_bigrams").cast("decimal(38,6)")
        * F.col("c_x").cast("decimal(18,0)")
        * F.col("c_y").cast("decimal(18,0)")
    ).cast(
        "double"
    )
    return (
        bg.join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c_w", "c_x"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c_w", "c_y"), "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            F.col("c_xy").cast("long").alias("support"),
            F.round(lift.cast("decimal(38,10)"), 4).cast("double").alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "w1", "w2")
        .limit(COLLOC_TOP_K)
    )


TEXT_COLLOC_SQL = f"""
WITH tok AS (
  SELECT unnest(split(text, ' ')) AS w FROM documents
), uni AS (
  SELECT w, COUNT(*) AS c_w FROM tok GROUP BY w
), bg AS (
  SELECT ts[i] AS w1, ts[i+1] AS w2
  FROM (SELECT split(text, ' ') AS ts FROM documents) t,
       (SELECT unnest(generate_series(1,
           (SELECT COALESCE(MAX(len(split(text, ' '))), 1) FROM documents))) AS i) g
  WHERE i <= len(ts) - 1
), bgc AS (
  SELECT w1, w2, COUNT(*) AS c_xy FROM bg GROUP BY w1, w2
  HAVING COUNT(*) >= {COLLOC_MIN_SUPPORT}
), totals AS (
  SELECT (SELECT COUNT(*) FROM tok) AS n_tokens,
         (SELECT COUNT(*) FROM bg) AS n_bigrams
)
SELECT w1, w2, CAST(c_xy AS BIGINT) AS support,
       CAST(ROUND(CAST(CAST(
         CAST(c_xy AS DECIMAL(38,6)) * CAST(n_tokens AS DECIMAL(18,0))
           * CAST(n_tokens AS DECIMAL(18,0)) AS DOUBLE)
         / CAST(CAST(n_bigrams AS DECIMAL(38,6)) * CAST(x.c_w AS DECIMAL(18,0))
           * CAST(y.c_w AS DECIMAL(18,0)) AS DOUBLE) AS DECIMAL(38,10)), 4)
         AS DOUBLE) AS lift
FROM bgc
JOIN uni x ON bgc.w1 = x.w
JOIN uni y ON bgc.w2 = y.w
CROSS JOIN totals
ORDER BY lift DESC, w1, w2
LIMIT {COLLOC_TOP_K}
"""


#: count-min sketch parameters for text_heavy_hitters_cms: eps bounds
#: the overestimate (est <= exact + eps*N per query, prob >= conf);
#: the sketch never underestimates. Fixed seed -> deterministic sketch.
CMS_EPS = 0.001
CMS_CONF = 0.99
CMS_SEED = 42
CMS_TOP_K = 10


def text_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter detection with a count-min sketch — the streaming/
    mergeable frequency structure (16 KB-scale state vs a full token
    dictionary) every 100 TB frequency pipeline uses for hot-key and
    hot-phrase monitoring. Like agg_approx_count_distinct, the sketch
    bytes are engine-specific and can never hash-match DuckDB, so the
    certified surface is the INVARIANT: per exact-top-K token, the CMS
    estimate (a) never underestimates and (b) lands within eps*N of
    exact. The oracle emits the exact counts and literal TRUEs.

    Plan: one explode-agg builds the sketch (map-side partials, the
    sketch is mergeable state); the 112 KB serialized sketch and the
    K=10 head are the only driver-side bytes (model state, the IVF-
    codebook discipline); the probed estimates re-enter the PLAN as a
    broadcast literal map so the booleans are computed by the engine."""
    d = _docs_wide(spark, sf_dir)
    tok = d.select(F.explode(F.split("text", " ")).alias("w"))
    topk = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), "w")
        .limit(CMS_TOP_K)
    )
    sk_row = tok.agg(
        F.count_min_sketch(
            "w", F.lit(CMS_EPS), F.lit(CMS_CONF), F.lit(CMS_SEED)
        ).alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    jvm = spark._jvm
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        jvm.java.io.ByteArrayInputStream(bytes(sk_row["s"]))
    )
    slack = int(CMS_EPS * sk_row["n"]) + 1
    head = [r["w"] for r in topk.collect()]
    est = {w: int(cms.estimateCount(w)) for w in head}
    est_map = F.create_map(
        *[c for w, e in sorted(est.items()) for c in (F.lit(w), F.lit(e))]
    )
    return topk.select(
        "w",
        "exact_cnt",
        (F.element_at(est_map, F.col("w")) >= F.col("exact_cnt")).alias(
            "cms_never_under"
        ),
        (
            F.element_at(est_map, F.col("w")) <= F.col("exact_cnt") + F.lit(slack)
        ).alias("cms_within_eps"),
    ).orderBy(F.col("exact_cnt").desc(), "w")


TEXT_CMS_SQL = f"""
SELECT w, exact_cnt, TRUE AS cms_never_under, TRUE AS cms_within_eps
FROM (
  SELECT w, COUNT(*) AS exact_cnt
  FROM (SELECT unnest(split(text, ' ')) AS w FROM documents)
  GROUP BY w ORDER BY exact_cnt DESC, w LIMIT {CMS_TOP_K}
) ORDER BY exact_cnt DESC, w
"""


#: GPT-2-style pretokenizer classes (lowercase corpus): letter runs,
#: digit runs, non-alnum-non-space runs
PRETOK_LETTERS = "[a-z]+"
PRETOK_DIGITS = "[0-9]+"
PRETOK_OTHER = "[^a-z0-9 ]+"


def text_pretokenize_bpe_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style regex pretokenization counts — the first stage of
    every GPT-class tokenizer (split into letter runs / digit runs /
    symbol runs BEFORE byte-pair merging; the merge table is model
    state applied downstream). Per document: counts per pretoken class
    and the total, the budget-planning numbers a tokenizer-aware
    pipeline wants next to the whitespace and chars/4 estimates of
    text_token_counting. Pure regexp_count — JVM-side, one scan."""
    d = load_table(spark, sf_dir, "documents")
    n_let = F.regexp_count(F.col("text"), F.lit(PRETOK_LETTERS))
    n_dig = F.regexp_count(F.col("text"), F.lit(PRETOK_DIGITS))
    n_oth = F.regexp_count(F.col("text"), F.lit(PRETOK_OTHER))
    return d.select(
        "doc_id",
        n_let.alias("n_letter_runs"),
        n_dig.alias("n_digit_runs"),
        n_oth.alias("n_symbol_runs"),
        (n_let + n_dig + n_oth).alias("n_pretokens"),
    )


PRETOK_SQL = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{PRETOK_LETTERS}')) AS n_letter_runs,
       len(regexp_extract_all(text, '{PRETOK_DIGITS}')) AS n_digit_runs,
       len(regexp_extract_all(text, '{PRETOK_OTHER}')) AS n_symbol_runs,
       len(regexp_extract_all(text, '{PRETOK_LETTERS}'))
       + len(regexp_extract_all(text, '{PRETOK_DIGITS}'))
       + len(regexp_extract_all(text, '{PRETOK_OTHER}')) AS n_pretokens
FROM documents
"""


QUERIES = {
    "text_quality_scores": text_quality_scores,
    "text_pretokenize_bpe_style": text_pretokenize_bpe_style,
    "text_heavy_hitters_cms": text_heavy_hitters_cms,
    "text_collocations": text_collocations,
    "text_normalize_unicode": text_normalize_unicode,
    "text_token_counting": text_token_counting,
    "text_langid_profile": text_langid_profile,
    "text_fingerprints": text_fingerprints,
    "text_tfidf_top_terms": text_tfidf_top_terms,
    "text_corpus_rollup": text_corpus_rollup,
}

ORACLES = {
    "text_quality_scores": TEXT_QUALITY_SQL,
    "text_collocations": TEXT_COLLOC_SQL,
    "text_heavy_hitters_cms": TEXT_CMS_SQL,
    # promoted round 6 (held out of the full round-5 window; pinned by
    # tests/test_llm.py::test_pretokenize_matches_oracle at both SFs)
    "text_pretokenize_bpe_style": PRETOK_SQL,
    "text_normalize_unicode": TEXT_NORMALIZE_SQL,
    "text_token_counting": TEXT_TOKEN_COUNT_SQL,
    "text_langid_profile": TEXT_LANGID_SQL,
    "text_fingerprints": TEXT_FINGERPRINT_SQL,
    "text_tfidf_top_terms": TEXT_TFIDF_SQL,
    "text_corpus_rollup": TEXT_ROLLUP_SQL,
}


#: fixed sentiment-style lexicon (token -> weight); deploy-time this is
#: any broadcast vocabulary (toxicity lists, domain terms, ...)
LEXICON = {"fast": 1.0, "big": 0.5, "slow": -1.0, "small": -0.5}


def text_lexicon_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon scoring via pure expressions: per-token weight lookup
    (CASE chain compiled from the broadcast lexicon) accumulated
    decimally — the SURVEY C-LLM 'simple lexicon scoring via map
    lookup + aggregate' op."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")

    def weight(t):
        expr = F.lit(0.0)
        for token, w in LEXICON.items():
            expr = F.when(t == token, F.lit(w)).otherwise(expr)
        return expr.cast("decimal(38,10)")

    score = F.aggregate(
        F.transform(toks, weight),
        F.lit(0).cast("decimal(38,10)"),
        lambda acc, x: (acc + x).cast("decimal(38,10)"),
    )
    n_hits = F.size(
        F.filter(toks, lambda t: t.isin(*LEXICON.keys()))
    )
    return d.select(
        "doc_id",
        F.round(score, 2).cast("double").alias("lexicon_score"),
        n_hits.alias("n_lexicon_hits"),
    )


_LEX_CASE = " ".join(
    f"WHEN t = '{tok}' THEN {w}" for tok, w in LEXICON.items()
)

TEXT_LEXICON_SQL = f"""
SELECT doc_id,
  CAST(ROUND(list_sum(list_transform(split(text, ' '),
    t -> CAST(CASE {_LEX_CASE} ELSE 0.0 END AS DECIMAL(38,10)))), 2) AS DOUBLE)
    AS lexicon_score,
  len(list_filter(split(text, ' '),
    t -> list_contains({list(LEXICON.keys())!r}, t))) AS n_lexicon_hits
FROM documents
"""

QUERIES["text_lexicon_score"] = text_lexicon_score
ORACLES["text_lexicon_score"] = TEXT_LEXICON_SQL


#: number of BPE merge rounds learned by text_bpe_learn_merges; the
#: oracle SQL unrolls the same number of stages, so keep them in sync
#: through this constant. 6 is an oracle-bounded test constant — a
#: production tokenizer run uses K in the thousands (e.g. ~30k-vocab
#: GPT-2-style BPE ~= 30k merge rounds); the loop itself is already
#: K-round vocab-bound (each round is one vocab-frame pass + a one-row
#: argmax collect, never a corpus pass), so raising K changes only the
#: unrolled depth of the DuckDB oracle twin, not the Spark plan shape.
BPE_MERGE_ROUNDS = 6


def _bpe_merge_fold(a: str, b: str):
    """Column expression: apply merge rule (a, b) -> a||b to a symbol
    array by the standard BPE leftmost-greedy fold (re-scan semantics:
    merging [x, a, b, ...] makes the NEW last symbol a||b eligible for
    the next comparison — plain string replace over a joined form
    cannot express this for immediately repeating pairs, which is why
    both engines run an explicit fold)."""
    merged = F.lit(a + b)
    return F.aggregate(
        F.col("syms"),
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(merged)
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def text_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary learning (Sennrich et al., "Neural
    Machine Translation of Rare Words with Subword Units"): learn the
    first BPE_MERGE_ROUNDS merge rules over the corpus — per round,
    the most frequent adjacent symbol pair (corpus-frequency weighted,
    ties broken lexicographically) is merged everywhere and the next
    round recounts. Returns (merge_rank, left_sym, right_sym, merged,
    pair_count), the head of the merge table a tokenizer trainer
    produces.

    Scale design — the classic two-phase reduction:
      1. corpus -> WORD FREQUENCY TABLE: one explode + partial-agg
         groupBy(word). This is the only pass over the 100 TB corpus;
         everything after operates on the vocabulary, which is bounded
         by distinct words, not corpus size.
      2. K merge rounds over the vocab frame: each is a map-side pair
         explode (zip_with of the symbol array with its own tail) +
         partial-agg groupBy(pair) + a ONE-ROW argmax collect (bounded
         model state, the k-means-centroid pattern) + a map-side fold
         applying the merge. An eager localCheckpoint per round keeps
         the lineage flat (round k's plan would otherwise embed all
         k-1 prior folds).
    The per-word fold is O(len^2) array building but words are bounded
    (whitespace tokens), so the round cost is vocab-linear.

    Reference parity: the reference has no tokenizer surface; this is
    driver-contract Part C LLM-data scope (the merge-table companion
    to text_pretokenize_bpe_style's pretokenizer counts)."""
    vocab, out_rows = _bpe_learn(spark, sf_dir)
    return local_frame(
        spark,
        out_rows,
        "merge_rank int, left_sym string, right_sym string, "
        "merged string, pair_count long",
    )


def _bpe_learn(spark: SparkSession, sf_dir: str):
    """Shared BPE training loop: returns (final vocab frame
    (w, freq, syms) after BPE_MERGE_ROUNDS folds, merge rows
    [(rank, a, b, a||b, count)]). The word string rides through the
    folds so appliers (text_bpe_apply) can join documents back onto
    their post-merge segmentations. Memoized per documents bytes."""
    # text_bpe_learn_merges and text_bpe_apply are BOTH headline bench
    # entries, and each needs the trained merge table — without the
    # memo the K-collect training loop runs twice per bench pass (r8
    # advisor item). Safe to reuse: the vocab frame is eagerly
    # localCheckpointed (plan-free).
    src = (table_path(sf_dir, "documents"),)
    return memo(spark, ("bpe",), lambda: _train_bpe(spark, sf_dir), sources=src)


def _train_bpe(spark: SparkSession, sf_dir: str):
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    vocab = words.select(
        "w",
        "freq",
        F.transform(
            F.sequence(F.lit(1), F.length("w")),
            lambda i: F.substring("w", i, F.lit(1)),
        ).alias("syms"),
    ).localCheckpoint(eager=True)

    out_rows = []
    for rank in range(1, BPE_MERGE_ROUNDS + 1):
        n_pairs = F.size("syms") - 1
        pairs = vocab.select(
            "freq",
            F.explode(
                F.zip_with(
                    F.slice("syms", 1, n_pairs),
                    F.slice("syms", 2, n_pairs),
                    lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        out_rows.append((rank, a, b, a + b, cnt))
        prev, vocab = vocab, vocab.select(
            "w", "freq", _bpe_merge_fold(a, b).alias("syms")
        ).localCheckpoint(eager=True)
        # the eager checkpoint no longer reads the superseded round
        _release(prev)
    return vocab, out_rows


def _bpe_oracle_sql(rounds: int) -> str:
    """Unrolled DuckDB twin of text_bpe_learn_merges: stage k derives
    pair counts p{k} from vocab v{k}, argmax t{k}, and v{k+1} via a
    recursive-CTE fold identical to _bpe_merge_fold. The WITH chain
    itself comes from _bpe_chain_sql — the single source of the
    per-stage CTEs (the r8 advisor flagged a dead duplicate of the
    chain here that could silently drift) — generated from the same
    BPE_MERGE_ROUNDS constant so the two engines always unroll the
    same depth; this wrapper only adds the t{k} argmax SELECTs."""
    selects = [
        f"""SELECT {k + 1} AS merge_rank, a AS left_sym, b AS right_sym,
       a || b AS merged, CAST(cnt AS BIGINT) AS pair_count FROM t{k}"""
        for k in range(rounds)
    ]
    return _bpe_chain_sql(rounds) + "\n" + "\nUNION ALL\n".join(selects)


def _bpe_chain_sql(rounds: int) -> str:
    """The shared WITH chain (w0, v0, p/t/r/v per stage) ending with
    v{rounds}, the fully-merged vocabulary — used by both the learner
    oracle (reads the t{k} argmaxes) and the apply oracle (joins
    documents onto v{rounds})."""
    parts = [
        """WITH RECURSIVE w0 AS (
  SELECT w, COUNT(*) AS freq
  FROM (SELECT unnest(split(text, ' ')) AS w FROM documents)
  WHERE len(w) > 0 GROUP BY w
),
v0 AS MATERIALIZED (
  SELECT w, freq, list_transform(range(1, len(w) + 1), i -> w[i:i]) AS syms
  FROM w0
)"""
    ]
    for k in range(rounds):
        parts.append(f""",
p{k} AS MATERIALIZED (
  SELECT a, b, SUM(freq) AS cnt FROM (
    SELECT freq, syms[i] AS a, syms[i + 1] AS b
    FROM v{k}, LATERAL unnest(range(1, len(syms))) AS u(i)
  ) GROUP BY a, b
),
t{k} AS MATERIALIZED (SELECT a, b, cnt FROM p{k} ORDER BY cnt DESC, a, b LIMIT 1),
r{k} AS (
  SELECT w, freq, syms, 1 AS pos, CAST([] AS VARCHAR[]) AS out FROM v{k}
  UNION ALL
  SELECT w, freq, syms, pos + 1,
    CASE WHEN len(out) > 0 AND out[-1] = (SELECT a FROM t{k})
              AND syms[pos] = (SELECT b FROM t{k})
         THEN list_append(out[1:len(out) - 1],
                          (SELECT a FROM t{k}) || (SELECT b FROM t{k}))
         ELSE list_append(out, syms[pos]) END
  FROM r{k} WHERE pos <= len(syms)
),
v{k + 1} AS MATERIALIZED (SELECT w, freq, out AS syms FROM r{k} WHERE pos = len(syms) + 1)""")
    return "".join(parts)


TEXT_BPE_SQL = _bpe_oracle_sql(BPE_MERGE_ROUNDS)

QUERIES["text_bpe_learn_merges"] = text_bpe_learn_merges
ORACLES["text_bpe_learn_merges"] = TEXT_BPE_SQL


def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merge table to the corpus: segment every
    document into subword tokens and report per-document tokenizer
    stats — word count, subword token count, and fertility (subwords
    per word, the standard tokenizer-quality metric). Completes the
    tokenizer story: text_bpe_learn_merges trains the merge table,
    this entry encodes with it.

    Scale design: encoding never touches documents character-by-
    character — the fully-merged segmentation lives on the WORD
    frequency table (vocab-sized, built once by the shared training
    loop), and documents join their exploded words onto it
    (corpus-sized equi-join on the word, the only corpus-scale step),
    then reduce per doc with map-side combine. Fertility is int/int
    IEEE division (exact cross-engine) rounded at 6.

    Reference parity: no tokenizer surface in the reference;
    driver-contract Part C LLM-data scope."""
    vocab, _ = _bpe_learn(spark, sf_dir)
    seg = vocab.select("w", F.size("syms").alias("n_sub"))
    d = load_table(spark, sf_dir, "documents")
    doc_words = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.length("w") > 0)
    return (
        doc_words.join(seg, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sub").cast("long").alias("n_subword_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_subword_tokens",
            F.round(
                F.col("n_subword_tokens").cast("double")
                / F.col("n_words").cast("double"),
                6,
            ).alias("fertility"),
        )
    )


TEXT_BPE_APPLY_SQL = (
    _bpe_chain_sql(BPE_MERGE_ROUNDS)
    + f"""
SELECT doc_id,
       COUNT(*) AS n_words,
       CAST(SUM(len(v.syms)) AS BIGINT) AS n_subword_tokens,
       ROUND(CAST(SUM(len(v.syms)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS fertility
FROM (
  SELECT doc_id, unnest(split(text, ' ')) AS w FROM documents
) dw
JOIN v{BPE_MERGE_ROUNDS} v ON dw.w = v.w
WHERE len(dw.w) > 0
GROUP BY doc_id
"""
)

QUERIES["text_bpe_apply"] = text_bpe_apply
ORACLES["text_bpe_apply"] = TEXT_BPE_APPLY_SQL


def text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM perplexity quality filter (the CCNet / Gopher recipe:
    score each document by a language model trained on a reference
    corpus; outlier-perplexity docs are dropped before pretraining).
    The model is an add-1/2-smoothed bigram LM trained on the corpus
    itself: p(b|a) = (c(ab) + 0.5) / (c(a) + 0.5 * V). Returns
    (doc_id, n_bigrams, cross_entropy, perplexity) for every document
    with at least one bigram, where cross_entropy is the mean negative
    natural log-probability of the document's bigrams and perplexity =
    exp(cross_entropy).

    Scale design (restructured r18, guide §2.3/§2.4): the corpus pair
    stream reduces DIRECTLY to the vocab^2-bounded bigram-type model
    (map-side partial aggregation — each task ships at most its local
    type counts, never instance- or (doc, type)-grain rows), and the
    per-document reduction joins the raw pair stream with the
    broadcast scored model and aggregates by doc_id map-side — the
    exact integer identities n_bigrams = count(instances) and
    total_u = sum(lp_u per instance) make this bit-equal to the old
    (doc_id, a, b)-grain intermediate, whose corpus-sized exchange
    (62.8 MB at sf1, materialized twice: the AQE stage cache did not
    dedup the two consumers) this removes outright. The model is
    localCheckpointed — a BOUNDED barrier (9,310 rows at sf1) — so the
    vocab and scoring consumers read it without re-running the
    explode, and V is derived from the model's own keys plus the
    no-explode single-token-doc scan (distinct(a) u distinct(b) u
    {only token of 1-token docs} is set-identical to distinct over
    all tokens for every input), removing the third full corpus
    explode. -ln p is computed once per bigram TYPE (O(vocab)
    transcendentals, not O(corpus)) and immediately quantized to
    exact micro-nat longs, so the per-document reduction is pure
    integer arithmetic with map-side combine. Interleaved A/B:
    sf1 ~5.2 -> ~3.9 s, sf0.1 ~1.65 -> ~1.34 s, jobs 12 -> 11;
    rows verified equal at sf0.01/sf0.1/sf1.

    Cross-engine parity: the only float crossing the oracle boundary
    per bigram type is round(-ln p, 6) (the fn_math_suite precedent);
    everything downstream of the micro-nat quantization is exact long /
    decimal arithmetic on both engines.

    Reference parity: no LM surface in the reference; driver-contract
    Part C LLM-data scope (quality-scoring family)."""
    d = _docs_wide(spark, sf_dir)
    toks = F.filter(F.split("text", " "), lambda t: F.length(t) > 0)
    t = d.select("doc_id", toks.alias("ts"))
    n_pairs = F.greatest(F.size("ts") - 1, F.lit(0))
    pairs = t.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("ts", 1, n_pairs),
                F.slice("ts", 2, n_pairs),
                lambda x, y: F.struct(x.alias("a"), y.alias("b")),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.a").alias("a_key"), F.col("p.b").alias("b_key"))
    model = (
        pairs.groupBy("a_key", "b_key")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .localCheckpoint(eager=False)
    )
    singles = t.filter(F.size("ts") == 1).select(
        F.element_at("ts", 1).alias("tok")
    )
    vocab = (
        model.select(F.col("a_key").alias("tok"))
        .union(model.select(F.col("b_key").alias("tok")))
        .union(singles)
        .agg(F.count_distinct("tok").alias("v"))
    )
    c_a = F.sum("c_ab").over(Window.partitionBy("a_key"))
    p = (F.col("c_ab").cast("double") + F.lit(0.5)) / (
        c_a.cast("double") + F.lit(0.5) * F.col("v").cast("double")
    )
    scored = model.crossJoin(F.broadcast(vocab)).select(
        "a_key",
        "b_key",
        F.floor(F.round(-F.log(p), 6) * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("lp_u"),
    )
    # r18 (guide §3.1): the broadcast is PINNED to the bounded side.
    # Before the restructure the planner's size estimate for the
    # (doc, a, b)-grain aggregate (an agg above an explode carries the
    # pre-explode scan size) auto-broadcast the CORPUS-GRAIN side — at
    # sf1 a 2.56M-row / ~60 MB hash relation (driver collect 0.9 s +
    # broadcast 0.7 s per run), and one that grows with the corpus,
    # i.e. crosses the 8 GB broadcast cap long before 100 TB (the
    # symspell r17 bug class). `scored` is vocab^2-bounded model state.
    per_doc = (
        pairs.join(F.broadcast(scored), ["a_key", "b_key"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("lp_u").alias("total_u"),
        )
    )
    ce = (
        F.round(
            (
                F.col("total_u").cast("double")
                / (F.lit(1e6) * F.col("n_bigrams").cast("double"))
            ).cast("decimal(38,10)"),
            6,
        )
        .cast("double")
        .alias("cross_entropy")
    )
    out = per_doc.select("doc_id", "n_bigrams", ce)
    return out.select(
        "doc_id",
        "n_bigrams",
        "cross_entropy",
        F.round(F.exp("cross_entropy"), 4).alias("perplexity"),
    )


def _lm_ppl_chain_sql() -> str:
    """The corpus-LM WITH-chain fragment (CTE names lm_*-prefixed),
    terminal CTE `ppl` = (doc_id, n_bigrams, cross_entropy,
    perplexity) per document. Single source for the text_lm_perplexity
    oracle and the CCNet composite (llm/curation.pipeline_ccnet_buckets)."""
    return """lm_t AS (
  SELECT doc_id, list_filter(split(text, ' '), x -> len(x) > 0) AS ts
  FROM documents
), lm_doc_bg AS (
  SELECT doc_id, ts[i] AS a, ts[i + 1] AS b, COUNT(*) AS cnt
  FROM lm_t, LATERAL unnest(range(1, len(ts))) AS u(i)
  GROUP BY doc_id, a, b
), lm_model AS (
  SELECT a, b, SUM(cnt) AS c_ab FROM lm_doc_bg GROUP BY a, b
), lm_scored AS (
  SELECT a, b,
    CAST(FLOOR(ROUND(-ln((CAST(c_ab AS DOUBLE) + 0.5) /
        (CAST(SUM(c_ab) OVER (PARTITION BY a) AS DOUBLE)
         + 0.5 * (SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE)
                  FROM (SELECT unnest(ts) AS tok FROM lm_t)))), 6)
        * 1000000 + 0.5) AS BIGINT) AS lp_u
  FROM lm_model
), lm_per_doc AS (
  SELECT d.doc_id,
         CAST(SUM(d.cnt) AS BIGINT) AS n_bigrams,
         CAST(SUM(d.cnt * s.lp_u) AS BIGINT) AS total_u
  FROM lm_doc_bg d JOIN lm_scored s ON d.a = s.a AND d.b = s.b
  GROUP BY d.doc_id
), ppl AS (
  SELECT doc_id, n_bigrams, cross_entropy,
         ROUND(exp(cross_entropy), 4) AS perplexity
  FROM (
    SELECT doc_id, n_bigrams,
      CAST(ROUND(CAST(CAST(total_u AS DOUBLE)
          / (1000000.0 * CAST(n_bigrams AS DOUBLE)) AS DECIMAL(38,10)), 6)
        AS DOUBLE) AS cross_entropy
    FROM lm_per_doc
  )
)"""


TEXT_LM_PPL_SQL = f"""
WITH {_lm_ppl_chain_sql()}
SELECT doc_id, n_bigrams, cross_entropy, perplexity FROM ppl
"""

QUERIES["text_lm_perplexity"] = text_lm_perplexity
ORACLES["text_lm_perplexity"] = TEXT_LM_PPL_SQL


def _entropy_from_typed_counts(counts: DataFrame) -> DataFrame:
    """Shared JVM tail of the entropy scorers: from a frame of
    (doc_id, lang, n_c, n_chars_counted) rows — one row per (doc, char
    TYPE) with the per-doc total already attached — quantize
    -p ln p to exact micro-nat longs (the transcendental runs once per
    type row) and reduce per doc with integer arithmetic, so both
    engines agree bit-for-bit."""
    p = F.col("n_c").cast("double") / F.col("n_chars_counted").cast("double")
    terms = counts.select(
        "doc_id",
        "lang",
        "n_chars_counted",
        F.floor(F.round(-(p * F.log(p)), 6) * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("h_u"),
    )
    return (
        terms.groupBy("doc_id", "lang", "n_chars_counted")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_char_types"),
            F.sum("h_u").alias("h_total_u"),
        )
        .select(
            "doc_id",
            "lang",
            F.col("n_chars_counted").cast("long").alias("n_chars_counted"),
            "n_char_types",
            F.round(
                (F.col("h_total_u").cast("double") / F.lit(1e6)).cast(
                    "decimal(38,10)"
                ),
                6,
            )
            .cast("double")
            .alias("char_entropy"),
        )
    )


def text_entropy_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality signal (the Gopher-family cheap
    filter: binary blobs, mojibake, and boilerplate repetition all
    show as entropy outliers): per document, the Shannon entropy of
    its character distribution, H = -sum_c p_c ln p_c over character
    TYPES, plus the type count. Documents with no characters are
    absent (no distribution to score).

    Scale design (r11 A/B, BASELINE §21): the registered plan counts
    char types with ONE Arrow `collections.Counter` pass per document
    — each input row already holds its whole document, so the
    (doc, char-type, count, doc-total) rows come out map-side COMPLETE
    with zero shuffle and no corpus-char explode. The only exchange in
    the plan is the final per-doc groupBy. The explode twin
    (`text_entropy_scores_explode`, pinned output-equal by pytest)
    needs the explode plus three exchanges (type-count groupBy, doc
    window, final groupBy) and measured 2.4x slower at sf1 — the
    shingles()/lm_perplexity precedent, recorded so the explode isn't
    re-tried. The transcendental + micro-nat quantization stay
    JVM-side in the shared `_entropy_from_typed_counts` tail, so both
    variants and the oracle agree bit-for-bit (Python round() is
    banker's, F.round is HALF_UP — the Counter pass emits only exact
    integers).

    Cross-engine parity note: Python iteration and DuckDB's
    split(text, '') both yield per-codepoint sequences on this corpus
    (BMP-only; astral chars would split to UTF-16 surrogate halves on
    the JVM) — the differential at both SFs pins the agreement.
    Reference parity: none — driver-contract Part C quality family."""
    d = _docs_wide(spark, sf_dir)

    def count_batches(it):
        # closure, not a module function (executor sys.path rule)
        from collections import Counter

        import pandas as _pd

        for pdf in it:
            doc_ids: list = []
            langs: list = []
            n_cs: list = []
            totals: list = []
            for doc_id, lang, text in zip(
                pdf["doc_id"], pdf["lang"], pdf["text"]
            ):
                # empty documents are absent by definition (no
                # distribution to score) — same pre-filter as the
                # explode twin
                if not text:
                    continue
                cnt = Counter(text)
                total = len(text)
                for n in cnt.values():
                    doc_ids.append(doc_id)
                    langs.append(lang)
                    n_cs.append(n)
                    totals.append(total)
            yield _pd.DataFrame(
                {
                    "doc_id": _pd.Series(doc_ids, dtype="int64"),
                    "lang": _pd.Series(langs, dtype="object"),
                    "n_c": _pd.Series(n_cs, dtype="int64"),
                    "n_chars_counted": _pd.Series(totals, dtype="int64"),
                }
            )

    counts = d.select("doc_id", "lang", "text").mapInPandas(
        count_batches,
        schema="doc_id long, lang string, n_c long, n_chars_counted long",
    )
    return _entropy_from_typed_counts(counts)


def text_entropy_scores_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The all-native explode twin of text_entropy_scores: char explode
    -> (doc, char) type counts -> per-doc totals as a window over
    doc_id. Kept unregistered as the zero-Python reference
    implementation (image_resize_native convention), pinned
    output-equal to the Arrow plan by pytest; 2.4x slower at sf1 (the
    corpus-char explode plus two extra exchanges — the groupBy is on
    (doc_id, lang, c), so the doc_id window and the final groupBy each
    re-shuffle; ADVICE r10 corrected the old no-second-shuffle claim),
    which is why it is not the registered plan."""
    d = load_table(spark, sf_dir, "documents")
    # split('', '') yields [''] on BOTH engines (one phantom empty-string
    # "character"), so empty documents must be excluded BEFORE the
    # explode or they score as a 1-char distribution instead of being
    # absent (round-10 review finding; the oracle differential can't
    # catch it because both engines agree on the wrong answer)
    ch = d.filter(F.length("text") > 0).select(
        "doc_id", "lang", F.explode(F.split("text", "")).alias("c")
    )
    counts = ch.groupBy("doc_id", "lang", "c").agg(
        F.count(F.lit(1)).alias("n_c")
    )
    w = Window.partitionBy("doc_id")
    counts = counts.withColumn("n_chars_counted", F.sum("n_c").over(w))
    return _entropy_from_typed_counts(counts)


TEXT_ENTROPY_SQL = """
WITH ch AS (
  SELECT doc_id, lang, unnest(split(text, '')) AS c FROM documents
  WHERE length(text) > 0
), counts AS (
  SELECT doc_id, lang, c, COUNT(*) AS n_c FROM ch GROUP BY doc_id, lang, c
), terms AS (
  SELECT doc_id, lang,
    SUM(n_c) OVER (PARTITION BY doc_id) AS n_chars_counted,
    CAST(FLOOR(ROUND(-((CAST(n_c AS DOUBLE)
          / CAST(SUM(n_c) OVER (PARTITION BY doc_id) AS DOUBLE))
        * ln(CAST(n_c AS DOUBLE)
          / CAST(SUM(n_c) OVER (PARTITION BY doc_id) AS DOUBLE))), 6)
      * 1000000 + 0.5) AS BIGINT) AS h_u
  FROM counts
)
SELECT doc_id, lang,
       CAST(n_chars_counted AS BIGINT) AS n_chars_counted,
       CAST(COUNT(*) AS BIGINT) AS n_char_types,
       CAST(ROUND(CAST(CAST(SUM(h_u) AS DOUBLE) / 1000000.0
            AS DECIMAL(38,10)), 6) AS DOUBLE) AS char_entropy
FROM terms GROUP BY doc_id, lang, n_chars_counted
"""

QUERIES["text_entropy_scores"] = text_entropy_scores
ORACLES["text_entropy_scores"] = TEXT_ENTROPY_SQL
