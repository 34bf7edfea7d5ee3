r"""Text-analysis operators over ``documents`` — the training-data-pipeline
surface (BASELINE.json north star): per-document stats, quality scoring,
token counting, language ID, and content fingerprinting.

Everything is built-in Spark SQL functions — no Python in the row loop,
so these run at full codegen speed over 100 TB of text. Each shared text
primitive (tokenizers, word and stop-word counts, the quality composite)
is defined once, its Spark builder beside its DuckDB twin: below, and in
dedup.py for the whitespace tokenizer, the word count and the shingles.
Java and RE2 regexes differ in places (``\s`` matches U+000B in Java
only), so those builders spell their patterns to match RE2.
"""

from __future__ import annotations

from gluettalax_spark.memory import CKPT_LEVEL

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gluettalax_spark.operators.dedup import (
    _SHINGLES_CTE,
    _WORD_COUNT_DUCK,
    _WORDS_DUCK,
    _WS_TOKENS_DUCK,
    WORDS_SQL,
    _duck_hex_int,
    _tokens_col,
    capped_bucket_pairs,
    duck_capped_bucket_pairs,
    duck_ngram,
    shingles_exploded,
    word_count,
)
from gluettalax_spark.registry import register
from gluettalax_spark.tables import load, load_spread

# --------------------------------------------------------------------------
# Shared text primitives: each Spark builder beside its DuckDB twin. The
# whitespace tokenizer, the word count and the n-gram shingles live in
# dedup.py.
# --------------------------------------------------------------------------

_STOP_WORDS = "the|and|of|to|is|a|in"
#: Spark SQL text of the stop-word hit count over ``lower(text)`` (long).
STOP_COUNT_SQL = rf"CAST(size(regexp_extract_all(lower(text), '\\b({_STOP_WORDS})\\b', 0)) AS LONG)"
_STOP_HITS_DUCK = rf"len(regexp_extract_all(lower(text), '\b({_STOP_WORDS})\b'))"


def term_tokens() -> Column:
    """Lowercase alphanumeric terms of ``text`` of 3+ characters."""
    return F.expr("filter(split(lower(text), '[^a-z0-9]+'), t -> length(t) >= 3)")


_TERM_TOKENS_DUCK = r"list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) >= 3)"


def _quality_parts() -> tuple:
    """(len_score, stop_ratio, punct_ratio, quality) columns over the
    ``text`` column: the document quality composite every quality-keyed
    operator shares. The DuckDB twin of ``quality`` is ``_QUALITY_DUCK``."""
    n_chars = F.length("text")
    n_tokens = word_count()
    n_stop = F.expr(STOP_COUNT_SQL)
    n_punct = F.length(F.regexp_replace(F.col("text"), "[^.,!?;:]", "")).cast("long")
    len_score = F.least(n_chars / 500.0, F.lit(1.0))
    stop_ratio = n_stop.cast("double") / F.greatest(n_tokens, F.lit(1).cast("long"))
    punct_ratio = n_punct.cast("double") / F.greatest(n_chars.cast("long"), F.lit(1).cast("long"))
    quality = (
        F.floor((0.5 * len_score + 0.4 * stop_ratio + 0.1 * (1.0 - punct_ratio)) * 10000 + 0.5)
        / 10000
    )
    return len_score, stop_ratio, punct_ratio, quality


_QUALITY_DUCK = f"""
    floor((0.5 * least(length(text) / 500.0, 1.0)
        + 0.4 * (CAST({_STOP_HITS_DUCK} AS DOUBLE)
                 / greatest({_WORD_COUNT_DUCK}, 1))
        + 0.1 * (1.0 - CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)
                 / greatest(length(text), 1))) * 10000 + 0.5) / 10000
"""

# --------------------------------------------------------------------------
# Per-document statistics
# --------------------------------------------------------------------------

_TEXT_STATS_ORACLE = rf"""
SELECT
  doc_id,
  length(text)                                                    AS n_chars_actual,
  {_WORD_COUNT_DUCK}            AS n_tokens,
  CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digits,
  round(CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
        / greatest(length(text), 1), 4)                           AS nonspace_ratio
FROM documents
WHERE doc_id < 200
ORDER BY doc_id
"""


@register("text_stats", _TEXT_STATS_ORACLE, doc="per-document character/token statistics")
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    text = F.col("text")
    return docs.select(
        "doc_id",
        F.length(text).cast("long").alias("n_chars_actual"),
        word_count().alias("n_tokens"),
        F.length(F.regexp_replace(text, "[^.,!?;:]", "")).cast("long").alias("n_punct"),
        F.length(F.regexp_replace(text, "[^0-9]", "")).cast("long").alias("n_digits"),
        F.round(
            F.length(F.regexp_replace(text, r"\s", "")).cast("double")
            / F.greatest(F.length(text), F.lit(1)),
            4,
        ).alias("nonspace_ratio"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Corpus-level aggregate by language/source
# --------------------------------------------------------------------------

_TEXT_AGG_ORACLE = rf"""
SELECT
  lang,
  count(*)                                                   AS n_docs,
  CAST(sum(length(text)) AS BIGINT)                          AS total_chars,
  round(avg(length(text)), 4)                                AS avg_chars,
  round(avg(len({_WORDS_DUCK})), 4)        AS avg_tokens,
  count(DISTINCT source)                                     AS n_sources
FROM documents
GROUP BY lang
ORDER BY lang
"""


@register("text_corpus_stats", _TEXT_AGG_ORACLE, doc="corpus rollup by language")
def text_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    n_tokens = word_count()
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("total_chars"),
            F.round(F.avg(F.length("text")), 4).alias("avg_chars"),
            F.round(F.avg(n_tokens), 4).alias("avg_tokens"),
            F.countDistinct("source").alias("n_sources"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Language identification (marker-word n-gram heuristic)
# --------------------------------------------------------------------------

# Ultra-common function words per language; hit counts decide the language.
# CJK is detected by script range instead of word markers.
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "das", "ist"],
    "es": ["el", "la", "los", "que", "es"],
    "fr": ["le", "la", "les", "et", "est"],
}


def _marker_pattern(words: list[str]) -> str:
    alts = "|".join(words)
    return rf"\b({alts})\b"


def lang_score_columns() -> dict[str, Column]:
    """Per-language marker-hit-count columns over lower(text)."""
    lowered = F.lower(F.col("text"))
    cols = {
        # Spark SQL string literals are backslash-escaped ('\b' = backspace),
        # so the regex backslashes must be doubled when embedded.
        lang: F.expr(
            "CAST(size(regexp_extract_all(lower(text), '{}', 0)) AS LONG)".format(
                _marker_pattern(words).replace("\\", "\\\\")
            )
        )
        for lang, words in _LANG_MARKERS.items()
    }
    # CJK script presence (Chinese chars) — count of Han codepoints.
    cols["zh"] = F.length(F.regexp_replace(lowered, r"[^一-鿿]", "")).cast("long")
    return cols


_LANG_ID_ORACLE = r"""
WITH scored AS (
  SELECT
    doc_id,
    lang AS lang_true,
    CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|is)\b')) AS BIGINT)     AS s_en,
    CAST(len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist)\b')) AS BIGINT)  AS s_de,
    CAST(len(regexp_extract_all(lower(text), '\b(el|la|los|que|es)\b')) AS BIGINT)     AS s_es,
    CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|et|est)\b')) AS BIGINT)     AS s_fr,
    CAST(length(regexp_replace(lower(text), '[^一-鿿]', '', 'g')) AS BIGINT)   AS s_zh
  FROM documents
)
SELECT
  doc_id,
  lang_true,
  CASE
    WHEN s_zh >= greatest(s_en, s_de, s_es, s_fr, 1) THEN 'zh'
    WHEN s_en >= greatest(s_de, s_es, s_fr) AND s_en > 0 THEN 'en'
    WHEN s_de >= greatest(s_es, s_fr) AND s_de > 0 THEN 'de'
    WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
    WHEN s_fr > 0 THEN 'fr'
    ELSE 'unknown'
  END AS lang_pred
FROM scored
ORDER BY doc_id
"""


@register("text_lang_id", _LANG_ID_ORACLE, doc="language ID via marker-word heuristic")
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic argmax with a fixed priority order (zh > en > de >
    es > fr) so ties resolve identically on every engine."""
    docs = load(spark, sf_dir, "documents")
    s = lang_score_columns()
    pred = (
        F.when(s["zh"] >= F.greatest(s["en"], s["de"], s["es"], s["fr"], F.lit(1)), "zh")
        .when((s["en"] >= F.greatest(s["de"], s["es"], s["fr"])) & (s["en"] > 0), "en")
        .when((s["de"] >= F.greatest(s["es"], s["fr"])) & (s["de"] > 0), "de")
        .when((s["es"] >= s["fr"]) & (s["es"] > 0), "es")
        .when(s["fr"] > 0, "fr")
        .otherwise("unknown")
    )
    return docs.select("doc_id", F.col("lang").alias("lang_true"), pred.alias("lang_pred")).orderBy(
        "doc_id"
    )


# --------------------------------------------------------------------------
# Quality scoring (length / punctuation / stopword-density composite)
# --------------------------------------------------------------------------

_QUALITY_ORACLE = rf"""
WITH feats AS (
  SELECT
    doc_id,
    length(text) AS n_chars,
    {_WORD_COUNT_DUCK} AS n_tokens,
    CAST({_STOP_HITS_DUCK} AS BIGINT) AS n_stop,
    CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
    {_QUALITY_DUCK.strip()} AS quality
  FROM documents
)
SELECT
  doc_id,
  round(least(n_chars / 500.0, 1.0), 4)                              AS len_score,
  round(CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1), 4)           AS stop_ratio,
  round(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1), 4)           AS punct_ratio,
  quality
FROM feats
ORDER BY doc_id
"""


@register("text_quality_score", _QUALITY_ORACLE, doc="composite document quality score")
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    len_score, stop_ratio, punct_ratio, quality = _quality_parts()
    return docs.select(
        "doc_id",
        F.round(len_score, 4).alias("len_score"),
        F.round(stop_ratio, 4).alias("stop_ratio"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        # Explicit floor-based half-up round for the composite: the exact
        # decimal weights produce values ON the .xxxx5 boundary (e.g.
        # 0.49425), where the engines' built-in round() diverge on the
        # double representation; floor(x·10⁴+0.5) is the identical IEEE
        # op sequence on both engines.
        quality.alias("quality"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Token counting (whitespace + BPE-ish regex) — LLM-pipeline staple
# --------------------------------------------------------------------------

_TOKEN_COUNT_ORACLE = rf"""
SELECT
  doc_id,
  {_WORD_COUNT_DUCK}                       AS ws_tokens,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_ish_tokens,
  CAST(ceil(length(text) / 4.0) AS BIGINT)                                   AS char4_estimate
FROM documents
ORDER BY doc_id
"""


@register("text_token_count", _TOKEN_COUNT_ORACLE, doc="token counting: whitespace, BPE-ish, chars/4")
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three standard estimators. The BPE-ish regex (letter runs, single
    digits, single punctuation) tracks real BPE counts within ~15% on
    latin text; chars/4 is the classic quick estimate."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        word_count().alias("ws_tokens"),
        F.size(F.expr(r"regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]', 0)"))
        .cast("long")
        .alias("bpe_ish_tokens"),
        F.ceil(F.length("text") / 4.0).cast("long").alias("char4_estimate"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Document fingerprinting
# --------------------------------------------------------------------------

def normalized_text() -> Column:
    """Normalization shared by fingerprint + exact dedup: lowercase,
    collapse whitespace runs, trim."""
    return F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))


_FINGERPRINT_ORACLE = r"""
SELECT
  doc_id,
  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))             AS fingerprint,
  substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 8) AS shard_key
FROM documents
ORDER BY doc_id
"""


@register("text_fingerprint", _FINGERPRINT_ORACLE, doc="content fingerprint (md5 of normalized text)")
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 here because both engines expose it for the oracle check; the
    100 TB variant swaps in xxhash64 (same plan shape, ~5× faster)."""
    docs = load(spark, sf_dir, "documents")
    fp = F.md5(normalized_text())
    return docs.select(
        "doc_id", fp.alias("fingerprint"), F.substring(fp, 1, 8).alias("shard_key")
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Winnowing fingerprint (rolling k-gram hashes, window minima)
# --------------------------------------------------------------------------
#
# Classic winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03): hash every
# character k-gram, keep the minimum hash per window of w positions — the
# selected minima are a position-robust fingerprint SET (local edits
# perturb only nearby windows, unlike the whole-document hash above).

WINNOW_K = 8   # k-gram width (chars)
WINNOW_W = 16  # winnowing window (positions)

_WINNOW_ORACLE = f"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM documents
),
grams AS (
  SELECT doc_id, i, md5(substr(t, CAST(i AS INTEGER), {WINNOW_K})) AS h
  FROM norm, unnest(range(1, length(t) - {WINNOW_K} + 2)) AS r(i)
  WHERE length(t) >= {WINNOW_K}
),
winnowed AS (
  SELECT doc_id, (i - 1) // {WINNOW_W} AS win, min(h) AS fp
  FROM grams
  GROUP BY doc_id, (i - 1) // {WINNOW_W}
)
SELECT
  doc_id,
  count(DISTINCT fp) AS n_fingerprints,
  min(fp)            AS min_fingerprint
FROM winnowed
GROUP BY doc_id
ORDER BY doc_id
"""


@register(
    "text_winnow_fingerprint",
    _WINNOW_ORACLE,
    doc=f"winnowing: min md5 per {WINNOW_W}-pos window of char {WINNOW_K}-grams",
)
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash fingerprint: every char k-gram hashes, each
    w-position window keeps its minimum — two hash aggregates, both
    map-side combined. The k-gram explode is the scale cost (len(t) rows
    per doc); at 100 TB run it straight after ingestion and store the
    fingerprint set, never recompute. Identical md5/substr formulas on
    both engines make the oracle exact."""
    docs = load(spark, sf_dir, "documents")
    norm = docs.select("doc_id", normalized_text().alias("t")).filter(
        F.length("t") >= WINNOW_K
    )
    grams = norm.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("t") - WINNOW_K + 1)).alias("i"),
        "t",
    ).select("doc_id", "i", F.md5(F.expr(f"substr(t, i, {WINNOW_K})")).alias("h"))
    winnowed = grams.groupBy(
        "doc_id", ((F.col("i") - 1) / WINNOW_W).cast("long").alias("win")
    ).agg(F.min("h").alias("fp"))
    return (
        winnowed.groupBy("doc_id")
        .agg(
            F.countDistinct("fp").alias("n_fingerprints"),
            F.min("fp").alias("min_fingerprint"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Quality FILTERING with reject reasons (the actionable form of scoring)
# --------------------------------------------------------------------------

_FILTER_REPORT_ORACLE = rf"""
WITH feats AS (
  SELECT
    doc_id, lang,
    length(text) AS n_chars,
    {_WORD_COUNT_DUCK} AS n_tokens,
    CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT) AS n_punct
  FROM documents
),
judged AS (
  SELECT lang,
    CASE
      WHEN n_chars < 100 THEN 'too_short'
      WHEN n_tokens < 20 THEN 'too_few_tokens'
      WHEN CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) > 0.1 THEN 'too_much_punct'
      ELSE 'kept'
    END AS verdict
  FROM feats
)
SELECT lang, verdict, count(*) AS n_docs
FROM judged
GROUP BY lang, verdict
ORDER BY lang, verdict
"""


@register("text_filter_report", _FILTER_REPORT_ORACLE, doc="quality filter with per-reason reject counts")
def text_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable form of quality scoring: each document gets a
    verdict (first failing rule wins — rule ORDER is part of the
    contract), aggregated per language. A production filter keeps the
    'kept' branch and writes the verdict breakdown as the audit metric:
    monitoring WHAT was dropped and WHY is how corpus regressions get
    caught. One projection + one aggregate, no extra scans."""
    docs = load(spark, sf_dir, "documents")
    n_chars = F.length("text")
    n_tokens = word_count()
    n_punct = F.length(F.regexp_replace(F.col("text"), "[^.,!?;:]", "")).cast("long")
    punct_ratio = n_punct.cast("double") / F.greatest(n_chars.cast("long"), F.lit(1).cast("long"))
    verdict = (
        F.when(n_chars < 100, "too_short")
        .when(n_tokens < 20, "too_few_tokens")
        .when(punct_ratio > 0.1, "too_much_punct")
        .otherwise("kept")
    )
    return (
        docs.select("lang", verdict.alias("verdict"))
        .groupBy("lang", "verdict")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "verdict")
    )


# --------------------------------------------------------------------------
# Fuzzy prefix matching (blocked Levenshtein — typo-level near-titles)
# --------------------------------------------------------------------------

_FUZZY_MAX_BLOCK = 512

_FUZZY_ORACLE = f"""
WITH prefixes AS (
  SELECT doc_id, lang,
         substr(lower(text), 1, 24) AS pfx,
         CAST(n_chars // 200 AS BIGINT) AS size_block
  FROM documents
),
{duck_capped_bucket_pairs("prefixes", ["lang", "size_block"], "doc_id", ("pfx",), _FUZZY_MAX_BLOCK)},
pairs AS (
  SELECT doc_a, doc_b, CAST(levenshtein(pfx_a, pfx_b) AS BIGINT) AS edit_dist
  FROM (SELECT * FROM clique UNION ALL SELECT * FROM star)
)
SELECT doc_a, doc_b, edit_dist
FROM pairs
WHERE edit_dist <= 6
ORDER BY doc_a, doc_b
"""


@register("text_fuzzy_prefix_pairs", _FUZZY_ORACLE, doc="blocked Levenshtein on 24-char prefixes")
def text_fuzzy_prefix_pairs(
    spark: SparkSession, sf_dir: str, max_block: int = _FUZZY_MAX_BLOCK
) -> DataFrame:
    """Edit-distance near-matching with BLOCKING (same language + same
    size bucket) so the quadratic Levenshtein only runs inside blocks —
    the classic fuzzy-join discipline: candidate generation must be an
    equi-join, the expensive metric only verifies. Both engines share one
    Levenshtein definition (unit insert/delete/substitute).

    Unlike the dedup band joins, this blocking key has FIXED cardinality
    (languages × size buckets) — block occupancy grows linearly with the
    corpus, so at scale the bucket cap is load-bearing, not just
    adversarial insurance: blocks past ``max_block`` degrade to star
    candidates around the block's min doc_id (dedup.capped_bucket_pairs),
    each still Levenshtein-verified. The cap engages already at sf0.1
    (blocks >512 docs), so the ORACLE replays it — the cap is part of
    the operator spec, not a silent divergence."""
    docs = load(spark, sf_dir, "documents")
    prefixes = docs.select(
        "doc_id",
        "lang",
        F.substring(F.lower(F.col("text")), 1, 24).alias("pfx"),
        (F.col("n_chars") / 200).cast("long").alias("size_block"),
    )
    return (
        capped_bucket_pairs(prefixes, ["lang", "size_block"], "doc_id", ("pfx",), max_block)
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("pfx_a", "pfx_b").cast("long").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 6)
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# TF-IDF keyword extraction (top terms per document)
# --------------------------------------------------------------------------

_TFIDF_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id,
         {_TERM_TOKENS_DUCK} AS tokens
  FROM documents
),
n_docs AS (SELECT count(*) AS n FROM toks),
tf AS (
  SELECT doc_id, unnest(tokens) AS term FROM toks
),
tf_counts AS (
  SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY doc_id, term
),
df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tf_counts GROUP BY term
),
scored AS (
  SELECT
    t.doc_id, t.term,
    round(t.tf * ln(CAST(n.n AS DOUBLE) / d.df), 4) AS tfidf
  FROM tf_counts t
  JOIN df d ON t.term = d.term
  CROSS JOIN n_docs n
),
ranked AS (
  SELECT doc_id, term, tfidf,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS BIGINT) AS rnk
  FROM scored
)
SELECT doc_id, term, tfidf, rnk
FROM ranked WHERE rnk <= 3
ORDER BY doc_id, rnk
"""


@register("text_tfidf_keywords", _TFIDF_ORACLE, doc="TF-IDF top-3 keywords per document")
def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF from first principles in three aggregates: term counts per
    doc (one shuffle), document frequency per term (one shuffle of the tf
    table), then tf ⋈ df on the term key. The DF table is one row per
    DISTINCT TERM — vocabulary grows with the corpus (Heaps' law), so it
    is NOT broadcast-hinted: AQE broadcasts it while it fits and demotes
    to a shuffled join when it doesn't. Only the 1-row corpus size is
    forced-broadcast. Ranking on ROUNDED scores with a term tiebreak —
    the raw ln() product differs in the last ulp across engines."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        term_tokens().alias("tokens"),
    )
    n_docs = toks.agg(F.count(F.lit(1)).cast("double").alias("n"))
    tf = (
        toks.select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        tf.join(df, "term")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(F.col("tf") * F.log(F.col("n") / F.col("df")), 4).alias("tfidf"),
        )
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .orderBy("doc_id", "rnk")
    )


# --------------------------------------------------------------------------
# PII-style redaction stats (scrubbing pass with audit counts)
# --------------------------------------------------------------------------

_REDACT_ORACLE = r"""
WITH scrubbed AS (
  SELECT
    doc_id, lang,
    CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_hits,
    md5(regexp_replace(text, '[0-9]+', '<NUM>', 'g'))       AS redacted_fp
  FROM documents
)
SELECT
  lang,
  count(*)                                   AS n_docs,
  count(CASE WHEN n_hits > 0 THEN 1 END)     AS docs_redacted,
  CAST(sum(n_hits) AS BIGINT)                AS total_redactions,
  count(DISTINCT redacted_fp)                AS distinct_redacted
FROM scrubbed
GROUP BY lang
ORDER BY lang
"""


@register("text_redact_stats", _REDACT_ORACLE, doc="redaction pass (digit runs → <NUM>) with audit counts")
def text_redact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scrubbing-pass shape every training pipeline needs for PII:
    regexp-replace the sensitive class, and AUDIT the pass — how many
    documents were touched, how many spans, did redaction collapse
    distinct documents together (distinct fingerprint count). All
    JVM-side regex; the real PII patterns (emails, phones, SSNs) drop
    into the same plan as alternations."""
    docs = load(spark, sf_dir, "documents")
    n_hits = F.size(F.expr(r"regexp_extract_all(text, '[0-9]+', 0)")).cast("long")
    redacted_fp = F.md5(F.regexp_replace(F.col("text"), "[0-9]+", "<NUM>"))
    return (
        docs.select("lang", n_hits.alias("n_hits"), redacted_fp.alias("redacted_fp"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("n_hits") > 0, 1)).alias("docs_redacted"),
            F.sum("n_hits").alias("total_redactions"),
            F.countDistinct("redacted_fp").alias("distinct_redacted"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Cross-language vocabulary overlap (corpus-level Jaccard)
# --------------------------------------------------------------------------

_VOCAB_ORACLE = rf"""
WITH vocab AS (
  SELECT lang,
         list_distinct(flatten(list(
           {_TERM_TOKENS_DUCK}
         ))) AS terms
  FROM documents
  GROUP BY lang
)
SELECT
  a.lang AS lang_a,
  b.lang AS lang_b,
  CAST(len(a.terms) AS BIGINT) AS vocab_a,
  CAST(len(b.terms) AS BIGINT) AS vocab_b,
  round(
    CAST(len(list_intersect(a.terms, b.terms)) AS DOUBLE)
    / (len(a.terms) + len(b.terms) - len(list_intersect(a.terms, b.terms))), 4) AS jaccard
FROM vocab a
JOIN vocab b ON a.lang < b.lang
ORDER BY lang_a, lang_b
"""


@register("text_vocab_overlap", _VOCAB_ORACLE, doc="pairwise language vocabulary Jaccard")
def text_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level contamination metric: per-language distinct vocabulary
    (explode + collect_set — the heavy lift, one shuffle), then Jaccard
    over the few language pairs. The pair join touches language-count
    rows; at 100 TB only the vocabulary aggregate scales with data, and
    it map-side combines."""
    docs = load(spark, sf_dir, "documents")
    terms = docs.select("lang", F.explode(term_tokens()).alias("term"))
    vocab = terms.groupBy("lang").agg(F.collect_set("term").alias("terms"))
    a = vocab.select(F.col("lang").alias("lang_a"), F.col("terms").alias("terms_a"))
    b = vocab.select(F.col("lang").alias("lang_b"), F.col("terms").alias("terms_b"))
    inter = F.size(F.array_intersect("terms_a", "terms_b"))
    union = F.size("terms_a") + F.size("terms_b") - inter
    return (
        a.join(b, F.col("lang_a") < F.col("lang_b"))
        .select(
            "lang_a",
            "lang_b",
            F.size("terms_a").cast("long").alias("vocab_a"),
            F.size("terms_b").cast("long").alias("vocab_b"),
            F.round(inter.cast("double") / union, 4).alias("jaccard"),
        )
        .orderBy("lang_a", "lang_b")
    )


# --------------------------------------------------------------------------
# End-to-end corpus preparation pipeline (the north-star composition)
# --------------------------------------------------------------------------

_CORPUS_PREP_ORACLE = rf"""
WITH feats AS (
  SELECT
    doc_id,
    text,
    CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|is)\b')) AS BIGINT)    AS s_en,
    CAST(len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist)\b')) AS BIGINT) AS s_de,
    CAST(len(regexp_extract_all(lower(text), '\b(el|la|los|que|es)\b')) AS BIGINT)    AS s_es,
    CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|et|est)\b')) AS BIGINT)    AS s_fr,
    CAST(length(regexp_replace(lower(text), '[^一-鿿]', '', 'g')) AS BIGINT)            AS s_zh,
    {_WORD_COUNT_DUCK} AS n_tokens,
    {_QUALITY_DUCK.strip()} AS quality
  FROM documents
),
labeled AS (
  SELECT
    doc_id, text, n_tokens, quality,
    CASE
      WHEN s_zh >= greatest(s_en, s_de, s_es, s_fr, 1) THEN 'zh'
      WHEN s_en >= greatest(s_de, s_es, s_fr) AND s_en > 0 THEN 'en'
      WHEN s_de >= greatest(s_es, s_fr) AND s_de > 0 THEN 'de'
      WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
      WHEN s_fr > 0 THEN 'fr'
      ELSE 'unknown'
    END AS lang_pred
  FROM feats
),
kept AS (
  SELECT * FROM labeled WHERE lang_pred <> 'unknown' AND quality >= 0.5
),
ranked AS (
  SELECT doc_id, lang_pred, quality, n_tokens,
         row_number() OVER (
           PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
           ORDER BY doc_id
         ) AS rn
  FROM kept
)
SELECT doc_id, lang_pred, quality, n_tokens AS ws_tokens
FROM ranked
WHERE rn = 1
ORDER BY doc_id
"""


@register(
    "corpus_prep_pipeline",
    _CORPUS_PREP_ORACLE,
    doc="lang-ID -> quality filter -> exact dedup, composed end-to-end",
)
def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-star training-data flow as ONE composed plan: language-ID
    (marker heuristic), quality gate (>= 0.5 composite), then exact dedup
    keeping the min-doc_id copy — emitting the surviving corpus with its
    whitespace token counts.

    Plan shape: the scoring stage is a single codegen'd projection (zero
    shuffles); the quality/lang filter runs BEFORE the dedup window, so
    the only wide exchange — hash-partitioning by content fingerprint —
    moves already-filtered, already-projected rows (doc_id, 16-byte hash,
    3 small columns; never the text). At 100 TB the filter typically
    drops 30-60% of raw crawl before anything shuffles, which is the
    difference between a viable dedup and an impossible one.
    """
    docs = load(spark, sf_dir, "documents")
    s = lang_score_columns()
    lang_pred = (
        F.when(s["zh"] >= F.greatest(s["en"], s["de"], s["es"], s["fr"], F.lit(1)), "zh")
        .when((s["en"] >= F.greatest(s["de"], s["es"], s["fr"])) & (s["en"] > 0), "en")
        .when((s["de"] >= F.greatest(s["es"], s["fr"])) & (s["de"] > 0), "de")
        .when((s["es"] >= s["fr"]) & (s["es"] > 0), "es")
        .when(s["fr"] > 0, "fr")
        .otherwise("unknown")
    )
    *_rest, quality = _quality_parts()
    fingerprint = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")))
    kept = (
        docs.select(
            "doc_id",
            lang_pred.alias("lang_pred"),
            quality.alias("quality"),
            word_count().alias("ws_tokens"),
            fingerprint.alias("fingerprint"),
        )
        .filter((F.col("lang_pred") != "unknown") & (F.col("quality") >= 0.5))
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        kept.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang_pred", "quality", "ws_tokens")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Benchmark decontamination (train-vs-eval n-gram collisions)
# --------------------------------------------------------------------------

_DECONTAM_ORACLE = rf"""
WITH {_SHINGLES_CTE.strip()},
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
eval_sh AS (
  SELECT DISTINCT s FROM ex JOIN documents USING (doc_id) WHERE source = 'src0'
),
train AS (
  SELECT ex.doc_id, s FROM ex JOIN documents d USING (doc_id) WHERE d.source <> 'src0'
),
tot AS (SELECT doc_id, count(*) AS n_shingles FROM train GROUP BY doc_id),
hit AS (SELECT doc_id, count(*) AS n_hits FROM train JOIN eval_sh USING (s) GROUP BY doc_id)
SELECT
  t.doc_id,
  t.n_shingles,
  h.n_hits,
  round(CAST(h.n_hits AS DOUBLE) / t.n_shingles, 4) AS contamination
FROM tot t JOIN hit h USING (doc_id)
ORDER BY doc_id
"""


@register(
    "decontaminate_eval_overlap",
    _DECONTAM_ORACLE,
    doc="train-vs-eval shingle collisions: per-doc contamination ratio",
)
def decontaminate_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs from source 'src0' play the eval
    set; every other doc is scored by how many of its distinct word
    3-gram shingles collide with the eval set (production pipelines use
    the same shape with 8-13-grams).

    Scale design: the eval side is benchmarks — thousands of docs against
    a 100 TB corpus — so its distinct-shingle set is BROADCAST and the
    corpus never shuffles for the probe; the only wide exchanges are the
    per-doc count aggregates, which carry (doc_id, long) rows.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    sh = shingles_exploded(spark, sf_dir)
    eval_sh = (
        sh.join(docs.filter(F.col("source") == "src0"), "doc_id").select("s").distinct()
    )
    train = (
        sh.join(docs.filter(F.col("source") != "src0"), "doc_id")
        .dropDuplicates(["doc_id", "s"])
        .select("doc_id", "s")
    )
    tot = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hit = (
        train.join(F.broadcast(eval_sh), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        tot.join(hit, "doc_id")
        .select(
            "doc_id",
            "n_shingles",
            "n_hits",
            F.round(F.col("n_hits").cast("double") / F.col("n_shingles"), 4).alias(
                "contamination"
            ),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Bloom-prefiltered decontamination (the 100 TB probe path)
# --------------------------------------------------------------------------

# Bloom parameters: k hash probes, bit count = a power of two >= ~14 bits
# per eval shingle (k=7, 14 bits/item ~ 1% false-positive rate). The FPP
# only costs extra rows into the exact verify join; it never changes the
# output.
_BLOOM_K = 7
_BLOOM_BITS_PER_ITEM = 14
_BLOOM_MIN_BITS = 1 << 13
#: Hard cap on distinct eval shingles collected to the driver. Real
#: decontamination setups hold the eval corpus contractually small
#: (thousands of docs vs a 100 TB train corpus); 50M distinct shingles
#: ≈ 800 MB of driver pandas, the most a sane config should ever need.
#: A misconfigured eval split (e.g. the predicate accidentally selecting
#: the train corpus) fails loudly here instead of OOMing the driver.
_BLOOM_EVAL_SHINGLE_CAP = 50_000_000


def _bloom_build(hashes):
    """numpy Bloom filter over int64 hash values → (bits: bytes, m: int).

    Kirsch-Mitzenmacher double hashing: probe_i = (h1 + i*h2) mod m with
    h1/h2 derived from the 60-bit input hash, m a power of two (h2 forced
    odd so the probe sequence cycles the whole table)."""
    import numpy as np

    n = max(int(len(hashes)), 1)
    m = _BLOOM_MIN_BITS
    while m < n * _BLOOM_BITS_PER_ITEM:
        m <<= 1
    bits = np.zeros(m >> 3, dtype=np.uint8)
    if len(hashes):
        h = np.asarray(hashes, dtype=np.int64).astype(np.uint64)
        mask = np.uint64(m - 1)
        h1 = h & mask
        h2 = (h >> np.uint64(29)) | np.uint64(1)
        for i in range(_BLOOM_K):
            pos = (h1 + np.uint64(i) * h2) & mask
            np.bitwise_or.at(
                bits,
                (pos >> np.uint64(3)).astype(np.int64),
                (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)),
            )
    return bits.tobytes(), m


_DECONTAM_BLOOM_ORACLE = rf"""
WITH {_SHINGLES_CTE.strip()},
ex0 AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
hashed AS (SELECT doc_id, md5(s) AS m FROM ex0),
ex AS (SELECT DISTINCT doc_id, {{hs}} AS hs FROM hashed),
eval_h AS (
  SELECT DISTINCT hs FROM ex JOIN documents USING (doc_id) WHERE source = 'src0'
),
train AS (
  SELECT ex.doc_id, d.source, hs
  FROM ex JOIN documents d USING (doc_id) WHERE d.source <> 'src0'
),
hit AS (SELECT t.doc_id, t.source FROM train t JOIN eval_h USING (hs))
SELECT source,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_flagged,
       CAST(count(*) AS BIGINT) AS n_hit_shingles
FROM hit
GROUP BY source
ORDER BY source
"""


def _decontam_bloom_oracle() -> str:
    return _DECONTAM_BLOOM_ORACLE.format(hs=_duck_hex_int(1, 15))


@register(
    "decontaminate_bloom",
    _decontam_bloom_oracle(),
    doc="Bloom-prefiltered eval decontamination: bloom probe + exact verify",
)
def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination at the 100 TB shape: the eval set's distinct shingle
    hashes are folded into a BLOOM FILTER (bits, not hashes) broadcast to
    every executor; the corpus probes it with a vectorized numpy
    pandas_udf, so ~99% of train shingles die map-side before any shuffle
    or join. Survivors — true hits plus ~1% false positives — go through
    an exact broadcast verify join, so the output is EXACT (the bloom is
    a prefilter, never the decision), and the DuckDB oracle replays the
    identical 60-bit md5 keyspace without modelling the bloom at all.

    Why this beats the plain broadcast join of
    :func:`decontaminate_eval_overlap` at scale: the broadcast payload is
    m/8 bytes (~1.75 bytes/shingle at 1% FPP) instead of 8-byte hashes in
    a join hash-map (~10× smaller), and the post-probe exchange carries
    only hit candidates instead of every (doc, shingle) pair. The
    eval-side collect is benchmark-scale by contract (thousands of docs
    against a 100 TB corpus) — same driver-side contract as the PQ
    codebook training in ``similarity_topk_pq``.
    """
    import pandas as pd

    h60 = F.expr("CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)").alias("hs")
    # The source split is pushed BELOW the shingling (into the parquet
    # scan): eval and train each shingle only their own corpus slice, so
    # the two branches together cost ONE shingle pass — no checkpoint, no
    # recompute. The bloom is keyed on xxhash64 (JVM-side, ~3× cheaper
    # than md5); the oracle-parity md5 keyspace is computed only for the
    # bloom's survivors.
    # LIMIT cap+1 hard-bounds what can ever reach the driver (the extra
    # row is the tripwire); under the cap, LIMIT returns the full set.
    eval_pdf = (
        shingles_exploded(spark, sf_dir, where=F.col("source") == "src0")
        .select(h60, F.xxhash64("s").alias("hx"))
        .distinct()
        .limit(_BLOOM_EVAL_SHINGLE_CAP + 1)
        .toPandas()
    )
    if len(eval_pdf) > _BLOOM_EVAL_SHINGLE_CAP:
        raise ValueError(
            f"decontaminate_bloom: eval split produced more than "
            f"{_BLOOM_EVAL_SHINGLE_CAP:,} distinct shingles — the eval "
            "corpus must be contractually small (is the eval predicate "
            "selecting the train corpus?); refusing to build a "
            "driver-side Bloom filter from it"
        )
    bits, m = _bloom_build(eval_pdf["hx"].to_numpy())
    bbits = spark.sparkContext.broadcast(bits)

    def _probe(s):
        import numpy as np

        tbl = np.frombuffer(bbits.value, dtype=np.uint8)
        h = s.to_numpy(dtype=np.int64).astype(np.uint64)
        mask = np.uint64(m - 1)
        h1 = h & mask
        h2 = (h >> np.uint64(29)) | np.uint64(1)
        ok = np.ones(len(h), dtype=bool)
        for i in range(_BLOOM_K):
            pos = (h1 + np.uint64(i) * h2) & mask
            byte = tbl[(pos >> np.uint64(3)).astype(np.int64)]
            ok &= (byte & (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))) != 0
        return pd.Series(ok)

    # Real annotation objects (this module stringizes annotations via
    # `from __future__ import annotations`, which pandas_udf can't resolve).
    _probe.__annotations__ = {"s": pd.Series, "return": pd.Series}
    might_contain = F.pandas_udf(_probe, "boolean")

    # Verify side rebuilt from the already-collected hashes — the eval
    # lineage (scan + shingle windows) is not recomputed.
    eval_df = spark.createDataFrame(eval_pdf[["hs"]], schema="hs long")

    train = shingles_exploded(
        spark, sf_dir, carry=("source",), where=F.col("source") != "src0"
    )
    hits = (
        train.filter(might_contain(F.xxhash64("s")))
        .select("doc_id", "source", h60)
        .join(F.broadcast(eval_df), "hs")
        .dropDuplicates(["doc_id", "hs"])
    )
    return (
        hits.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs_flagged"),
            F.count(F.lit(1)).alias("n_hit_shingles"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Fixed-size token chunking (training-sequence construction)
# --------------------------------------------------------------------------

_CHUNK_SIZE = 32

_CHUNK_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id,
         {_WS_TOKENS_DUCK} AS tokens
  FROM documents
),
chunks AS (
  SELECT
    doc_id,
    i AS chunk_idx,
    least((i + 1) * {_CHUNK_SIZE}, len(tokens)) - i * {_CHUNK_SIZE} AS chunk_len,
    array_to_string(
      tokens[i * {_CHUNK_SIZE} + 1 : least((i + 1) * {_CHUNK_SIZE}, len(tokens))], ' '
    ) AS chunk_text
  FROM toks, UNNEST(range(0, CAST(ceil(len(tokens) / {_CHUNK_SIZE}.0) AS BIGINT))) AS t(i)
  WHERE len(tokens) > 0
)
SELECT doc_id, chunk_idx, CAST(chunk_len AS BIGINT) AS chunk_len, chunk_text
FROM chunks
ORDER BY doc_id, chunk_idx
"""


@register(
    "doc_token_chunks",
    _CHUNK_ORACLE,
    doc=f"split documents into {_CHUNK_SIZE}-token training chunks",
)
def doc_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence construction: split each document's normalized
    token stream into fixed {CHUNK}-token chunks (the pre-packing step of
    an LLM data pipeline; production uses 512-8k windows).

    The chunk index comes from ``sequence`` + ``explode`` and the chunk
    itself from ``slice`` — all codegen'd array ops on an already-loaded
    row, so the operator is a zero-shuffle narrow map; output order is the
    only exchange. Chunks inherit the doc's partition, which is what lets
    a downstream ``repartition(n_sequences)`` pack uniformly."""
    docs = load(spark, sf_dir, "documents")
    tokens = _tokens_col()
    C = _CHUNK_SIZE
    toks = docs.select("doc_id", tokens.alias("tokens")).filter(F.size("tokens") > 0)
    n_chunks = F.ceil(F.size("tokens") / F.lit(float(C))).cast("int")
    exploded = toks.select(
        "doc_id", "tokens", F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx")
    )
    chunk_len = F.least(F.lit(C), F.size("tokens") - F.col("chunk_idx") * C)
    return exploded.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        chunk_len.cast("long").alias("chunk_len"),
        F.concat_ws(
            " ", F.slice("tokens", F.col("chunk_idx") * C + F.lit(1), chunk_len)
        ).alias("chunk_text"),
    ).orderBy("doc_id", "chunk_idx")


# --------------------------------------------------------------------------
# Repetition-based quality filter (Gopher/C4-style)
# --------------------------------------------------------------------------

_REPETITION_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id,
         {_WS_TOKENS_DUCK} AS tokens
  FROM documents
),
ex AS (SELECT doc_id, unnest(tokens) AS tok FROM toks),
tc AS (SELECT doc_id, tok, count(*) AS c FROM ex GROUP BY doc_id, tok),
perdoc AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(max(c) AS BIGINT) AS top_count,
         count(*)               AS n_distinct
  FROM tc GROUP BY doc_id
),
bi AS (
  SELECT doc_id,
         len(tokens) - 1 AS n_bigrams,
         len(list_distinct(list_transform(
           range(1, len(tokens)), i -> {duck_ngram(2)}
         ))) AS n_distinct_bigrams
  FROM toks
  WHERE len(tokens) >= 2
)
SELECT
  p.doc_id,
  p.n_tokens,
  round(CAST(p.top_count AS DOUBLE) / p.n_tokens, 4)          AS top_word_frac,
  round(1.0 - CAST(b.n_distinct_bigrams AS DOUBLE) / b.n_bigrams, 4) AS dup_bigram_frac,
  (CAST(p.top_count AS DOUBLE) / p.n_tokens > 0.15
   OR 1.0 - CAST(b.n_distinct_bigrams AS DOUBLE) / b.n_bigrams > 0.07) AS is_repetitive
FROM perdoc p JOIN bi b USING (doc_id)
ORDER BY p.doc_id
"""


@register(
    "text_repetition_filter",
    _REPETITION_ORACLE,
    doc="Gopher-style repetition flags: top-word and duplicate-bigram fractions",
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality gate (the Gopher/C4 family): fraction of tokens
    taken by the single most frequent token, and the duplicate-bigram
    fraction; docs beyond either threshold get flagged.

    Scale shape: token counts shuffle (doc_id, token, count) — partial
    aggregation collapses repeats map-side, so the exchange carries
    distinct tokens per doc, not the raw stream. The bigram stats are
    pure array ops (zero shuffle), then one per-doc aggregate + a join
    on doc_id."""
    docs = load(spark, sf_dir, "documents")
    tokens = _tokens_col()
    toks = docs.select("doc_id", tokens.alias("tokens"))
    tc = (
        toks.select("doc_id", F.explode("tokens").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    perdoc = tc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.max("c").alias("top_count"),
        F.count(F.lit(1)).alias("n_distinct"),
    )
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("tokens") - 1),
        lambda i: F.concat_ws(
            " ", F.element_at("tokens", i), F.element_at("tokens", i + 1)
        ),
    )
    bi = toks.filter(F.size("tokens") >= 2).select(
        "doc_id",
        (F.size("tokens") - 1).cast("long").alias("n_bigrams"),
        F.size(F.array_distinct(bigrams)).cast("long").alias("n_distinct_bigrams"),
    )
    top_frac = F.col("top_count").cast("double") / F.col("n_tokens")
    dup_frac = F.lit(1.0) - F.col("n_distinct_bigrams").cast("double") / F.col("n_bigrams")
    return (
        perdoc.join(bi, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            F.round(top_frac, 4).alias("top_word_frac"),
            F.round(dup_frac, 4).alias("dup_bigram_frac"),
            ((top_frac > 0.15) | (dup_frac > 0.07)).alias("is_repetitive"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Python UDTF (table function) — API-coverage path
# --------------------------------------------------------------------------

_UDTF_TOKEN_ORACLE = rf"""
SELECT doc_id, tok AS token, count(*) AS cnt
FROM (
  SELECT doc_id,
         unnest({_WS_TOKENS_DUCK}) AS tok
  FROM documents
  WHERE doc_id < 50
)
GROUP BY doc_id, tok
ORDER BY doc_id, token
"""


@register(
    "udtf_token_counts",
    _UDTF_TOKEN_ORACLE,
    doc="Python UDTF: per-document token counts via LATERAL table function",
)
def udtf_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UDTF third of the UDF/UDAF/UDTF surface: a Python table
    function LATERAL-joined per document, yielding (token, count) rows
    from a Counter. Row-at-a-time Python is deliberately the
    API-coverage path, NOT the hot path — the same result comes from
    codegen'd explode+groupBy (see ``text_token_count`` /
    ``text_repetition_filter``); a production plan caps UDTF input with
    the pushed-down ``doc_id < 50`` filter exactly as done here."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="token string, cnt bigint")
    class TokenCounts:
        def eval(self, text: str):
            from collections import Counter

            toks = [t for t in text.lower().split() if t]
            for tok, c in sorted(Counter(toks).items()):
                yield tok, c

    spark.udtf.register("gx_token_counts", TokenCounts)
    load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50).createOrReplaceTempView(
        "gx_docs_for_udtf"
    )
    return spark.sql(
        """
        SELECT d.doc_id, t.token, t.cnt
        FROM gx_docs_for_udtf d, LATERAL gx_token_counts(d.text) t
        ORDER BY d.doc_id, t.token
        """
    )


_UDTF_POLY_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id,
         {_WS_TOKENS_DUCK} AS tokens
  FROM documents WHERE doc_id < 20
),
grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(tokens)), i -> {{'w0': tokens[i], 'w1': tokens[i+1]}})) AS g
  FROM toks WHERE len(tokens) >= 2
)
SELECT doc_id, g.w0 AS w0, g.w1 AS w1, count(*) AS cnt
FROM grams
GROUP BY doc_id, g.w0, g.w1
ORDER BY doc_id, w0, w1
"""


@register(
    "udtf_ngrams_poly",
    _UDTF_POLY_ORACLE,
    doc="polymorphic Python UDTF (analyze(): output schema derived from the n argument)",
)
def udtf_ngrams_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 POLYMORPHIC UDTF: ``analyze()`` computes the output schema
    from the constant ``n`` argument at plan time — n=2 yields (w0, w1,
    cnt), n=3 would yield (w0, w1, w2, cnt) — the table-function analog
    of schema-on-read. Like ``udtf_token_counts`` this is API-surface
    coverage with a deliberately capped input (``doc_id < 20`` pushed to
    the scan); the bulk n-gram path is the codegen'd shingle machinery in
    ``operators/dedup.py``."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import LongType, StringType, StructField, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class NgramCounts:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            if not n.isConstantExpression:
                raise ValueError("n must be a constant")
            fields = [StructField(f"w{i}", StringType()) for i in range(n.value)]
            return AnalyzeResult(StructType(fields + [StructField("cnt", LongType())]))

        def eval(self, text: str, n: int):
            from collections import Counter

            toks = [t for t in text.lower().split() if t]
            grams = Counter(tuple(toks[i : i + n]) for i in range(len(toks) - n + 1))
            for g, c in sorted(grams.items()):
                yield (*g, c)

    spark.udtf.register("gx_ngram_counts", udtf(NgramCounts))
    load(spark, sf_dir, "documents").filter(F.col("doc_id") < 20).createOrReplaceTempView(
        "gx_docs_for_poly_udtf"
    )
    return spark.sql(
        """
        SELECT d.doc_id, t.w0, t.w1, t.cnt
        FROM gx_docs_for_poly_udtf d, LATERAL gx_ngram_counts(d.text, 2) t
        ORDER BY d.doc_id, t.w0, t.w1
        """
    )


# --------------------------------------------------------------------------
# Per-language quality-quantile filtering (grouped exact percentiles)
# --------------------------------------------------------------------------

QUALITY_QUANTILE = 0.25  # drop the bottom quartile per language

_QUALITY_BY_LANG_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, lang, {_QUALITY_DUCK} AS quality FROM documents
),
cut AS (
  SELECT lang, round(quantile_cont(quality, {QUALITY_QUANTILE}), 4) AS q25
  FROM scored GROUP BY lang
)
SELECT
  s.lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  max(c.q25) AS cutoff,
  CAST(count(CASE WHEN s.quality >= c.q25 THEN 1 END) AS BIGINT) AS n_kept,
  round(avg(CASE WHEN s.quality >= c.q25 THEN s.quality END), 4) AS kept_avg_quality
FROM scored s JOIN cut c ON s.lang = c.lang
GROUP BY s.lang
ORDER BY s.lang
"""


@register(
    "quality_quantile_filter_by_lang",
    _QUALITY_BY_LANG_ORACLE,
    doc=f"per-language p{int(QUALITY_QUANTILE * 100)} quality cutoff + keep report",
)
def quality_quantile_filter_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality gate: a single global threshold over-prunes
    low-resource languages (their score distributions sit lower), so the
    cutoff is the language's own p25. Spark's exact ``percentile`` uses
    the same continuous-interpolation definition as the oracle's
    ``quantile_cont`` (the events_outlier_mad precedent), and both sides
    compare against the 4-dp ROUNDED cutoff so the keep decision never
    rides a last-ulp difference.

    Scale shape: pass 1 is one groupBy(lang) percentile (the sketchable
    alternative is ``percentile_approx`` — same plan); the cutoff table
    is languages-sized and broadcasts back into a second groupBy. The
    corpus itself is scanned twice, shuffled narrowly twice (lang keys);
    no window, no join wider than the cutoff broadcast."""
    docs = load(spark, sf_dir, "documents")
    *_rest, quality = _quality_parts()
    scored = docs.select("doc_id", "lang", quality.alias("quality"))
    cut = scored.groupBy("lang").agg(
        F.round(F.percentile("quality", F.lit(QUALITY_QUANTILE)), 4).alias("q25")
    )
    return (
        scored.join(F.broadcast(cut), "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.max("q25").alias("cutoff"),
            F.count(F.when(F.col("quality") >= F.col("q25"), 1)).cast("long").alias("n_kept"),
            F.round(F.avg(F.when(F.col("quality") >= F.col("q25"), F.col("quality"))), 4).alias(
                "kept_avg_quality"
            ),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Common-token ratio (corpus-vocabulary quality heuristic)
# --------------------------------------------------------------------------

TOP_VOCAB = 1000

_COMMON_TOKEN_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, unnest({_WS_TOKENS_DUCK}) AS t
  FROM documents
),
vocab AS (
  SELECT t, count(*) AS n,
         row_number() OVER (ORDER BY count(*) DESC, t) AS rnk
  FROM tok GROUP BY t
),
top AS (SELECT t FROM vocab WHERE rnk <= {TOP_VOCAB}),
per_doc AS (
  SELECT tok.doc_id,
         count(*) AS n_tokens,
         count(top.t) AS n_common
  FROM tok LEFT JOIN top ON tok.t = top.t
  GROUP BY tok.doc_id
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_common AS BIGINT) AS n_common,
       round(CAST(n_common AS DOUBLE) / n_tokens, 4) AS common_ratio
FROM per_doc
ORDER BY doc_id
"""


@register(
    "common_token_ratio",
    _COMMON_TOKEN_ORACLE,
    doc=f"fraction of tokens in the corpus top-{TOP_VOCAB} vocabulary",
)
def common_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic gibberish/boilerplate detector (a no-float stand-in
    for a perplexity filter): documents whose tokens rarely appear in
    the corpus's own top-{TOP_VOCAB} vocabulary are either non-linguistic
    or out-of-domain. Integer counts end-to-end — nothing to drift
    cross-engine except the final 4-dp ratio.

    Scale shape: vocabulary = one groupBy(token) then a global top-k —
    planned as TakeOrderedAndProject (no global sort); the winning set is a
    CONSTANT-size broadcast into the per-doc count join. The token
    explode shuffles once for the vocab and once for the per-doc rollup;
    ties at the rank-{TOP_VOCAB} boundary break on the token string so
    both engines pick the same set."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(_tokens_col()).alias("t"),
    )
    vocab = tok.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    top = vocab.orderBy(F.col("n").desc(), "t").limit(TOP_VOCAB).select("t", F.lit(1).alias("_hit"))
    return (
        tok.join(F.broadcast(top), "t", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.count("_hit").cast("long").alias("n_common"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_common",
            F.round(F.col("n_common").cast("double") / F.col("n_tokens"), 4).alias("common_ratio"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# BM25 retrieval (inverted-index shape over the corpus)
# --------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("spark", "join", "window", "fast")  # fixed query term set
BM25_TOPK = 20

_BM25_QUERY_SQL = ", ".join(f"'{t}'" for t in BM25_QUERY)

_BM25_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id,
         {_TERM_TOKENS_DUCK} AS tokens
  FROM documents
),
lens AS (SELECT doc_id, len(tokens) AS dl FROM toks),
corpus AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM lens),
postings AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(tokens) AS term FROM toks)
  WHERE term IN ({_BM25_QUERY_SQL})
  GROUP BY doc_id, term
),
df AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
scored AS (
  SELECT
    p.doc_id,
    ln((c.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
      * p.tf * ({BM25_K1} + 1.0)
      / (p.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * l.dl / c.avgdl)) AS s
  FROM postings p
  JOIN df d USING (term)
  JOIN lens l USING (doc_id)
  CROSS JOIN corpus c
)
SELECT doc_id, round(sum(s), 4) AS bm25,
       CAST(count(*) AS BIGINT) AS n_terms_hit
FROM scored
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT {BM25_TOPK}
"""


@register(
    "text_bm25_search",
    _BM25_ORACLE,
    doc=f"BM25 top-{BM25_TOPK} retrieval for a fixed query (inverted-index shape)",
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval expressed as the inverted-index plan a search
    engine runs: the postings table is built by filtering the exploded
    token stream to the query terms MAP-SIDE (before any shuffle — at
    scale this is the index lookup; only postings for |Q| terms ever
    shuffle, not the corpus vocabulary), document lengths and the corpus
    average come from one narrow aggregate, per-term document frequency
    is |Q| rows (broadcast), and the score is one join + sum + top-k
    (TakeOrderedAndProject). Scoring on ROUNDED sums with a doc_id
    tiebreak keeps the ranking cross-engine exact."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        term_tokens().alias("tokens"),
    )
    lens = toks.select("doc_id", F.size("tokens").alias("dl"))
    corpus = lens.agg(
        F.count(F.lit(1)).cast("double").alias("n"), F.avg("dl").alias("avgdl")
    )
    postings = (
        toks.select("doc_id", F.explode("tokens").alias("term"))
        .filter(F.col("term").isin(*BM25_QUERY))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    s = (
        idf
        * F.col("tf")
        * (BM25_K1 + 1.0)
        / (
            F.col("tf")
            + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        postings.join(F.broadcast(df), "term")
        .join(lens, "doc_id")
        .join(F.broadcast(corpus))
        .select("doc_id", s.alias("s"))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("s"), 4).alias("bm25"),
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(BM25_TOPK)
    )


# --------------------------------------------------------------------------
# PMI bigram collocations (vocabulary/tokenizer statistics)
# --------------------------------------------------------------------------

PMI_MIN_COUNT = 5
PMI_TOPK = 20

_PMI_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id,
         {_TERM_TOKENS_DUCK} AS tokens
  FROM documents
),
bigrams AS (
  SELECT tokens[i] AS term_a, tokens[i + 1] AS term_b
  FROM toks, unnest(range(1, len(tokens))) AS r(i)
  WHERE len(tokens) >= 2
),
uni AS (
  SELECT term, count(*) AS c
  FROM (SELECT doc_id, unnest(tokens) AS term FROM toks)
  GROUP BY term
),
totals AS (
  SELECT (SELECT count(*) FROM bigrams) AS n_bi,
         (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS n_uni
),
big_counts AS (
  SELECT term_a, term_b, count(*) AS c_ab
  FROM bigrams GROUP BY term_a, term_b HAVING count(*) >= {PMI_MIN_COUNT}
)
SELECT
  b.term_a, b.term_b, b.c_ab,
  round(ln((CAST(b.c_ab AS DOUBLE) / t.n_bi)
           / ((CAST(ua.c AS DOUBLE) / t.n_uni) * (CAST(ub.c AS DOUBLE) / t.n_uni))), 4) AS pmi
FROM big_counts b
JOIN uni ua ON ua.term = b.term_a
JOIN uni ub ON ub.term = b.term_b
CROSS JOIN totals t
ORDER BY pmi DESC, term_a, term_b
LIMIT {PMI_TOPK}
"""


@register(
    "text_collocations_pmi",
    _PMI_ORACLE,
    doc=f"top-{PMI_TOPK} PMI bigram collocations (min count {PMI_MIN_COUNT})",
)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over adjacent token pairs — the
    corpus statistic behind merge rules in BPE-style tokenizer training
    and multiword-expression detection. Bigrams explode map-side from
    the token array (no self-join: ``transform`` over the index range
    pairs tokens[i] with tokens[i+1]); ONE aggregation each for bigram
    and unigram counts; the two 1-row totals broadcast. The unigram
    table joins by term key twice — vocabulary-sized, so it is left to
    AQE (broadcast while it fits, shuffle when a real vocab doesn't).
    PMI = ln( p(ab) / (p(a)·p(b)) ) with p(ab) over bigram positions and
    p(·) over token positions; ranking on the ROUNDED score with term
    tiebreaks keeps the top-k cross-engine exact."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        term_tokens().alias("tokens"),
    )
    bigrams = toks.filter(F.size("tokens") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(tokens) - 1), "
                "i -> struct(element_at(tokens, i) AS term_a, element_at(tokens, i + 1) AS term_b))"
            )
        ).alias("bg")
    ).select("bg.term_a", "bg.term_b")
    uni = (
        toks.select(F.explode("tokens").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    big_counts = (
        bigrams.groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= PMI_MIN_COUNT)
    )
    totals = (
        bigrams.agg(F.count(F.lit(1)).cast("double").alias("n_bi"))
        .crossJoin(uni.agg(F.sum("c").cast("double").alias("n_uni")))
    )
    ua = uni.select(F.col("term").alias("term_a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("term").alias("term_b"), F.col("c").alias("c_b"))
    pmi = F.log(
        (F.col("c_ab") / F.col("n_bi"))
        / ((F.col("c_a") / F.col("n_uni")) * (F.col("c_b") / F.col("n_uni")))
    )
    return (
        big_counts.join(ua, "term_a")
        .join(ub, "term_b")
        .join(F.broadcast(totals))
        .select("term_a", "term_b", "c_ab", F.round(pmi, 4).alias("pmi"))
        .orderBy(F.col("pmi").desc(), "term_a", "term_b")
        .limit(PMI_TOPK)
    )


# --------------------------------------------------------------------------
# Unigram log-perplexity (LM-proxy quality filter)
# --------------------------------------------------------------------------

PPL_Q = 1_000_000  # ln(p) quantization: integer micro-nats
PPL_TOPK = 20

_PPL_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, lang,
         {_TERM_TOKENS_DUCK} AS tokens
  FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(tokens) AS term FROM toks)
  GROUP BY doc_id, term
),
uni AS (SELECT term, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY term),
total AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM uni),
q AS (
  SELECT term, CAST(floor(ln(c / t.t) * {PPL_Q}) AS BIGINT) AS q_lnp
  FROM uni CROSS JOIN total t
),
per_doc AS (
  SELECT
    f.doc_id,
    CAST(sum(f.tf) AS BIGINT) AS n_tokens,
    CAST(sum(f.tf * q.q_lnp) AS BIGINT) AS q_sum
  FROM tf f JOIN q USING (term)
  GROUP BY f.doc_id
),
scored AS (
  SELECT d.doc_id, t2.lang, d.n_tokens,
         round(exp(-(CAST(d.q_sum AS DOUBLE) / {PPL_Q}) / d.n_tokens), 4) AS ppl
  FROM per_doc d
  JOIN (SELECT DISTINCT doc_id, lang FROM documents) t2 USING (doc_id)
)
SELECT doc_id, lang, n_tokens, ppl,
       CAST(row_number() OVER (ORDER BY ppl DESC, doc_id) AS BIGINT) AS rnk
FROM scored
ORDER BY ppl DESC, doc_id
LIMIT {PPL_TOPK}
"""


@register(
    "text_unigram_logppl",
    _PPL_ORACLE,
    doc=f"top-{PPL_TOPK} highest unigram log-perplexity docs (LM-proxy quality filter)",
)
def text_unigram_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity per document — the cheap proxy for the
    KenLM-style quality filter every training pipeline runs (high ppl =
    out-of-distribution / junk). Corpus unigram probabilities come from
    the (doc, term, tf) table the per-doc pass needs anyway — one extra
    vocabulary-sized aggregate; the per-doc score is Σ tf·ln p(term),
    which would be a FLOAT SUM whose addend order differs between
    engines, so ln p is quantized to integer micro-nats FIRST
    (floor(ln·1e6)) and the document fold is exact int64 arithmetic —
    bit-identical across engines, same trick as the semantic cliques.
    Output is the worst-k documents by rounded ppl (per-row floats from
    integers — no cross-row float sums anywhere), via
    TakeOrderedAndProject. The vocab join is AQE's choice; only the
    1-row corpus total broadcasts."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        term_tokens().alias("tokens"),
    )
    tf = (
        toks.select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    uni = tf.groupBy("term").agg(F.sum("tf").alias("c"))
    total = uni.agg(F.sum("c").cast("double").alias("t"))
    q = uni.join(F.broadcast(total)).select(
        "term",
        F.floor(F.log(F.col("c") / F.col("t")) * PPL_Q).cast("long").alias("q_lnp"),
    )
    per_doc = (
        tf.join(q, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("q_lnp")).cast("long").alias("q_sum"),
        )
    )
    ppl = F.round(
        F.exp(-(F.col("q_sum").cast("double") / PPL_Q) / F.col("n_tokens")), 4
    )
    scored = per_doc.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id", "lang", "n_tokens", ppl.alias("ppl")
    )
    w = Window.orderBy(F.col("ppl").desc(), "doc_id")
    return (
        scored.orderBy(F.col("ppl").desc(), "doc_id")
        .limit(PPL_TOPK)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .orderBy("rnk")
    )


# --------------------------------------------------------------------------
# Vocabulary coverage curve (tokenizer sizing / OOV budgeting)
# --------------------------------------------------------------------------

VOCAB_CURVE_MAX = 10_000
VOCAB_CHECKPOINTS = (100, 300, 1_000, 3_000, 10_000)

_VOCAB_COVERAGE_ORACLE = rf"""
WITH toks AS (
  SELECT {_TERM_TOKENS_DUCK} AS tokens
  FROM documents
),
cnt AS (
  SELECT term, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(tokens) AS term FROM toks)
  GROUP BY term
),
total AS (SELECT CAST(sum(c) AS BIGINT) AS total_tokens FROM cnt),
top AS (
  SELECT term, c, row_number() OVER (ORDER BY c DESC, term) AS rn
  FROM cnt ORDER BY c DESC, term LIMIT {VOCAB_CURVE_MAX}
)
SELECT
  k.rank_k,
  CAST(count(*) AS BIGINT)                                        AS n_terms,
  CAST(sum(c) AS BIGINT)                                          AS covered_tokens,
  t.total_tokens,
  CAST(sum(c) * 1000000 // t.total_tokens AS BIGINT)              AS coverage_ppm
FROM top
CROSS JOIN (SELECT unnest({list(VOCAB_CHECKPOINTS)}) AS rank_k) k
CROSS JOIN total t
WHERE top.rn <= k.rank_k
GROUP BY k.rank_k, t.total_tokens
ORDER BY k.rank_k
"""


@register(
    "text_vocab_coverage",
    _VOCAB_COVERAGE_ORACLE,
    doc="cumulative corpus-token coverage of the top-N vocabulary at rank checkpoints",
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: what fraction of all corpus tokens the
    top-N most frequent terms cover, at N in {100, 300, 1k, 3k, 10k} —
    the sizing curve behind every tokenizer/vocab decision (and the OOV
    budget a fixed-vocab model pays). Coverage is reported in exact
    integer ppm (covered*1e6 div total) so the compare never rests on a
    cross-engine float division.

    Scale shape: one term-count aggregate (map-side partials) is the only
    full-corpus shuffle; the curve itself needs only the top
    ``VOCAB_CURVE_MAX`` rows — fetched via TakeOrderedAndProject, never a
    global sort — plus the 1-row exact total, which broadcasts. The
    ranking window runs over the already-LIMITed (bounded) vocab slice,
    and each checkpoint's cumulative sum explodes from that slice
    map-side (≤ |checkpoints| × VOCAB_CURVE_MAX tiny rows)."""
    docs = load(spark, sf_dir, "documents")
    cnt = (
        docs.select(F.explode(term_tokens()).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = cnt.agg(F.sum("c").cast("long").alias("total_tokens"))
    top = (
        cnt.orderBy(F.desc("c"), F.asc("term"))
        .limit(VOCAB_CURVE_MAX)
        .withColumn(
            "rn", F.row_number().over(Window.orderBy(F.desc("c"), F.asc("term")))
        )
    )
    ks = F.array(*[F.lit(k) for k in VOCAB_CHECKPOINTS])
    return (
        top.select(
            "c", F.explode(F.filter(ks, lambda k: k >= F.col("rn"))).alias("rank_k")
        )
        .groupBy("rank_k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum("c").cast("long").alias("covered_tokens"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "rank_k",
            "n_terms",
            "covered_tokens",
            "total_tokens",
            # integer `div`, not double /: matches the oracle's // exactly
            # at any magnitude (double division is only ulp-safe while the
            # quotient stays >1 ulp from an integer).
            F.expr("(covered_tokens * 1000000L) div total_tokens").alias("coverage_ppm"),
        )
        .orderBy("rank_k")
    )


# --------------------------------------------------------------------------
# Interpolated bigram log-perplexity (the stronger KenLM-proxy filter)
# --------------------------------------------------------------------------

BIPPL_TOPK = 20

_BIPPL_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id,
         {_TERM_TOKENS_DUCK} AS tokens
  FROM documents
),
bg AS (
  SELECT doc_id, tokens[i] AS a, tokens[i + 1] AS b
  FROM toks, unnest(range(1, len(tokens))) AS r(i)
  WHERE len(tokens) >= 2
),
tf AS (SELECT doc_id, a, b, count(*) AS tf FROM bg GROUP BY doc_id, a, b),
c_ab AS (SELECT a, b, CAST(sum(tf) AS BIGINT) AS n_ab FROM tf GROUP BY a, b),
c_a AS (SELECT a, CAST(sum(n_ab) AS BIGINT) AS n_a FROM c_ab GROUP BY a),
c_b AS (
  SELECT term AS b, CAST(count(*) AS BIGINT) AS n_b
  FROM (SELECT unnest(tokens) AS term FROM toks) GROUP BY term
),
total AS (SELECT CAST(sum(n_b) AS DOUBLE) AS n FROM c_b),
q AS (
  SELECT ab.a, ab.b,
         CAST(floor(ln(0.5 * ab.n_ab / a.n_a + 0.5 * b.n_b / t.n) * {PPL_Q}) AS BIGINT) AS q_lnp
  FROM c_ab ab JOIN c_a a USING (a) JOIN c_b b USING (b) CROSS JOIN total t
),
per_doc AS (
  SELECT f.doc_id,
         CAST(sum(f.tf) AS BIGINT) AS n_bigrams,
         CAST(sum(f.tf * q.q_lnp) AS BIGINT) AS q_sum
  FROM tf f JOIN q USING (a, b)
  GROUP BY f.doc_id
)
SELECT d.doc_id, m.lang, d.n_bigrams,
       round(exp(-(CAST(d.q_sum AS DOUBLE) / {PPL_Q}) / d.n_bigrams), 4) AS ppl
FROM per_doc d
JOIN (SELECT DISTINCT doc_id, lang FROM documents) m USING (doc_id)
ORDER BY ppl DESC, doc_id
LIMIT {BIPPL_TOPK}
"""


@register(
    "text_bigram_logppl",
    _BIPPL_ORACLE,
    doc=f"top-{BIPPL_TOPK} highest interpolated-bigram log-perplexity docs",
)
def text_bigram_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM perplexity per document — one rung up the
    quality-filter ladder from `text_unigram_logppl`: p(b|a) =
    0.5·c(ab)/c(a·) + 0.5·c(b)/N (Jelinek-Mercer with a dyadic lambda),
    where c(a·) is the CONTEXT count (bigrams starting with a — derived
    from the bigram table itself, so the distribution sums to 1 exactly).
    A junk document scores high even when its individual words are
    common but their ORDER is improbable — what the unigram filter
    cannot see.

    Cross-engine exactness: ln p is quantized to integer micro-nats
    (floor) FIRST, so the per-doc fold is exact int64 — no float sums.
    Scale shape: per-doc bigram tf is one shuffle; corpus bigram /
    context / target counts are re-aggregations of that table (vocab-
    not corpus-sized); the probability join keys on (a, b) and AQE picks
    the strategy; only the 1-row total broadcasts; worst-k via
    TakeOrderedAndProject."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        term_tokens().alias("tokens"),
    )
    bg = toks.filter(F.size("tokens") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(tokens) - 1), "
                "i -> struct(element_at(tokens, i) AS a, element_at(tokens, i + 1) AS b))"
            )
        ).alias("g"),
    ).select("doc_id", "g.a", "g.b")
    tf = bg.groupBy("doc_id", "a", "b").agg(F.count(F.lit(1)).alias("tf"))
    c_ab = tf.groupBy("a", "b").agg(F.sum("tf").cast("long").alias("n_ab"))
    c_a = c_ab.groupBy("a").agg(F.sum("n_ab").cast("long").alias("n_a"))
    c_b = (
        toks.select(F.explode("tokens").alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_b"))
    )
    total = c_b.agg(F.sum("n_b").cast("double").alias("n"))
    q = (
        c_ab.join(c_a, "a")
        .join(c_b, "b")
        .join(F.broadcast(total))
        .select(
            "a",
            "b",
            F.floor(
                F.log(
                    0.5 * F.col("n_ab") / F.col("n_a") + 0.5 * F.col("n_b") / F.col("n")
                )
                * PPL_Q
            )
            .cast("long")
            .alias("q_lnp"),
        )
    )
    per_doc = (
        tf.join(q, ["a", "b"])
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            F.sum(F.col("tf") * F.col("q_lnp")).cast("long").alias("q_sum"),
        )
    )
    ppl = F.round(
        F.exp(-(F.col("q_sum").cast("double") / PPL_Q) / F.col("n_bigrams")), 4
    )
    return (
        per_doc.join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "n_bigrams", ppl.alias("ppl"))
        .orderBy(F.col("ppl").desc(), "doc_id")
        .limit(BIPPL_TOPK)
    )


# --------------------------------------------------------------------------
# BPE merge-pair statistics (tokenizer-training primitive)
# --------------------------------------------------------------------------

BPE_TOPK = 20

_BPE_ORACLE = rf"""
WITH words AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
  FROM documents
),
freq AS (
  SELECT w || '>' AS w, c FROM (
    SELECT w, CAST(count(*) AS BIGINT) AS c FROM words GROUP BY w
  )
),
pairs AS (
  SELECT w, c, substring(w, CAST(i AS INTEGER), 2) AS pair
  FROM freq, unnest(range(1, len(w))) AS t(i)
),
scored AS (
  SELECT pair,
         CAST(sum(c) AS BIGINT)            AS score,
         CAST(count(DISTINCT w) AS BIGINT) AS n_words
  FROM pairs GROUP BY pair
)
SELECT pair, score, n_words,
       CAST(row_number() OVER (ORDER BY score DESC, pair) AS BIGINT) AS rank
FROM scored
ORDER BY score DESC, pair
LIMIT {BPE_TOPK}
"""


@register(
    "text_bpe_merge_candidates",
    _BPE_ORACLE,
    doc=f"BPE first-round merge-pair statistics (top-{BPE_TOPK} symbol pairs by corpus count)",
)
def text_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First round of byte-pair-encoding tokenizer training (Sennrich et
    al., "Neural Machine Translation of Rare Words with Subword Units",
    ACL'16): count adjacent symbol pairs across the corpus, weighted by
    word frequency, with an end-of-word marker ``>`` so boundary pairs
    stay distinct — the top pair is the tokenizer's first merge rule.

    Scale shape: BPE trains on the WORD-FREQUENCY DICTIONARY, never on
    running text — the corpus is scanned once into a vocab-sized
    (word, count) table (one shuffle with map-side partial aggregation;
    unique words grow ~O(corpus^0.5) by Heaps' law, so at 100 TB the
    vocab table is millions of rows where the corpus is trillions of
    tokens). The pair explode then fans out of the VOCAB table only
    (avg word length ~5 pairs per distinct word), and the final pair
    aggregation has at most |alphabet|x(|alphabet|+1) groups. Top-k is
    TakeOrderedAndProject; the rank column is a window over the k-row
    limit output. Exact integer counts end to end.

    A full BPE trainer iterates merge -> re-pair; each round is this
    same vocab-sized job with the merged symbol substituted, so the
    per-round cost FALLS as merges grow. Reference analogue: none (the
    reference has no text pipeline); this is LLM-pipeline surface."""
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.expr(r"regexp_extract_all(lower(text), '[a-z]+', 0)")).alias("w")
    )
    freq = (
        words.groupBy("w")
        .agg(F.count("*").cast("long").alias("c"))
        .select(F.concat(F.col("w"), F.lit(">")).alias("w"), "c")
    )
    pairs = freq.select(
        "w",
        "c",
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
    )
    scored = pairs.groupBy("pair").agg(
        F.sum("c").cast("long").alias("score"),
        F.countDistinct("w").cast("long").alias("n_words"),
    )
    top = scored.orderBy(F.desc("score"), "pair").limit(BPE_TOPK)
    return top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("score"), "pair")).cast("long"),
    )


# --------------------------------------------------------------------------
# Iterative BPE training (the full merge-learning loop)
# --------------------------------------------------------------------------

BPE_TRAIN_ROUNDS = 6

# Symbol sequences are rendered with a DOUBLE-space separator and
# double-space padding ('  a  b  >  '), so the literal pattern
# ' L  R ' (one flanking space each side) consumes exactly one space of
# each neighboring separator and the replacement ' LR ' restores the
# invariant. Under this encoding, plain left-to-right non-overlapping
# replace() — identical semantics in Spark SQL, DuckDB, and Python
# str.replace — IS greedy BPE merging: adjacent occurrences stay
# disjoint in the source string, and a pattern can never match inside a
# multi-character symbol (symbols contain no spaces).


def _bpe_train_oracle(rounds: int) -> str:
    """Unrolled DuckDB twin: one MATERIALIZED CTE chain per merge round
    (pair counts -> argmax -> replace), mirroring the Spark loop. The
    CTEs MUST be materialized — default inline-on-reference re-expands
    the chain exponentially in the round count."""
    parts = [
        r"""WITH freq0 AS MATERIALIZED (
  SELECT w, c,
         '  ' || array_to_string(regexp_extract_all(w, '.'), '  ') || '  ' AS sym
  FROM (
    SELECT w || '>' AS w, CAST(count(*) AS BIGINT) AS c
    FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents)
    GROUP BY w
  )
)"""
    ]
    for k in range(1, rounds + 1):
        prev = f"freq{k - 1}"
        parts.append(
            f"""p{k} AS MATERIALIZED (
  SELECT s[CAST(i AS INTEGER)] AS l, s[CAST(i AS INTEGER) + 1] AS r,
         CAST(sum(c) AS BIGINT) AS score
  FROM (SELECT c, string_split(trim(sym), '  ') AS s FROM {prev}) q,
       unnest(range(1, len(q.s))) AS t(i)
  GROUP BY 1, 2
),
b{k} AS MATERIALIZED (
  SELECT l, r, score FROM p{k} ORDER BY score DESC, l, r LIMIT 1
),
freq{k} AS MATERIALIZED (
  SELECT w, c,
         replace(sym, ' ' || b.l || '  ' || b.r || ' ', ' ' || b.l || b.r || ' ') AS sym
  FROM {prev}, b{k} b
),
o{k} AS (
  SELECT CAST({k} AS BIGINT) AS round, b.l AS left_sym, b.r AS right_sym,
         b.l || b.r AS merged, b.score,
         (SELECT CAST(sum(c * len(string_split(trim(sym), '  '))) AS BIGINT)
          FROM freq{k}) AS tokens_after
  FROM b{k} b
)"""
        )
    union = "\nUNION ALL\n".join(f"SELECT * FROM o{k}" for k in range(1, rounds + 1))
    return ",\n".join(parts) + f"\n{union}\nORDER BY round"


_BPE_TRAIN_ORACLE = _bpe_train_oracle(BPE_TRAIN_ROUNDS)

_SYMS = "split(trim(sym), '  ')"


@register(
    "text_bpe_train",
    _BPE_TRAIN_ORACLE,
    doc=f"iterative BPE tokenizer training: {BPE_TRAIN_ROUNDS} merge rounds learned on the word-frequency dictionary",
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full byte-pair-encoding TRAINING loop (Sennrich et al., ACL'16):
    each round counts adjacent symbol pairs over the current symbol
    dictionary, merges the argmax pair everywhere (greedy left-to-right,
    exact — see the separator-encoding note above), and re-counts. The
    output is the learned merge table itself — (round, pair, score) —
    plus the corpus token count after each merge, the monotone
    compression curve a tokenizer team actually tracks.

    Scale shape: identical to `text_bpe_merge_candidates` but iterated —
    ONE corpus scan builds the vocab-sized (word, count, symbols) table
    (unique words grow ~O(corpus^0.5) by Heaps' law), and every round is
    a vocab-sized job: pair explode (~|word| per row), bounded pair
    aggregation, 1-row argmax broadcast back onto the dictionary. The
    dictionary is localCheckpoint-materialized per round (it feeds both
    the pair counts and the merge of the NEXT round — the standard
    iterate-on-dictionary design, same discipline as `graph_kcore`'s
    peel rounds), so plan depth stays one round deep and the corpus is
    never re-read. Per-round cost FALLS as merges shrink the symbol
    sequences. Exact integer counts end to end; the argmax tie-breaks
    deterministically on (score desc, left, right) in both engines.

    Reference analogue: none (no text pipeline in the reference); this
    is LLM-pipeline surface — the training half of a tokenizer, whose
    single-round statistic `text_bpe_merge_candidates` already exposes."""
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.expr(r"regexp_extract_all(lower(text), '[a-z]+', 0)")).alias("w")
    )
    freq = (
        words.groupBy("w")
        .agg(F.count("*").cast("long").alias("c"))
        .select(F.concat(F.col("w"), F.lit(">")).alias("w"), "c")
    )
    cur = freq.select(
        "w",
        "c",
        F.concat(
            F.lit("  "),
            F.array_join(F.expr("regexp_extract_all(w, '.', 0)"), "  "),
            F.lit("  "),
        ).alias("sym"),
    ).localCheckpoint(storageLevel=CKPT_LEVEL)

    out: DataFrame | None = None
    for rnd in range(1, BPE_TRAIN_ROUNDS + 1):
        pairs = (
            cur.withColumn("syms", F.expr(_SYMS))
            .filter(F.expr("size(syms) >= 2"))
            .select(
                "c",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))"
                    )
                ).alias("p"),
            )
            .select("c", "p.l", "p.r")
        )
        best = (
            pairs.groupBy("l", "r")
            .agg(F.sum("c").cast("long").alias("score"))
            .orderBy(F.desc("score"), "l", "r")
            .limit(1)
            # EAGER localCheckpoint (r13 A/B, VERDICT r12 #1): persist is
            # catastrophic here (50 s in the r13 baseline capture — the
            # un-truncated round-over-round replace() plan re-derives
            # prior rounds), and the r12 lazy form measured 3.87 s
            # builder+count vs 2.08+0.93 eager (profile_bpe_lazy/eager).
            # Each round's frames are consumed by the NEXT round's
            # stages at lazy-call time anyway; eager materializes once,
            # cleanly, per round.
            .localCheckpoint(eager=True, storageLevel=CKPT_LEVEL)
        )
        cur = (
            cur.crossJoin(F.broadcast(best.select("l", "r")))
            .select(
                "w",
                "c",
                F.expr(
                    "replace(sym, concat(' ', l, '  ', r, ' '), concat(' ', l, r, ' '))"
                ).alias("sym"),
            )
            .localCheckpoint(eager=True, storageLevel=CKPT_LEVEL)
        )
        stats = cur.agg(
            F.sum(F.col("c") * F.size(F.expr(_SYMS))).cast("long").alias("tokens_after")
        )
        row = best.crossJoin(F.broadcast(stats)).select(
            F.lit(rnd).cast("long").alias("round"),
            F.col("l").alias("left_sym"),
            F.col("r").alias("right_sym"),
            F.concat("l", "r").alias("merged"),
            "score",
            "tokens_after",
        )
        out = row if out is None else out.unionAll(row)
    assert out is not None
    return out.orderBy("round")


# --------------------------------------------------------------------------
# Zipf-law fit of the token rank-frequency curve
# --------------------------------------------------------------------------

_ZIPF_ORACLE = r"""
WITH freq AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents)
  GROUP BY w
),
ranked AS (
  SELECT c, CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS rk FROM freq
),
pts AS (
  SELECT c,
         CAST(floor(ln(rk) * 1000000) AS HUGEINT) AS lx,
         CAST(floor(ln(c)  * 1000000) AS HUGEINT) AS ly
  FROM ranked
),
m AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(c) AS BIGINT)    AS total_tokens,
         sum(lx) AS sx, sum(ly) AS sy,
         sum(lx * lx) AS sxx, sum(lx * ly) AS sxy, sum(ly * ly) AS syy
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_terms,
       total_tokens,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope,
       round((CAST(sy AS DOUBLE)
              - (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE))
                * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE) / 1000000.0, 4) AS intercept_nats,
       round((CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE))
             / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)),
             4) AS r2
FROM m
"""


@register(
    "corpus_token_zipf",
    _ZIPF_ORACLE,
    doc="Zipf-law fit of token rank vs frequency (log-log OLS on exact moment sums)",
)
def corpus_token_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit Zipf's law to the corpus: OLS of ln(frequency) on ln(rank)
    over the full vocabulary — slope near -1 plus a high r2 is the
    classic naturalness check on a text corpus (a scraped corpus whose
    slope collapses toward 0 is template/boilerplate-heavy; one that
    steepens is spammy repetition).

    Exactness: both logs floor-quantize to integer micro-nats (the
    `text_unigram_logppl` precedent — ln is the accepted libm-ulp
    boundary), so all five regression moments are EXACT decimal(38,0)
    sums (HUGEINT in the oracle), order-independent; slope, intercept,
    and r2 are single deterministic double expressions of those
    integers. The r2 denominator multiplies its two factors AFTER the
    double cast — the decimal product would need ~57 digits.

    Scale shape: one corpus scan shuffles to the vocab-sized frequency
    table; the global frequency rank is `exact_global_rank` (range
    shuffle — never a single-task window over millions of vocab rows);
    the moments fold in one bounded aggregate. Reference analogue: none;
    LLM-pipeline corpus-QA surface."""
    from gluettalax_spark.operators.rank import exact_global_rank

    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.expr(r"regexp_extract_all(lower(text), '[a-z]+', 0)")).alias("w")
    )
    freq = words.groupBy("w").agg(F.count("*").cast("long").alias("c"))
    ranked = exact_global_rank(freq, [F.col("c").desc(), F.col("w")], "rk")
    pts = ranked.select(
        "c",
        F.floor(F.log(F.col("rk").cast("double")) * 1_000_000)
        .cast("decimal(38,0)")
        .alias("lx"),
        F.floor(F.log(F.col("c").cast("double")) * 1_000_000)
        .cast("decimal(38,0)")
        .alias("ly"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("c").cast("long").alias("total_tokens"),
        F.sum("lx").cast("decimal(38,0)").alias("sx"),
        F.sum("ly").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("lx") * F.col("ly")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("ly") * F.col("ly")).cast("decimal(38,0)").alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    den_y = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = num / den
    return m.select(
        F.col("n").cast("long").alias("n_terms"),
        "total_tokens",
        F.round(slope, 6).alias("zipf_slope"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double")
            / 1_000_000.0,
            4,
        ).alias("intercept_nats"),
        F.round((num * num) / (den * den_y), 4).alias("r2"),
    )


# --------------------------------------------------------------------------
# Jensen-Shannon divergence of each source's token mix vs the corpus
# --------------------------------------------------------------------------

# Shared term expression (valid in BOTH dialects): the per-(source, term)
# JSD contribution 0.5*p*ln(p/m) + 0.5*q*ln(q/m), with the 0.5 folded
# into the 5e7 quantizer so each pair contributes ONE floor-quantized
# integer — the same exactness discipline as events_drift_psi.
_JSD_TERM = """
floor((
  CASE WHEN c IS NOT NULL THEN
    (CAST(c AS DOUBLE)/ns) * ln((CAST(c AS DOUBLE)/ns)
      / ((CAST(c AS DOUBLE)/ns + CAST(cw AS DOUBLE)/n)/2))
  ELSE 0.0 END
  + (CAST(cw AS DOUBLE)/n) * ln((CAST(cw AS DOUBLE)/n)
      / ((coalesce(CAST(c AS DOUBLE), 0.0)/ns + CAST(cw AS DOUBLE)/n)/2))
) * 50000000)
"""

_JSD_ORACLE = rf"""
WITH tok AS (
  SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
  FROM documents
),
sc AS MATERIALIZED (
  SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
),
vocab AS (SELECT w, CAST(sum(c) AS BIGINT) AS cw FROM sc GROUP BY w),
srcs AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM sc GROUP BY source),
ntot AS (SELECT CAST(sum(cw) AS BIGINT) AS n FROM vocab),
dense AS (
  SELECT s.source, s.ns, v.w, v.cw, t.n, sc.c
  FROM vocab v CROSS JOIN srcs s CROSS JOIN ntot t
  LEFT JOIN sc ON sc.source = s.source AND sc.w = v.w
)
SELECT source,
       CAST(max(ns) AS BIGINT)            AS n_tokens,
       CAST(count(c) AS BIGINT)           AS n_terms_active,
       CAST(sum(CAST({_JSD_TERM} AS BIGINT)) AS BIGINT) AS jsd_e8
FROM dense
GROUP BY source
ORDER BY source
"""


@register(
    "text_js_divergence_sources",
    _JSD_ORACLE,
    doc="Jensen-Shannon divergence of each source's token distribution vs the corpus (integer e8)",
)
def text_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution drift: the Jensen-Shannon divergence
    between each source's token distribution and the whole corpus —
    symmetric, bounded by ln 2, the standard 'is this source from the
    same language mixture?' curation signal (the token-level sibling of
    `events_drift_psi`'s event-mix monitor).

    Exactness: every (source, term) pair contributes ONE floor-quantized
    integer (both KL halves under a single 5e7 = 0.5 * 1e8 quantizer, so
    the per-source JSD is an exact int64 sum; ln is the accepted
    libm-ulp boundary). The q-side term of a word the source never uses
    still contributes q*ln(2)/2 — hence the DENSE (source x vocab) grid:
    the sparse form silently underestimates divergence for small
    sources.

    Scale shape: one corpus scan shuffles to the (source x term) count
    table; vocab and per-source totals re-aggregate from it (vocab-sized
    inputs); the dense grid is vocab x |sources| — vocab-sized times a
    metadata-scale broadcast, joined back on the term key. Nothing after
    the first shuffle touches corpus-scale data."""
    return js_divergence_by_source(load(spark, sf_dir, "documents"))


def js_divergence_by_source(docs: DataFrame) -> DataFrame:
    """JSD core over any frame with (source, text) columns — factored
    out so tests can pin the zero-divergence identity on a
    single-source corpus and hand-checkable two-source splits."""
    tok = docs.select(
        "source",
        F.explode(F.expr(r"regexp_extract_all(lower(text), '[a-z]+', 0)")).alias("w"),
    )
    sc = (
        tok.groupBy("source", "w")
        .agg(F.count("*").cast("long").alias("c"))
        .persist(CKPT_LEVEL)  # feeds vocab totals, source totals, and the grid join
    )
    vocab = sc.groupBy("w").agg(F.sum("c").cast("long").alias("cw"))
    srcs = sc.groupBy("source").agg(F.sum("c").cast("long").alias("ns"))
    ntot = srcs.agg(F.sum("ns").cast("long").alias("n"))
    dense = (
        vocab.crossJoin(F.broadcast(srcs))
        .join(sc, ["source", "w"], "left")
        .crossJoin(F.broadcast(ntot))
    )
    term = F.expr(f"CAST({_JSD_TERM} AS BIGINT)")
    return (
        dense.groupBy("source")
        .agg(
            F.max("ns").cast("long").alias("n_tokens"),
            F.count("c").cast("long").alias("n_terms_active"),
            F.sum(term).cast("long").alias("jsd_e8"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Lexical diversity per source (type-token ratio, hapax share)
# --------------------------------------------------------------------------

_LEXDIV_ORACLE = r"""
WITH sc AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS c
  FROM (
    SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
    FROM documents
  )
  GROUP BY 1, 2
)
SELECT source,
       CAST(sum(c) AS BIGINT)                           AS n_tokens,
       CAST(count(*) AS BIGINT)                         AS n_types,
       CAST(count(*) * 1000000 // sum(c) AS BIGINT)     AS ttr_ppm,
       CAST(count(CASE WHEN c = 1 THEN 1 END) AS BIGINT) AS n_hapax,
       CAST(count(CASE WHEN c = 1 THEN 1 END) * 1000000
            // count(*) AS BIGINT)                      AS hapax_ppm
FROM sc
GROUP BY source
ORDER BY source
"""


@register(
    "text_lexical_diversity",
    _LEXDIV_ORACLE,
    doc="per-source type-token ratio and hapax share (vocabulary richness, integer ppm)",
)
def text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-richness profile per source: type-token ratio and the
    hapax-legomenon share (words used exactly once). Template/boilerplate
    farms collapse the TTR; OCR noise and spam inflate the hapax share —
    the two cheapest lexical red flags in corpus QA, complementing the
    distribution-level `text_js_divergence_sources`.

    Exactness: one (source, term) count table, all ratios as integer
    ppm division — nothing floats. Scale shape: one corpus scan shuffles
    to the vocab-sized count table; the per-source fold is a
    metadata-scale aggregate of it. (TTR is corpus-size-sensitive —
    compare sources at similar token counts, which n_tokens exposes.)"""
    docs = load(spark, sf_dir, "documents")
    sc = (
        docs.select(
            "source",
            F.explode(F.expr(r"regexp_extract_all(lower(text), '[a-z]+', 0)")).alias("w"),
        )
        .groupBy("source", "w")
        .agg(F.count("*").cast("long").alias("c"))
    )
    return (
        sc.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.expr("(count(1) * 1000000L) div sum(c)").alias("ttr_ppm"),
            F.count(F.when(F.col("c") == 1, 1)).cast("long").alias("n_hapax"),
            F.expr(
                "(count(CASE WHEN c = 1 THEN 1 END) * 1000000L) div count(1)"
            ).alias("hapax_ppm"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Character-level Shannon entropy per source
# --------------------------------------------------------------------------

_CHAR_ENTROPY_ORACLE = r"""
WITH cc AS (
  SELECT source, ch, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT source, unnest(regexp_extract_all(text, '(?s).')) AS ch FROM documents)
  GROUP BY 1, 2
),
tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cc GROUP BY source)
SELECT cc.source,
       CAST(max(tot.n) AS BIGINT)  AS n_chars,
       CAST(count(*) AS BIGINT)    AS n_distinct_chars,
       CAST(sum(CAST(floor((CAST(c AS DOUBLE) / tot.n)
                 * ln(CAST(tot.n AS DOUBLE) / c) * 100000000) AS BIGINT))
            AS BIGINT)             AS entropy_e8
FROM cc JOIN tot ON tot.source = cc.source
GROUP BY cc.source
ORDER BY cc.source
"""


@register(
    "text_char_entropy",
    _CHAR_ENTROPY_ORACLE,
    doc="character-level Shannon entropy per source (floor-quantized integer nats)",
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per source, in nats: the cheapest
    model-free repetition detector — template farms and padded/corrupted
    payloads collapse the character distribution (entropy sags toward
    the boilerplate's few symbols), while encrypted/binary junk pushes
    it toward ln(alphabet). The character-level companion of
    `text_lexical_diversity`'s word-level TTR.

    Exactness: each (source, char) contributes ONE floor-quantized
    integer term p*ln(1/p) at 1e8 (the drift-PSI discipline; ln is the
    accepted libm-ulp boundary), so per-source entropies are exact
    int64 sums. Characters come from `(?s).` on both engines so line
    terminators count identically (bare `.` drops \\n \\r \\u0085
    \\u2028 \\u2029 in Java but only \\n in RE2 — ADVICE r10). Scale shape: the char explode partial-aggregates
    MAP-SIDE to alphabet-bounded groups per source — the shuffle is
    |alphabet| x |sources| rows no matter the corpus size; everything
    after is metadata-scale."""
    docs = load(spark, sf_dir, "documents")
    cc = (
        docs.select(
            "source", F.explode(F.expr("regexp_extract_all(text, '(?s).', 0)")).alias("ch")
        )
        .groupBy("source", "ch")
        .agg(F.count("*").cast("long").alias("c"))
        .persist(CKPT_LEVEL)  # feeds the total and the entropy fold
    )
    tot = cc.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    term = F.expr(
        "CAST(floor((CAST(c AS DOUBLE) / n) * ln(CAST(n AS DOUBLE) / c) * 100000000) AS BIGINT)"
    )
    return (
        cc.join(F.broadcast(tot), "source")
        .groupBy("source")
        .agg(
            F.max("n").cast("long").alias("n_chars"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_chars"),
            F.sum(term).cast("long").alias("entropy_e8"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, "Scaling Language Models") —
# the published heuristic filter battery, per source
# --------------------------------------------------------------------------

# Shared CTE text: per-doc Gopher features (carrying the listed extra
# columns) and the six 0/1 rule predicates. Composed by _GOPHER_ORACLE
# here and by hypothesis.py's stats_mcnemar_filters — one definition,
# both oracles (the Spark twin is gopher_rule_cols below).
def gopher_feat_rules_sql(carry: str, carry_cols: str | None = None) -> str:
    """``carry`` is the SELECT-list fragment computed over ``documents``
    (may be an expression with an alias); ``carry_cols`` is the bare
    column list the downstream ``rules`` CTE re-selects from ``feat``
    (defaults to ``carry``, which only works when carry is plain
    columns)."""
    carry_cols = carry_cols or carry
    return f"""feat AS (
  SELECT
    {carry},
    {_WORD_COUNT_DUCK} AS nw,
    CAST(list_sum(list_transform({_WORDS_DUCK}, w -> length(w))) AS BIGINT) AS wchars,
    CAST(len(list_filter({_WORDS_DUCK},
                         w -> regexp_matches(lower(w), '[a-z]'))) AS BIGINT) AS n_alpha,
    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
      + CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS n_sym,
    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
    CAST(len(list_filter(string_split(text, chr(10)),
                         l -> regexp_matches(ltrim(l), '^[-*•]'))) AS BIGINT) AS n_bullet,
    CAST({_STOP_HITS_DUCK} AS BIGINT) AS n_stop
  FROM documents
),
rules AS (
  SELECT
    {carry_cols},
    CASE WHEN nw >= 50 AND nw <= 100000 THEN 1 ELSE 0 END AS r_wc,
    CASE WHEN wchars >= 3 * nw AND wchars <= 10 * nw THEN 1 ELSE 0 END AS r_mwl,
    CASE WHEN 10 * n_sym <= nw THEN 1 ELSE 0 END AS r_sym,
    CASE WHEN 10 * n_bullet <= 9 * n_lines THEN 1 ELSE 0 END AS r_bullet,
    CASE WHEN 10 * n_alpha >= 8 * nw THEN 1 ELSE 0 END AS r_alpha,
    CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS r_stop
  FROM feat
)"""


def gopher_rule_cols() -> dict:
    """The six Gopher rule predicates (Rae et al. 2021) as 0/1 integer
    Columns over ``text`` — the Spark twin of :func:`gopher_feat_rules_sql`,
    shared by text_gopher_quality and stats_mcnemar_filters so both keys'
    engines replay ONE rule definition."""
    nw = word_count()
    wchars = F.expr(f"aggregate({WORDS_SQL}, 0L, (a, w) -> a + length(w))")
    n_alpha = F.size(F.expr(f"filter({WORDS_SQL}, w -> lower(w) rlike '[a-z]')")).cast("long")
    n_sym = (
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit("#"), F.lit(""))))
        + (F.length("text") - F.length(F.replace(F.col("text"), F.lit("..."), F.lit("")))) / 3
    ).cast("long")
    n_lines = F.size(F.split(F.col("text"), "\n")).cast("long")
    n_bullet = F.size(
        F.expr(r"filter(split(text, '\n'), l -> ltrim(l) rlike '^[-*•]')")
    ).cast("long")
    n_stop = F.expr(STOP_COUNT_SQL)
    return {
        "r_wc": F.when((nw >= 50) & (nw <= 100000), 1).otherwise(0),
        "r_mwl": F.when((wchars >= 3 * nw) & (wchars <= 10 * nw), 1).otherwise(0),
        "r_sym": F.when(10 * n_sym <= nw, 1).otherwise(0),
        "r_bullet": F.when(10 * n_bullet <= 9 * n_lines, 1).otherwise(0),
        "r_alpha": F.when(10 * n_alpha >= 8 * nw, 1).otherwise(0),
        "r_stop": F.when(n_stop >= 2, 1).otherwise(0),
    }


_GOPHER_ORACLE = f"""
WITH {gopher_feat_rules_sql("source")}
SELECT
  source,
  CAST(count(*) AS BIGINT)      AS n_docs,
  CAST(sum(r_wc) AS BIGINT)     AS pass_word_count,
  CAST(sum(r_mwl) AS BIGINT)    AS pass_mean_word_len,
  CAST(sum(r_sym) AS BIGINT)    AS pass_symbol_ratio,
  CAST(sum(r_bullet) AS BIGINT) AS pass_bullet_lines,
  CAST(sum(r_alpha) AS BIGINT)  AS pass_alpha_words,
  CAST(sum(r_stop) AS BIGINT)   AS pass_stopwords,
  CAST(sum(r_wc * r_mwl * r_sym * r_bullet * r_alpha * r_stop) AS BIGINT) AS pass_all,
  CAST(sum(r_wc * r_mwl * r_sym * r_bullet * r_alpha * r_stop) * 1000000
       // count(*) AS BIGINT) AS pass_all_ppm
FROM rules
GROUP BY source
ORDER BY source
"""


@register(
    "text_gopher_quality",
    _GOPHER_ORACLE,
    doc="Gopher rule-battery pass rates per source (Rae et al. 2021 heuristics)",
)
def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The six Gopher document filters as pure integer predicates —
    word count in [50, 100k], mean word length in [3, 10] (integer
    cross-multiplication, no division), symbol-to-word ratio ≤ 0.1
    ('#' + '…'-as-'...'), ≤ 90% bullet-led lines, ≥ 80% alphabetic
    words, ≥ 2 stop words (the shared 7-stopword list) — aggregated to
    per-source pass counts and an exact pass-all ppm.

    Every rule decision is an integer comparison, so the whole output is
    hash-exact cross-engine; one scan, one per-source hash aggregate —
    the same shape at 100 TB (the regexes are per-row projections that
    pipeline inside the scan stage)."""
    docs = load(spark, sf_dir, "documents")
    r = docs.select(
        "source", *[c.alias(k) for k, c in gopher_rule_cols().items()]
    )
    all_pass = (
        F.col("r_wc") * F.col("r_mwl") * F.col("r_sym")
        * F.col("r_bullet") * F.col("r_alpha") * F.col("r_stop")
    )
    return (
        r.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("r_wc").cast("long").alias("pass_word_count"),
            F.sum("r_mwl").cast("long").alias("pass_mean_word_len"),
            F.sum("r_sym").cast("long").alias("pass_symbol_ratio"),
            F.sum("r_bullet").cast("long").alias("pass_bullet_lines"),
            F.sum("r_alpha").cast("long").alias("pass_alpha_words"),
            F.sum("r_stop").cast("long").alias("pass_stopwords"),
            F.sum(all_pass).cast("long").alias("pass_all"),
            F.expr(
                "CAST(sum(r_wc * r_mwl * r_sym * r_bullet * r_alpha * r_stop) * 1000000"
                " div count(1) AS BIGINT)"
            ).alias("pass_all_ppm"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# DSIR importance weights (Xie et al. 2023, "Data Selection for Language
# Models via Importance Resampling") — unigram proxy, target = English
# --------------------------------------------------------------------------

_DSIR_TARGET_LANG = "en"
_DSIR_SCALE = 1_000_000  # per-word log-ratio floor-quantized to micro-nats

_DSIR_ORACLE = f"""
WITH words AS (
  SELECT d.doc_id, d.lang, w.w AS w
  FROM documents d, unnest(regexp_extract_all(lower(d.text), '[a-z]+')) AS w(w)
),
vocab AS (
  SELECT w,
         CAST(count(*) AS BIGINT) AS c_src,
         CAST(count(*) FILTER (lang = '{_DSIR_TARGET_LANG}') AS BIGINT) AS c_tgt
  FROM words GROUP BY w
),
tot AS (
  SELECT CAST(sum(c_src) AS BIGINT) AS s_tok,
         CAST(sum(c_tgt) AS BIGINT) AS t_tok,
         CAST(count(*) AS BIGINT)   AS v
  FROM vocab
),
qw AS (
  SELECT w, CAST(floor((ln(CAST(c_tgt + 1 AS DOUBLE)) - ln(CAST(c_src + 1 AS DOUBLE)))
                       * {_DSIR_SCALE}) AS BIGINT) AS q
  FROM vocab
),
dw AS (
  SELECT words.doc_id, words.lang,
         CAST(count(*) AS BIGINT) AS n_tok,
         CAST(sum(qw.q) AS BIGINT) AS qsum
  FROM words JOIN qw USING (w)
  GROUP BY words.doc_id, words.lang
),
scored AS (
  SELECT dw.lang,
         dw.qsum + dw.n_tok * CAST(floor((ln(CAST(tot.s_tok + tot.v AS DOUBLE))
                                          - ln(CAST(tot.t_tok + tot.v AS DOUBLE)))
                                         * {_DSIR_SCALE}) AS BIGINT) AS w_micro
  FROM dw, tot
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(w_micro) AS BIGINT) AS sum_weight_micro,
       CAST(sum(w_micro) AS DOUBLE) / count(*) / {_DSIR_SCALE} AS mean_weight
FROM scored
GROUP BY lang
ORDER BY lang
"""


@register(
    "text_dsir_importance",
    _DSIR_ORACLE,
    doc=f"DSIR unigram importance weights (target lang = {_DSIR_TARGET_LANG}), per-lang rollup",
)
def text_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance resampling weights: per document,
    ``Σ_w n_w · (ln p_target(w) − ln p_source(w))`` with Laplace-smoothed
    unigram LMs — target = English-language docs, source = the whole
    corpus — rolled up per language. Docs whose language matches the
    target distribution score high; the per-lang means are the
    discriminative audit (en ≫ zh), asserted in tests.

    Exactness: per-word log ratios floor-quantize to micro-nats BEFORE
    the per-doc sum (the PSI recipe), the smoothing-normalizer offset
    folds in as ``n_tokens × floor(1e6·(ln(S+V) − ln(T+V)))`` from a
    broadcast 1-row total, and everything downstream is integer until
    the display division.

    Scale: one explode pass to word counts (Heaps-bounded dictionary),
    one word-keyed join back — the BPE-family shape; no per-row Python,
    no unbounded broadcast (the 1-row totals broadcast, the vocabulary
    joins word-keyed)."""
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        "lang",
        F.explode(F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).alias("w"),
    )
    vocab = words.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("c_src"),
        F.sum(F.when(F.col("lang") == _DSIR_TARGET_LANG, 1).otherwise(0))
        .cast("long")
        .alias("c_tgt"),
    )
    tot = vocab.agg(
        F.sum("c_src").cast("long").alias("s_tok"),
        F.sum("c_tgt").cast("long").alias("t_tok"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    qw = vocab.select(
        "w",
        F.expr(
            f"CAST(floor((ln(CAST(c_tgt + 1 AS DOUBLE)) - ln(CAST(c_src + 1 AS DOUBLE)))"
            f" * {_DSIR_SCALE}) AS BIGINT)"
        ).alias("q"),
    )
    dw = (
        words.join(qw, "w")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tok"),
            F.sum("q").cast("long").alias("qsum"),
        )
    )
    scored = dw.crossJoin(F.broadcast(tot)).select(
        "lang",
        (
            F.col("qsum")
            + F.col("n_tok")
            * F.expr(
                f"CAST(floor((ln(CAST(s_tok + v AS DOUBLE)) - ln(CAST(t_tok + v AS DOUBLE)))"
                f" * {_DSIR_SCALE}) AS BIGINT)"
            )
        ).alias("w_micro"),
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("w_micro").cast("long").alias("sum_weight_micro"),
            (F.sum("w_micro").cast("double") / F.count(F.lit(1)) / _DSIR_SCALE).alias(
                "mean_weight"
            ),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# TF-IDF keyword extraction: top terms per source
# --------------------------------------------------------------------------

_TFIDF_TOPK = 10
_TFIDF_SCALE = 1_000_000  # idf floor-quantized to micro-nats

_TFIDF_ORACLE = f"""
WITH words AS (
  SELECT d.doc_id, d.source, w.w AS w
  FROM documents d, unnest(regexp_extract_all(lower(d.text), '[a-z]+')) AS w(w)
),
df AS (
  SELECT w, CAST(count(DISTINCT doc_id) AS BIGINT) AS dfreq FROM words GROUP BY w
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
idf AS (
  SELECT w, CAST(floor(ln(CAST(nd.n_docs + 1 AS DOUBLE) / (dfreq + 1))
                       * {_TFIDF_SCALE}) AS BIGINT) AS idf_micro
  FROM df, nd
),
tf AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS tf FROM words GROUP BY source, w
),
scored AS (
  SELECT tf.source, tf.w AS term, tf.tf, idf.idf_micro,
         tf.tf * idf.idf_micro AS score_micro
  FROM tf JOIN idf USING (w)
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY score_micro DESC, term) AS rank
  FROM scored
)
SELECT source, CAST(rank AS BIGINT) AS rank, term, tf,
       idf_micro, CAST(score_micro AS BIGINT) AS score_micro
FROM ranked WHERE rank <= {_TFIDF_TOPK}
ORDER BY source, rank
"""


@register(
    "text_tfidf_source_keywords",
    _TFIDF_ORACLE,
    doc=f"top-{_TFIDF_TOPK} TF-IDF keywords per source — integer micro-nat scores",
)
def text_tfidf_source_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source keyword extraction: term score = tf(term, source) ×
    floor(1e6·ln((N+1)/(df+1))) — the classic TF-IDF with the idf
    quantized to integer micro-nats, so scores (and therefore the
    ranking and its deterministic (score desc, term) tie-break) are
    exact integers cross-engine.

    Scale: one explode pass feeds both the document-frequency dictionary
    and the (source, term) tf table; the idf join is term-keyed; the
    top-k window partitions by source over the vocab-bounded score
    table (Heaps' law — dictionary scale, not corpus scale)."""
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        "source",
        F.explode(F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).alias("w"),
    ).persist(CKPT_LEVEL)  # one materialized explode feeds df AND tf
    dfreq = words.groupBy("w").agg(F.countDistinct("doc_id").cast("long").alias("dfreq"))
    nd = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    idf = dfreq.crossJoin(F.broadcast(nd)).select(
        "w",
        F.expr(
            f"CAST(floor(ln(CAST(n_docs + 1 AS DOUBLE) / (dfreq + 1))"
            f" * {_TFIDF_SCALE}) AS BIGINT)"
        ).alias("idf_micro"),
    )
    tf = words.groupBy("source", "w").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    scored = tf.join(idf, "w").select(
        "source",
        F.col("w").alias("term"),
        "tf",
        "idf_micro",
        (F.col("tf") * F.col("idf_micro")).alias("score_micro"),
    )
    w_rank = Window.partitionBy("source").orderBy(F.desc("score_micro"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rank") <= _TFIDF_TOPK)
        .select("source", "rank", "term", "tf", "idf_micro", F.col("score_micro").cast("long"))
        .orderBy("source", "rank")
    )


# --------------------------------------------------------------------------
# Kneser-Ney bigram held-out log-perplexity (the real LM-eval smoother)
# --------------------------------------------------------------------------

# Absolute discount d = 3/4: multiplying the KN probability through by
# 4·c(v)·T makes every term integral:
#   4·c(v)·T·P_KN(w|v) = max(4·c(vw) − 3, 0)·T + 3·N1+(v·)·N1+(·w)
# with T = distinct train bigram types, so num/den are exact integers.
_KN_SCALE = 1_000_000  # per-bigram −ln p floor-quantized to micro-nats

_KN_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id,
         doc_id % 10 < 8 AS is_train,
         {_TERM_TOKENS_DUCK} AS tokens
  FROM documents
),
bg AS (
  SELECT doc_id, is_train, tokens[i] AS a, tokens[i + 1] AS b
  FROM toks, unnest(range(1, len(tokens))) AS r(i)
  WHERE len(tokens) >= 2
),
c_ab AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_vw FROM bg WHERE is_train GROUP BY a, b),
c_a  AS (SELECT a, CAST(sum(c_vw) AS BIGINT) AS c_v,
                CAST(count(*) AS BIGINT) AS n1v FROM c_ab GROUP BY a),
c_w  AS (SELECT b, CAST(count(*) AS BIGINT) AS n1w FROM c_ab GROUP BY b),
tt   AS (SELECT CAST(count(*) AS BIGINT) AS t FROM c_ab),
test AS (SELECT a, b, CAST(count(*) AS BIGINT) AS m FROM bg WHERE NOT is_train GROUP BY a, b),
scored AS (
  SELECT test.m,
         c_a.c_v IS NOT NULL AND c_w.n1w IS NOT NULL AS evaluable,
         CAST(coalesce(greatest(4 * c_ab.c_vw - 3, 0), 0) AS HUGEINT) * tt.t
           + 3 * CAST(coalesce(c_a.n1v, 0) AS HUGEINT) * coalesce(c_w.n1w, 0) AS num,
         4 * CAST(coalesce(c_a.c_v, 1) AS HUGEINT) * tt.t AS den
  FROM test
  LEFT JOIN c_ab USING (a, b)
  LEFT JOIN c_a USING (a)
  LEFT JOIN c_w USING (b)
  CROSS JOIN tt
)
SELECT
  CAST(sum(CASE WHEN evaluable THEN m ELSE 0 END) AS BIGINT) AS n_eval_bigrams,
  CAST(sum(CASE WHEN evaluable THEN 0 ELSE m END) AS BIGINT) AS n_oov_bigrams,
  CAST(sum(CASE WHEN evaluable THEN
        m * CAST(floor(ln(CAST(den AS DOUBLE) / CAST(num AS DOUBLE)) * 1000000) AS BIGINT)
      ELSE 0 END) AS BIGINT) AS sum_micronats,
  CAST(sum(CASE WHEN evaluable THEN
        m * CAST(floor(ln(CAST(den AS DOUBLE) / CAST(num AS DOUBLE)) * 1000000) AS BIGINT)
      ELSE 0 END) AS DOUBLE) / 1000000
    / sum(CASE WHEN evaluable THEN m ELSE 0 END) AS avg_nats
FROM scored
"""


@register(
    "text_bigram_kn_logppl",
    _KN_ORACLE,
    doc="Kneser-Ney bigram held-out cross-entropy (d=3/4, integer-exact terms)",
)
def text_bigram_kn_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The smoother real LM toolchains use (Kneser & Ney 1995; KenLM's
    default): absolute discounting with the CONTINUATION unigram — a
    word's probability mass comes from how many distinct contexts it
    follows, not its raw frequency. Trained on the deterministic 80%
    doc split, scored on the held-out 20%.

    Exactness: d = 3/4 clears denominators — ``4·c(v)·T·P = max(4·c(vw)
    − 3, 0)·T + 3·N1+(v·)·N1+(·w)`` — so num/den are exact integers
    (HUGEINT/DECIMAL(38,0)); per-bigram −ln p floor-quantizes to
    micro-nats before the token-weighted sum. Held-out bigrams whose
    context or continuation never occurred in training are reported as
    ``n_oov_bigrams``, not silently smoothed.

    Scale: bigrams explode map-side from the token arrays (no
    adjacency self-join); every join downstream is keyed on the bigram/
    unigram dictionaries (Heaps-bounded); only the 1-row type count
    broadcasts."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        (F.col("doc_id") % 10 < 8).alias("is_train"),
        term_tokens().alias("tokens"),
    )
    bg = toks.filter(F.size("tokens") >= 2).select(
        "is_train",
        F.explode(
            F.expr(
                "transform(sequence(1, size(tokens) - 1), "
                "i -> struct(element_at(tokens, i) AS a, element_at(tokens, i + 1) AS b))"
            )
        ).alias("g"),
    ).select("is_train", "g.a", "g.b")
    c_ab = bg.filter("is_train").groupBy("a", "b").agg(F.count(F.lit(1)).cast("long").alias("c_vw"))
    c_a = c_ab.groupBy("a").agg(
        F.sum("c_vw").cast("long").alias("c_v"), F.count(F.lit(1)).cast("long").alias("n1v")
    )
    c_w = c_ab.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("n1w"))
    tt = c_ab.agg(F.count(F.lit(1)).cast("long").alias("t"))
    test = bg.filter(~F.col("is_train")).groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    scored = (
        test.join(c_ab, ["a", "b"], "left")
        .join(c_a, "a", "left")
        .join(c_w, "b", "left")
        .crossJoin(F.broadcast(tt))
        .select(
            "m",
            (F.col("c_v").isNotNull() & F.col("n1w").isNotNull()).alias("evaluable"),
            F.expr(
                "CAST(coalesce(greatest(4 * c_vw - 3, 0), 0) AS DECIMAL(38,0)) * t"
                " + 3 * CAST(coalesce(n1v, 0) AS DECIMAL(38,0)) * coalesce(n1w, 0)"
            ).alias("num"),
            F.expr("4 * CAST(coalesce(c_v, 1) AS DECIMAL(38,0)) * t").alias("den"),
        )
    )
    term = (
        "m * CAST(floor(ln(CAST(den AS DOUBLE) / CAST(num AS DOUBLE)) * 1000000) AS BIGINT)"
    )
    return scored.agg(
        F.expr("CAST(sum(CASE WHEN evaluable THEN m ELSE 0 END) AS BIGINT)").alias(
            "n_eval_bigrams"
        ),
        F.expr("CAST(sum(CASE WHEN evaluable THEN 0 ELSE m END) AS BIGINT)").alias(
            "n_oov_bigrams"
        ),
        F.expr(f"CAST(sum(CASE WHEN evaluable THEN {term} ELSE 0 END) AS BIGINT)").alias(
            "sum_micronats"
        ),
        F.expr(
            f"CAST(sum(CASE WHEN evaluable THEN {term} ELSE 0 END) AS DOUBLE) / 1000000"
            f" / sum(CASE WHEN evaluable THEN m ELSE 0 END)"
        ).alias("avg_nats"),
    )


# --------------------------------------------------------------------------
# Language-ID evaluation: confusion matrix + per-class precision/recall
# --------------------------------------------------------------------------

_LANGID_EVAL_ORACLE = rf"""
WITH pred AS ({_LANG_ID_ORACLE.strip().replace("ORDER BY doc_id", "").rstrip()}
),
cells AS (
  SELECT lang_true, lang_pred, CAST(count(*) AS BIGINT) AS n
  FROM pred GROUP BY lang_true, lang_pred
),
m AS (
  SELECT cells.*,
         CAST(sum(n) OVER (PARTITION BY lang_true) AS BIGINT) AS n_true,
         CAST(sum(n) OVER (PARTITION BY lang_pred) AS BIGINT) AS n_pred
  FROM cells
)
SELECT lang_true, lang_pred, n,
       CAST(n * 1000000 // n_true AS BIGINT) AS recall_ppm,
       CAST(n * 1000000 // n_pred AS BIGINT) AS precision_ppm
FROM m
ORDER BY lang_true, lang_pred
"""


@register(
    "text_langid_confusion",
    _LANGID_EVAL_ORACLE,
    doc="language-ID confusion matrix with integer-ppm per-class precision/recall",
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a first-class operator: the marker-word
    language ID (`text_lang_id`) scored against the fixture's `lang`
    labels — the (true, predicted) count matrix with per-cell recall
    (share of the true class) and precision (share of the predicted
    class) in exact integer ppm. The matrix is the curation diagnostic:
    which language pairs the heuristic confuses tells you where the
    marker lists need depth.

    Scale: one scan through the `text_lang_id` projection, one hash
    aggregate to the ≤ 6×6 grid; the marginal windows run on that
    bounded grid."""
    pred = text_lang_id(spark, sf_dir)
    cells = pred.groupBy("lang_true", "lang_pred").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    m = cells.select(
        "lang_true",
        "lang_pred",
        "n",
        F.sum("n").over(Window.partitionBy("lang_true")).cast("long").alias("n_true"),
        F.sum("n").over(Window.partitionBy("lang_pred")).cast("long").alias("n_pred"),
    )
    return m.select(
        "lang_true",
        "lang_pred",
        "n",
        F.expr("CAST(n * 1000000 div n_true AS BIGINT)").alias("recall_ppm"),
        F.expr("CAST(n * 1000000 div n_pred AS BIGINT)").alias("precision_ppm"),
    ).orderBy("lang_true", "lang_pred")



# --------------------------------------------------------------------------
# Cross-document duplicate n-gram fraction (Gopher/RefinedWeb dup signal)
# --------------------------------------------------------------------------

_DUP_NGRAM_THRESH_PPM = 200_000  # "heavily templated" flag: >20% dup positions


def _dup_ngram_oracle() -> str:
    return rf"""
WITH toks AS (
  SELECT doc_id, source,
         {_WS_TOKENS_DUCK} AS tokens
  FROM documents
),
sh AS (
  SELECT doc_id, source,
         unnest(list_transform(
           range(1, len(tokens) - 1),
           i -> {duck_ngram(3)}
         )) AS s
  FROM toks
  WHERE len(tokens) >= 3
),
hashed AS (
  SELECT doc_id, source, md5(s) AS m FROM sh
),
occ AS (
  SELECT doc_id, source, {_duck_hex_int(1, 15)} AS h,
         CAST(count(*) AS BIGINT) AS cnt
  FROM hashed GROUP BY 1, 2, 3
),
dup AS (
  SELECT h FROM occ GROUP BY h HAVING count(*) >= 2
),
per_doc AS (
  SELECT o.doc_id, o.source,
         CAST(sum(o.cnt) AS BIGINT) AS tot_pos,
         CAST(coalesce(sum(o.cnt) FILTER (WHERE d.h IS NOT NULL), 0) AS BIGINT) AS dup_pos
  FROM occ o LEFT JOIN dup d ON o.h = d.h
  GROUP BY 1, 2
),
scored AS (
  SELECT source, tot_pos, dup_pos,
         CAST(dup_pos * 1000000 // tot_pos AS BIGINT) AS doc_ppm
  FROM per_doc
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_ppm) // count(*) AS BIGINT) AS mean_dup_ppm,
       CAST(sum(CASE WHEN doc_ppm >= {_DUP_NGRAM_THRESH_PPM} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_templated,
       CAST(sum(dup_pos) AS BIGINT) AS dup_positions,
       CAST(sum(tot_pos) AS BIGINT) AS total_positions
FROM scored
GROUP BY source
ORDER BY source
"""


@register(
    "text_dup_ngram_fraction",
    _dup_ngram_oracle(),
    doc="per-source duplicate word-3-gram fraction (cross-document)",
)
def text_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate n-gram fraction — the Gopher/RefinedWeb
    repetition signal at corpus scope (within-doc repetition is
    `text_repetition_filter`; THIS measures template/boilerplate sharing
    ACROSS documents): for each doc, the fraction of its word-3-gram
    positions whose shingle also appears in at least one OTHER document,
    summarized per source (Rae et al. 2021 §A1.2 "duplicate n-gram
    fraction"; the RefinedWeb dedup ablations — public papers).

    Exactness: shingle identity rides the md5 15-hex → int64 convention
    (the oracle hashes identically, so both engines agree even on the
    astronomically-unlikely collision); every count and floor-div is an
    exact integer, truncation identical cross-engine.

    Scale: reuses `shingles_exploded` (one doc_id shuffle), one groupBy
    on the shingle hash — the same exchange a 100 TB dedup pass already
    pays — then a shuffle hash-join back on h (the dup set is NOT assumed
    broadcastable: boilerplate-heavy corpora have huge dup sets) and
    doc-keyed aggregates. Nothing all-pairs. The per-(doc,h) table is
    localCheckpointed so the dup-set scan and the join-back share one
    materialization instead of re-running the shingle explode."""
    sh = shingles_exploded(spark, sf_dir, carry=("source",))
    occ = (
        sh.select(
            "doc_id",
            "source",
            F.expr("CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)").alias("h"),
        )
        .groupBy("doc_id", "source", "h")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .persist(CKPT_LEVEL)
    )
    dup = (
        occ.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_docs_h"))
        .filter(F.col("n_docs_h") >= 2)
        .select("h")
    )
    flagged = occ.join(dup.withColumn("is_dup", F.lit(1)), "h", "left")
    per_doc = flagged.groupBy("doc_id", "source").agg(
        F.sum("cnt").cast("long").alias("tot_pos"),
        F.coalesce(F.sum(F.when(F.col("is_dup") == 1, F.col("cnt"))), F.lit(0))
        .cast("long")
        .alias("dup_pos"),
    )
    scored = per_doc.withColumn(
        "doc_ppm", F.expr("CAST(dup_pos * 1000000 div tot_pos AS BIGINT)")
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.expr("CAST(sum(doc_ppm) div count(*) AS BIGINT)").alias("mean_dup_ppm"),
            F.sum(
                F.when(F.col("doc_ppm") >= _DUP_NGRAM_THRESH_PPM, 1).otherwise(0)
            ).cast("long").alias("n_templated"),
            F.sum("dup_pos").cast("long").alias("dup_positions"),
            F.sum("tot_pos").cast("long").alias("total_positions"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# CCNet-style perplexity buckets (head / middle / tail per language)
# --------------------------------------------------------------------------

_CCNET_KEY_SCALE = 1_000  # per-token micro-nats → nano-nats: the tercile sort key


_PPL_BUCKETS_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, lang,
         {_TERM_TOKENS_DUCK} AS tokens
  FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(tokens) AS term FROM toks)
  GROUP BY doc_id, term
),
uni AS (SELECT term, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY term),
total AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM uni),
q AS (
  SELECT term, CAST(floor(ln(c / t.t) * {PPL_Q}) AS BIGINT) AS q_lnp
  FROM uni CROSS JOIN total t
),
per_doc AS (
  SELECT f.doc_id,
         CAST(sum(f.tf) AS BIGINT) AS n_tokens,
         CAST(sum(f.tf * q.q_lnp) AS BIGINT) AS q_sum
  FROM tf f JOIN q USING (term)
  GROUP BY f.doc_id
),
scored AS (
  SELECT d.doc_id, t2.lang, d.n_tokens,
         CAST(d.q_sum * {_CCNET_KEY_SCALE} // d.n_tokens AS BIGINT) AS key_nano
  FROM per_doc d
  JOIN (SELECT DISTINCT doc_id, lang FROM documents) t2 USING (doc_id)
),
tiled AS (
  SELECT lang, key_nano, n_tokens,
         ntile(3) OVER (PARTITION BY lang ORDER BY key_nano, doc_id) AS tile
  FROM scored
)
SELECT lang,
       CASE tile WHEN 3 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(min(key_nano) AS BIGINT) AS min_key_nano,
       CAST(max(key_nano) AS BIGINT) AS max_key_nano
FROM tiled
GROUP BY lang, bucket
ORDER BY lang, bucket
"""


def ppl_doc_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, n_tokens, key_nano) — the per-document integer
    perplexity sort keys behind `text_ppl_buckets`, exposed for
    composite diagnostics (`quality_signal_agreement`). key_nano =
    q_sum·1000 div n_tokens (nano-nats per token; more negative =
    higher perplexity). Integer-exact."""
    # load_spread (optimization r12): the tokenize+explode map stage ran
    # on the single-row-group scan's one task (guide §2.5).
    docs = load_spread(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        term_tokens().alias("tokens"),
    )
    tf = (
        toks.select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    uni = tf.groupBy("term").agg(F.sum("tf").cast("long").alias("c"))
    total = uni.agg(F.sum("c").cast("double").alias("t"))
    q = uni.crossJoin(F.broadcast(total)).select(
        "term",
        F.expr(f"CAST(floor(ln(c / t) * {PPL_Q}) AS BIGINT)").alias("q_lnp"),
    )
    per_doc = (
        tf.join(q, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("q_lnp")).cast("long").alias("q_sum"),
        )
    )
    return per_doc.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        "lang",
        "n_tokens",
        F.expr(f"CAST(q_sum * {_CCNET_KEY_SCALE} div n_tokens AS BIGINT)").alias(
            "key_nano"
        ),
    )


@register(
    "text_ppl_buckets",
    _PPL_BUCKETS_ORACLE,
    doc="CCNet-style per-language perplexity terciles (head/middle/tail)",
)
def text_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's curation move (Wenzek et al. 2020 — public paper): score
    every document with the corpus LM proxy (`text_unigram_logppl`'s
    integer micro-nat machinery), split EACH LANGUAGE into perplexity
    terciles, and report the head/middle/tail composition — the standard
    way a pipeline decides which slice of a crawl to keep per language.

    Exactness: the sort key is integer nano-nats per token
    (q_sum·1000 div n_tokens — truncation identical cross-engine); tercile
    assignment follows the ANSI ntile identity (`ntile_from_rank`), which
    matches DuckDB's ntile(3) exactly for a total order; every output is
    an integer.

    Scale: per-language ranking never funnels a language through one
    task — the rank comes from `grouped_running_sums` over the
    (lang, key) dictionary; the only windows partition by (lang, key)
    (tie blocks, hash-thin by construction). ntile is then pure
    arithmetic from (rank, per-lang total)."""
    from gluettalax_spark.operators.rank import grouped_running_sums, ntile_from_rank

    scored = ppl_doc_keys(spark, sf_dir).persist(CKPT_LEVEL)
    dict_df = scored.groupBy("lang", "key_nano").agg(
        F.count(F.lit(1)).cast("long").alias("n_k")
    )
    cum = grouped_running_sums(dict_df, ["lang"], ["key_nano"], [("n_k", "cum")])
    w_tie = Window.partitionBy("lang", "key_nano").orderBy("doc_id")
    ranked = (
        scored.join(
            cum.select("lang", "key_nano", "n_k", "cum", F.col("cum_total").alias("n_lang")),
            ["lang", "key_nano"],
        )
        .withColumn(
            "rnk", (F.col("cum") - F.col("n_k") + F.row_number().over(w_tie)).cast("long")
        )
    )
    tiled = ranked.withColumn(
        "tile", ntile_from_rank(F.col("rnk"), F.col("n_lang"), 3)
    ).withColumn(
        "bucket",
        F.when(F.col("tile") == 3, "head")
        .when(F.col("tile") == 2, "middle")
        .otherwise("tail"),
    )
    return (
        tiled.groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            F.min("key_nano").cast("long").alias("min_key_nano"),
            F.max("key_nano").cast("long").alias("max_key_nano"),
        )
        .orderBy("lang", "bucket")
    )


# --------------------------------------------------------------------------
# Cohen's kappa: chance-corrected agreement of the language-ID heuristic
# --------------------------------------------------------------------------

_KAPPA_ORACLE = rf"""
WITH pred AS ({_LANG_ID_ORACLE.strip().replace("ORDER BY doc_id", "").rstrip()}
),
cells AS (
  SELECT lang_true, lang_pred, CAST(count(*) AS BIGINT) AS n
  FROM pred GROUP BY lang_true, lang_pred
),
rowm AS (SELECT lang_true AS c, CAST(sum(n) AS BIGINT) AS n_true FROM cells GROUP BY 1),
colm AS (SELECT lang_pred AS c, CAST(sum(n) AS BIGINT) AS n_pred FROM cells GROUP BY 1),
m AS (
  SELECT
    CAST((SELECT sum(n) FROM cells) AS BIGINT) AS n,
    CAST((SELECT coalesce(sum(n), 0) FROM cells WHERE lang_true = lang_pred) AS BIGINT) AS agree,
    CAST((SELECT sum(CAST(coalesce(r.n_true, 0) AS HUGEINT) * coalesce(cl.n_pred, 0))
          FROM rowm r FULL JOIN colm cl USING (c)) AS BIGINT) AS pe_num
)
SELECT n, agree, pe_num,
       CAST(agree AS DOUBLE) / n AS po,
       CAST(pe_num AS DOUBLE) / n / n AS pe,
       (CAST(n AS DOUBLE) * agree - pe_num) / (CAST(n AS DOUBLE) * n - pe_num) AS kappa
FROM m
"""


@register(
    "stats_cohens_kappa",
    _KAPPA_ORACLE,
    doc="Cohen's kappa: chance-corrected agreement of lang-ID vs gold labels",
)
def stats_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa for the marker-word language-ID against the fixture's
    gold labels — the chance-corrected agreement score that belongs next
    to `text_langid_confusion`'s raw precision/recall (accuracy flatters
    a classifier whenever one class dominates; kappa subtracts the
    agreement a label-marginal-preserving random rater would get).

    Exactness: agreement and the expected-agreement numerator
    Σ_c row_c·col_c are exact integers (the product rides
    DECIMAL(38,0)/HUGEINT); po, pe, and kappa = (N·agree − pe_num) /
    (N² − pe_num) are single shared IEEE expressions.

    Scale: one scan through the `text_lang_id` projection, one hash
    aggregate to the ≤ 6×6 grid; marginals are broadcast re-aggregations
    of that bounded grid (never a global window)."""
    pred = text_lang_id(spark, sf_dir)
    cells = pred.groupBy("lang_true", "lang_pred").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).persist(CKPT_LEVEL)
    rowm = cells.groupBy(F.col("lang_true").alias("c")).agg(
        F.sum("n").cast("long").alias("n_true")
    )
    colm = cells.groupBy(F.col("lang_pred").alias("c")).agg(
        F.sum("n").cast("long").alias("n_pred")
    )
    pe_num = (
        rowm.join(colm, "c", "full")
        .agg(
            F.sum(
                F.coalesce(F.col("n_true"), F.lit(0)).cast("decimal(38,0)")
                * F.coalesce(F.col("n_pred"), F.lit(0))
            ).cast("long").alias("pe_num")
        )
    )
    tot = cells.agg(
        F.sum("n").cast("long").alias("n"),
        F.sum(F.when(F.col("lang_true") == F.col("lang_pred"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("agree"),
    )
    return (
        tot.crossJoin(F.broadcast(pe_num))
        .selectExpr(
            "n",
            "agree",
            "pe_num",
            "CAST(agree AS DOUBLE) / n AS po",
            "CAST(pe_num AS DOUBLE) / n / n AS pe",
            "(CAST(n AS DOUBLE) * agree - pe_num) / (CAST(n AS DOUBLE) * n - pe_num) AS kappa",
        )
    )


# --------------------------------------------------------------------------
# RAKE keyphrase extraction (degree/frequency scores, stopword phrasing)
# --------------------------------------------------------------------------

_RAKE_STOPS = "the|and|of|to|is|a|in"
# Delimiters: stopword tokens and any non-alnum run EXCEPT the single
# spaces that bind a phrase together. Same RE2/Java-safe pattern both
# engines.
_RAKE_SPLIT = rf"(\b({_RAKE_STOPS})\b|[^a-z0-9 ]+)"
_RAKE_TOPK = 20


_RAKE_ORACLE = rf"""
WITH frags AS (
  SELECT doc_id,
         trim(regexp_replace(unnest(string_split_regex(lower(text), '{_RAKE_SPLIT}')), ' +', ' ', 'g')) AS phrase
  FROM documents
),
phrases AS (SELECT doc_id, phrase FROM frags WHERE phrase <> ''),
pw AS (
  SELECT phrase, unnest(string_split(phrase, ' ')) AS w,
         len(string_split(phrase, ' ')) AS plen
  FROM phrases
),
wstats AS (
  SELECT w,
         CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(plen) AS BIGINT) AS deg
  FROM pw GROUP BY w
),
wscore AS (
  SELECT w, CAST(deg * 1000000 // freq AS BIGINT) AS s_micro FROM wstats
),
dphrase AS (
  SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences FROM phrases GROUP BY phrase
),
dpw AS (
  SELECT phrase, unnest(string_split(phrase, ' ')) AS w FROM dphrase
),
scored AS (
  SELECT d.phrase, d.n_occurrences,
         CAST(sum(ws.s_micro) AS BIGINT) AS score_micro
  FROM dphrase d JOIN dpw USING (phrase) JOIN wscore ws ON ws.w = dpw.w
  GROUP BY d.phrase, d.n_occurrences
)
SELECT phrase, n_occurrences, score_micro
FROM scored
ORDER BY score_micro DESC, phrase
LIMIT {_RAKE_TOPK}
"""


@register(
    "text_rake_keyphrases",
    _RAKE_ORACLE,
    doc=f"RAKE keyphrase extraction — top {_RAKE_TOPK} degree/frequency-scored phrases",
)
def text_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE (Rose et al. 2010 — public) keyphrase extraction: candidate
    phrases are the maximal runs between stopwords/punctuation; each
    word scores degree/frequency (degree = Σ length of phrases it
    appears in), a phrase scores the sum of its words — the multiword
    sibling of `text_tfidf_keywords` (TF-IDF ranks words; RAKE ranks
    PHRASES, the collocation-aware extraction a corpus-labeling pass
    wants).

    Exactness: freq/deg are exact integers; each word score
    floor-quantizes to micro-units (deg·10⁶ div freq — truncation
    identical cross-engine) so phrase scores are exact integer sums;
    top-k is the (score, phrase) total order.

    Scale: the phrase explode is map-side from the document scan; word
    stats are one word-keyed aggregate; distinct-phrase scoring joins
    the phrase-word table to the word-score table (both word/phrase
    keyed) — no windows, nothing all-pairs; top-k plans as
    TakeOrderedAndProject."""
    docs = load(spark, sf_dir, "documents")
    frags = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), _RAKE_SPLIT)).alias("raw"),
    ).select(
        "doc_id",
        F.trim(F.regexp_replace(F.col("raw"), " +", " ")).alias("phrase"),
    )
    phrases = frags.filter(F.col("phrase") != "").persist(CKPT_LEVEL)
    pw = phrases.select(
        "phrase",
        F.explode(F.split(F.col("phrase"), " ")).alias("w"),
        F.size(F.split(F.col("phrase"), " ")).alias("plen"),
    )
    wscore = (
        pw.groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("plen").cast("long").alias("deg"),
        )
        .select("w", F.expr("CAST(deg * 1000000 div freq AS BIGINT)").alias("s_micro"))
    )
    dphrase = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )
    dpw = dphrase.select("phrase", F.explode(F.split(F.col("phrase"), " ")).alias("w"))
    scored = (
        dpw.join(wscore, "w")
        .groupBy("phrase")
        .agg(F.sum("s_micro").cast("long").alias("score_micro"))
        .join(dphrase, "phrase")
    )
    return (
        scored.select("phrase", "n_occurrences", "score_micro")
        .orderBy(F.col("score_micro").desc(), "phrase")
        .limit(_RAKE_TOPK)
    )


# --------------------------------------------------------------------------
# Heaps-law fit: vocabulary growth V(t) = K·t^beta over the corpus prefix
# --------------------------------------------------------------------------

_HEAPS_Q = 1_000_000  # ln quantization: micro-nats


_HEAPS_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, unnest({_WS_TOKENS_DUCK}) AS t
  FROM documents
),
doc_tokens AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok FROM toks GROUP BY doc_id
),
first_seen AS (
  SELECT doc_id AS d, CAST(count(*) AS BIGINT) AS novel
  FROM (SELECT t, min(doc_id) AS doc_id FROM toks GROUP BY t) GROUP BY doc_id
),
curve AS (
  SELECT dt.doc_id,
         CAST(sum(dt.n_tok) OVER (ORDER BY dt.doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS t_cum,
         CAST(sum(coalesce(fs.novel, 0)) OVER (ORDER BY dt.doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS v_cum
  FROM doc_tokens dt LEFT JOIN first_seen fs ON fs.d = dt.doc_id
),
pts AS (
  SELECT CAST(floor(ln(CAST(t_cum AS DOUBLE)) * {_HEAPS_Q}) AS BIGINT) AS x,
         CAST(floor(ln(CAST(v_cum AS DOUBLE)) * {_HEAPS_Q}) AS BIGINT) AS y
  FROM curve WHERE t_cum > 0 AND v_cum > 0
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS DECIMAL(38,0)) AS sxx,
         CAST(sum(CAST(x AS HUGEINT) * y) AS DECIMAL(38,0)) AS sxy
  FROM pts
)
SELECT n, sx, sy,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx) AS beta,
       round(exp((CAST(sy AS DOUBLE)
              - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx))
                * sx) / n / {_HEAPS_Q}), 6) AS k_coef
FROM m
"""


@register(
    "text_heaps_law_fit",
    _HEAPS_ORACLE,
    doc="Heaps-law vocabulary-growth fit V(t)=K·t^β over the corpus prefix curve",
)
def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps' law fit — how fast does the vocabulary grow as the corpus
    grows? β (typically 0.4–0.6 for natural text) is the other half of
    the tokenizer-sizing story next to `corpus_token_zipf` and
    `text_vocab_coverage`: it predicts the vocabulary a 100 TB crawl
    will need from the prefix curve of a sample.

    The prefix curve: docs ordered by doc_id; t(d) = cumulative tokens,
    V(d) = cumulative distinct terms = running sum of each term's
    FIRST-occurrence marker (min doc_id per term — one term-keyed
    aggregate, then a doc-keyed running sum; no per-prefix re-distinct).
    Log-log OLS over all prefix points gives β and K.

    Exactness: both logs floor-quantize to micro-nats per point; the
    OLS moments are exact DECIMAL(38,0)/HUGEINT sums; β is one shared
    IEEE expression and K's exp() display rounds to 6 dp in both
    engines (the round(…, n) convention).

    Scale: one token explode, one term-keyed aggregate (the same
    exchange the vocabulary already pays), and doc-keyed running sums
    on the range-partitioned rank machinery — never a single-task
    window over docs."""
    from gluettalax_spark.operators.rank import grouped_running_sums

    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(_tokens_col()).alias("t"))
    doc_tokens = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_tok"))
    first_seen = (
        toks.groupBy("t")
        .agg(F.min("doc_id").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("novel"))
    )
    joined = (
        doc_tokens.join(first_seen, doc_tokens["doc_id"] == first_seen["d"], "left")
        .select(
            "doc_id",
            "n_tok",
            F.coalesce(F.col("novel"), F.lit(0)).cast("long").alias("novel"),
        )
    )
    cum = grouped_running_sums(joined, [], ["doc_id"], [("n_tok", "t_cum"), ("novel", "v_cum")])
    pts = cum.filter((F.col("t_cum") > 0) & (F.col("v_cum") > 0)).select(
        F.expr(f"CAST(floor(ln(CAST(t_cum AS DOUBLE)) * {_HEAPS_Q}) AS BIGINT)").alias("x"),
        F.expr(f"CAST(floor(ln(CAST(v_cum AS DOUBLE)) * {_HEAPS_Q}) AS BIGINT)").alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
    )
    return m.selectExpr(
        "n",
        "sx",
        "sy",
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)"
        " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx) AS beta",
        f"""round(exp((CAST(sy AS DOUBLE)
              - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx))
                * sx) / n / {_HEAPS_Q}), 6) AS k_coef""",
    )


# --------------------------------------------------------------------------
# BPE APPLY: tokenize the corpus with the trained merge table, per source
# --------------------------------------------------------------------------


from gluettalax_spark.memory import register_session_df_cache

_BPE_DICT_CACHE: dict[tuple[str, str], DataFrame] = register_session_df_cache({})


def _bpe_apply_oracle(rounds: int) -> str:
    """DuckDB twin of `text_bpe_apply`: the same unrolled MATERIALIZED
    merge chain as `_bpe_train_oracle` (minus the per-round outputs),
    then the final symbol dictionary joined to per-source word counts."""
    parts = [
        r"""WITH freq0 AS MATERIALIZED (
  SELECT w, c,
         '  ' || array_to_string(regexp_extract_all(w, '.'), '  ') || '  ' AS sym
  FROM (
    SELECT w || '>' AS w, CAST(count(*) AS BIGINT) AS c
    FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents)
    GROUP BY w
  )
)"""
    ]
    for k in range(1, rounds + 1):
        prev = f"freq{k - 1}"
        parts.append(
            f"""p{k} AS MATERIALIZED (
  SELECT s[CAST(i AS INTEGER)] AS l, s[CAST(i AS INTEGER) + 1] AS r,
         CAST(sum(c) AS BIGINT) AS score
  FROM (SELECT c, string_split(trim(sym), '  ') AS s FROM {prev}) q,
       unnest(range(1, len(q.s))) AS t(i)
  GROUP BY 1, 2
),
b{k} AS MATERIALIZED (
  SELECT l, r, score FROM p{k} ORDER BY score DESC, l, r LIMIT 1
),
freq{k} AS MATERIALIZED (
  SELECT w, c,
         replace(sym, ' ' || b.l || '  ' || b.r || ' ', ' ' || b.l || b.r || ' ') AS sym
  FROM {prev}, b{k} b
)"""
        )
    parts.append(
        f"""src_freq AS MATERIALIZED (
  SELECT source, w || '>' AS w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        FROM documents)
  GROUP BY 1, 2
),
dict AS MATERIALIZED (
  SELECT w, CAST(len(string_split(trim(sym), '  ')) AS BIGINT) AS n_sym
  FROM freq{rounds}
)"""
    )
    return (
        ",\n".join(parts)
        + """
SELECT s.source,
       CAST(sum(s.c) AS BIGINT) AS n_words,
       CAST(sum(s.c * len(s.w)) AS BIGINT) AS n_chars,
       CAST(sum(s.c * d.n_sym) AS BIGINT) AS n_tokens,
       CAST(CAST(sum(s.c * d.n_sym) AS HUGEINT) * 1000000
            // sum(s.c * len(s.w)) AS BIGINT) AS tokens_per_char_ppm
FROM src_freq s JOIN dict d ON d.w = s.w
GROUP BY s.source
ORDER BY s.source
"""
    )


@register(
    "text_bpe_apply",
    _bpe_apply_oracle(BPE_TRAIN_ROUNDS),
    doc=f"apply the {BPE_TRAIN_ROUNDS}-merge trained BPE to the corpus; per-source token budget",
)
def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE APPLY — the inference half of the tokenizer whose training
    loop is `text_bpe_train`: tokenize every document with the learned
    merge table and report the per-source token budget (words, chars,
    post-merge tokens, and tokens-per-char in exact ppm) — the number a
    data team quotes when they say "this source costs N tokens".

    The key scale property of dictionary-space BPE: applying the merges
    never touches running text either. Per-source WORD counts join the
    trained (word → symbol-count) dictionary — both vocab-sized — so
    "apply" is an equi-join, not a second corpus pass; the only
    data-scale work is the per-source word count (one shuffle).

    Exactness: merge training replays `text_bpe_train` byte-for-byte
    (same separator encoding, same (score desc, l, r) tie-break); token
    counts are exact integers; the budget ratio is ONE floor division
    in ppm. The unit test pins apply's corpus-wide total equal to the
    train op's final ``tokens_after`` — the two operators must agree."""
    docs = load(spark, sf_dir, "documents")
    # The trained (word -> symbol count) dictionary memoizes per
    # (application, corpus dir) — the classifier_doc_logits /
    # ANN-codebook build/search split; re-training is deterministic so
    # the cache only skips repeated work, never changes results.
    key = (spark.sparkContext.applicationId, sf_dir)
    dict_df = _BPE_DICT_CACHE.get(key)
    if dict_df is None:
        words = docs.select(
            F.explode(F.expr(r"regexp_extract_all(lower(text), '[a-z]+', 0)")).alias("w")
        )
        freq = (
            words.groupBy("w")
            .agg(F.count("*").cast("long").alias("c"))
            .select(F.concat(F.col("w"), F.lit(">")).alias("w"), "c")
        )
        cur = freq.select(
            "w",
            "c",
            F.concat(
                F.lit("  "),
                F.array_join(F.expr("regexp_extract_all(w, '.', 0)"), "  "),
                F.lit("  "),
            ).alias("sym"),
        ).persist(CKPT_LEVEL)
        for _ in range(BPE_TRAIN_ROUNDS):
            pairs = (
                cur.withColumn("syms", F.expr(_SYMS))
                .filter(F.expr("size(syms) >= 2"))
                .select(
                    "c",
                    F.explode(
                        F.expr(
                            "transform(sequence(1, size(syms) - 1),"
                            " i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))"
                        )
                    ).alias("p"),
                )
                .select("c", "p.l", "p.r")
            )
            best = (
                pairs.groupBy("l", "r")
                .agg(F.sum("c").cast("long").alias("score"))
                .orderBy(F.desc("score"), "l", "r")
                .limit(1)
            )
            cur = (
                cur.crossJoin(F.broadcast(best.select("l", "r")))
                .select(
                    "w",
                    "c",
                    F.expr(
                        "replace(sym, concat(' ', l, '  ', r, ' '), concat(' ', l, r, ' '))"
                    ).alias("sym"),
                )
                .localCheckpoint(eager=False, storageLevel=CKPT_LEVEL)
            )
        dict_df = cur.select(
            "w", F.size(F.expr(_SYMS)).cast("long").alias("n_sym")
        ).persist(CKPT_LEVEL)
        # Bounded memo: latest (app, corpus dir) only — see
        # classifier_doc_logits for the rationale.
        _BPE_DICT_CACHE.clear()
        _BPE_DICT_CACHE[key] = dict_df
    src_freq = (
        docs.select(
            "source",
            F.explode(F.expr(r"regexp_extract_all(lower(text), '[a-z]+', 0)")).alias("w0"),
        )
        .select("source", F.concat(F.col("w0"), F.lit(">")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").cast("long").alias("c"))
    )
    return (
        src_freq.join(dict_df, "w")
        .groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            F.sum(F.col("c") * F.length("w")).cast("long").alias("n_chars"),
            F.sum(F.col("c") * F.col("n_sym")).cast("long").alias("n_tokens"),
            F.expr(
                "CAST(CAST(sum(c * n_sym) AS DECIMAL(38,0)) * 1000000"
                " div sum(c * length(w)) AS BIGINT)"
            ).alias("tokens_per_char_ppm"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Term burstiness: variance-to-mean ratio of per-document counts
# --------------------------------------------------------------------------

_BURST_TOP_TERMS = 50

_BURSTINESS_ORACLE = f"""
WITH term_doc AS MATERIALIZED (
  SELECT w, doc_id, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        FROM documents)
  GROUP BY w, doc_id
),
totals AS (
  SELECT w, CAST(sum(c) AS BIGINT) AS total FROM term_doc GROUP BY w
),
top_terms AS MATERIALIZED (
  SELECT w, total FROM totals ORDER BY total DESC, w LIMIT {_BURST_TOP_TERMS}
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
per_term AS (
  SELECT t.w, any_value(t.total) AS total,
         CAST(count(*) AS BIGINT) AS n_docs_with,
         CAST(sum(CAST(d.c AS HUGEINT) * d.c) AS HUGEINT) AS s2
  FROM term_doc d JOIN top_terms t ON t.w = d.w
  GROUP BY t.w
)
SELECT w AS term, total, n_docs_with,
       CAST((CAST(nn.n_docs AS HUGEINT) * s2 - CAST(total AS HUGEINT) * total)
            * 1000000 // (CAST(nn.n_docs AS HUGEINT) * total) AS BIGINT) AS vmr_e6,
       round(CAST((CAST(nn.n_docs AS HUGEINT) * s2 - CAST(total AS HUGEINT) * total)
            * 1000000 // (CAST(nn.n_docs AS HUGEINT) * total) AS DOUBLE) / 1000000.0, 4)
         AS vmr
FROM per_term, nn
ORDER BY vmr_e6 DESC, term
LIMIT 20
"""


@register(
    "text_burstiness",
    _BURSTINESS_ORACLE,
    doc=f"term burstiness (VMR of per-doc counts) for the top-{_BURST_TOP_TERMS} terms",
)
def text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness (Church & Gale): the variance-to-mean ratio of a
    term's per-document count, zeros included — VMR = 1 is Poisson
    (function words), VMR >> 1 marks content/topic terms that cluster in
    few documents. The corpus statistic behind stopword induction and
    tf-idf sanity checks, computed for the top-50 frequent terms and
    ranked by burstiness.

    Exactness: VMR = (N·Σc² − T²)/(N·T) is ONE floor division of exact
    integers in 1e-6 units (Cauchy-Schwarz keeps the numerator
    non-negative, so Spark ``div`` and DuckDB ``//`` agree); ranking
    ties break on the exact integer then term.

    Scale: ONE corpus scan builds the (term × doc) count table
    (checkpointed — it feeds both the totals and the per-term moments);
    the top-50 slice is TakeOrderedAndProject; the moment pass joins
    term-keyed against the 50-term broadcast. Zeros never materialize —
    the algebra counts them through N."""
    docs = load(spark, sf_dir, "documents")
    term_doc = (
        docs.select(
            "doc_id",
            F.explode(F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).alias("w"),
        )
        .groupBy("w", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist(CKPT_LEVEL)
    )
    totals = term_doc.groupBy("w").agg(F.sum("c").cast("long").alias("total"))
    top_terms = totals.orderBy(F.desc("total"), "w").limit(_BURST_TOP_TERMS)
    nn = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    per_term = (
        term_doc.join(F.broadcast(top_terms), "w")
        .groupBy("w")
        .agg(
            F.expr("any_value(total)").alias("total"),
            F.count(F.lit(1)).cast("long").alias("n_docs_with"),
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
            .cast("decimal(38,0)")
            .alias("s2"),
        )
    )
    return (
        per_term.crossJoin(F.broadcast(nn))
        .selectExpr(
            "w AS term",
            "total",
            "n_docs_with",
            "CAST((CAST(n_docs AS DECIMAL(38,0)) * s2 - CAST(total AS DECIMAL(38,0)) * total)"
            " * 1000000 div (CAST(n_docs AS DECIMAL(38,0)) * total) AS BIGINT) AS vmr_e6",
            "round(CAST((CAST(n_docs AS DECIMAL(38,0)) * s2 - CAST(total AS DECIMAL(38,0)) * total)"
            " * 1000000 div (CAST(n_docs AS DECIMAL(38,0)) * total) AS DOUBLE) / 1000000.0, 4)"
            " AS vmr",
        )
        .orderBy(F.desc("vmr_e6"), "term")
        .limit(20)
    )


# --------------------------------------------------------------------------
# MATTR: moving-average type-token ratio per source
# --------------------------------------------------------------------------

_MATTR_W = 50

_MATTR_ORACLE = f"""
WITH toks AS (
  SELECT source, regexp_extract_all(lower(text), '[a-z]+') AS tk
  FROM documents
),
eligible AS (
  SELECT source, tk, len(tk) AS n FROM toks WHERE len(tk) >= {_MATTR_W}
),
per_doc AS (
  SELECT source,
         CAST(list_sum(list_transform(range(1, n - {_MATTR_W} + 2),
              i -> len(list_distinct(list_slice(tk, i, i + {_MATTR_W} - 1))))) AS BIGINT)
           AS sum_types,
         CAST(n - {_MATTR_W} + 1 AS BIGINT) AS n_windows
  FROM eligible
),
short_docs AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_short
  FROM toks WHERE len(tk) < {_MATTR_W} GROUP BY source
)
SELECT p.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       coalesce(any_value(s.n_short), 0) AS n_short_docs,
       CAST(sum(p.sum_types) AS BIGINT) AS sum_types,
       CAST(sum(p.n_windows) AS BIGINT) AS n_windows,
       CAST(CAST(sum(p.sum_types) AS HUGEINT) * 1000000
            // (sum(p.n_windows) * {_MATTR_W}) AS BIGINT) AS mattr_ppm
FROM per_doc p
LEFT JOIN short_docs s ON s.source = p.source
GROUP BY p.source
ORDER BY p.source
"""


@register(
    "text_mattr_diversity",
    _MATTR_ORACLE,
    doc=f"moving-average type-token ratio (window {_MATTR_W}) per source",
)
def text_mattr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATTR (Covington & McFall 2010): the moving-average type-token
    ratio — slide a {_MATTR_W}-token window over each document and
    average the per-window type counts. THE length-robust lexical
    diversity metric: plain TTR (`text_lexical_diversity`) mechanically
    falls with document length, so cross-source TTR comparisons conflate
    diversity with length; MATTR doesn't. Docs shorter than the window
    are excluded from the ratio and counted separately (part of the
    spec).

    Exactness: per-window type counts are exact integers computed
    map-side from bounded array slices (O(tokens x window) per doc, all
    inside the scan stage — no shuffle of token streams); the per-source
    MATTR is ONE floor division in ppm of exact sums.

    Scale: everything per-doc is JVM-side higher-order array work in the
    scan; the only shuffle is the per-source rollup of 2 longs."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)").alias("tk")
    ).persist(CKPT_LEVEL)
    eligible = toks.filter(F.size("tk") >= _MATTR_W)
    per_doc = eligible.select(
        "source",
        F.expr(
            f"CAST(aggregate(transform(sequence(1, size(tk) - {_MATTR_W} + 1),"
            f" i -> size(array_distinct(slice(tk, i, {_MATTR_W})))),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x) AS BIGINT)"
        ).alias("sum_types"),
        (F.size("tk") - _MATTR_W + 1).cast("long").alias("n_windows"),
    )
    short_docs = (
        toks.filter(F.size("tk") < _MATTR_W)
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_short"))
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("sum_types").cast("long").alias("sum_types"),
            F.sum("n_windows").cast("long").alias("n_windows"),
        )
        .join(F.broadcast(short_docs), "source", "left")
        .selectExpr(
            "source",
            "n_docs",
            "coalesce(n_short, CAST(0 AS BIGINT)) AS n_short_docs",
            "sum_types",
            "n_windows",
            f"CAST(CAST(sum_types AS DECIMAL(38,0)) * 1000000"
            f" div (n_windows * {_MATTR_W}) AS BIGINT) AS mattr_ppm",
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Token coverage curve: what share of token mass do the top-N types carry?
# --------------------------------------------------------------------------

_COVERAGE_TOPS = (10, 100, 1000)

_COVERAGE_ORACLE = f"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents
),
vocab AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY w),
ranked AS (
  SELECT c, CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS r FROM vocab
),
tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_total, CAST(count(*) AS BIGINT) AS n_vocab
  FROM ranked
),
th AS (SELECT unnest([{", ".join(map(str, _COVERAGE_TOPS))}]) AS top_n)
SELECT th.top_n,
       CAST(count(r.r) AS BIGINT) AS n_types,
       CAST(sum(r.c) AS BIGINT) AS covered_tokens,
       CAST(max(t.n_total) AS BIGINT) AS total_tokens,
       CAST(sum(r.c) * 1000000 // max(t.n_total) AS BIGINT) AS coverage_ppm
FROM th JOIN ranked r ON r.r <= th.top_n CROSS JOIN tot t
GROUP BY th.top_n
ORDER BY th.top_n
"""


@register(
    "text_token_coverage_curve",
    _COVERAGE_ORACLE,
    doc=f"cumulative token-mass coverage of the top-{{{','.join(map(str, _COVERAGE_TOPS))}}} vocabulary types",
)
def text_token_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vocabulary-sizing table: what fraction of all token
    occurrences do the 10 / 100 / 1000 most frequent types cover?
    Tokenizer and vocab-truncation decisions read exactly this curve
    (a steep curve says a small vocab suffices; a flat one says the
    tail carries real mass). Complements `corpus_token_zipf` (the
    fitted exponent) with the raw cumulative masses.

    Exactness: ranking is the total order (count desc, token); counts
    and coverage ppm are exact integers.

    Scale: one corpus scan partial-aggregates to the vocab dictionary;
    the global rank uses the range-partitioned machinery (never a
    single-task window); only the ≤max(top_n) head rows join the
    3-row threshold grid."""
    from gluettalax_spark.operators.rank import exact_global_rank

    docs = load(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            F.explode(F.expr(r"regexp_extract_all(lower(text), '[a-z]+', 0)")).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    vocab = vocab.persist(CKPT_LEVEL)  # feeds the rank AND the total
    ranked = exact_global_rank(vocab, [F.col("c").desc(), F.col("w")], "r")
    tot = vocab.agg(
        F.sum("c").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
    )
    head = ranked.filter(F.col("r") <= max(_COVERAGE_TOPS))
    th = spark.createDataFrame([(t,) for t in _COVERAGE_TOPS], "top_n long")
    return (
        F.broadcast(th)
        .join(head, head["r"] <= th["top_n"])
        .crossJoin(F.broadcast(tot))
        .groupBy("top_n")
        .agg(
            F.count("r").cast("long").alias("n_types"),
            F.sum("c").cast("long").alias("covered_tokens"),
            F.max("n_total").cast("long").alias("total_tokens"),
            F.expr("CAST(sum(c) * 1000000 DIV max(n_total) AS BIGINT)").alias(
                "coverage_ppm"
            ),
        )
        .orderBy("top_n")
    )


# --------------------------------------------------------------------------
# Token-length distribution entropy per language
# --------------------------------------------------------------------------

_TOKLEN_ORACLE = """
WITH lens AS (
  SELECT lang, length(unnest(regexp_extract_all(lower(text), '[a-z]+'))) AS l
  FROM documents
),
ld AS (SELECT lang, l, CAST(count(*) AS BIGINT) AS c FROM lens GROUP BY 1, 2),
tot AS (
  SELECT lang, CAST(sum(c) AS BIGINT) AS n, CAST(sum(l * c) AS BIGINT) AS sum_len
  FROM ld GROUP BY lang
)
SELECT ld.lang,
       CAST(max(tot.n) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_lengths,
       CAST(max(tot.sum_len) * 1000 // max(tot.n) AS BIGINT) AS avg_len_milli,
       CAST(sum(CAST(floor((CAST(c AS DOUBLE) / tot.n)
                 * ln(CAST(tot.n AS DOUBLE) / c) * 100000000) AS BIGINT))
            AS BIGINT) AS entropy_e8
FROM ld JOIN tot ON tot.lang = ld.lang
GROUP BY ld.lang
ORDER BY ld.lang
"""


@register(
    "text_token_length_entropy",
    _TOKLEN_ORACLE,
    doc="token-length distribution entropy per language (floor-quantized integer nats)",
)
def text_token_length_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer-design signal: the Shannon entropy of each
    language's token-LENGTH distribution plus its mean length. High
    length entropy means subword merges must cover many word shapes;
    a shifted mean flags agglutinative/compounding languages that
    deserve more vocab budget. The length-level companion of
    `text_token_fertility` (which scores an EXISTING tokenizer).

    Exactness: the (lang, length) cells are exact counts; each cell
    contributes one floor-quantized p·ln(1/p) term at 1e8 (the
    `text_char_entropy` discipline), so entropies are exact int64 sums;
    avg_len_milli is integer division.

    Scale: the token explode partial-aggregates map-side to the
    (language × token-length) dictionary — ~40 cells per language —
    and everything after is dictionary-scale."""
    docs = load(spark, sf_dir, "documents")
    ld = (
        docs.select(
            "lang",
            F.explode(F.expr(r"regexp_extract_all(lower(text), '[a-z]+', 0)")).alias("w"),
        )
        .select("lang", F.length("w").alias("l"))
        .groupBy("lang", "l")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist(CKPT_LEVEL)  # feeds the totals AND the entropy fold
    )
    tot = ld.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("l") * F.col("c")).cast("long").alias("sum_len"),
    )
    term = F.expr(
        "CAST(floor((CAST(c AS DOUBLE) / n) * ln(CAST(n AS DOUBLE) / c) * 100000000) AS BIGINT)"
    )
    return (
        ld.join(F.broadcast(tot), "lang")
        .groupBy("lang")
        .agg(
            F.max("n").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_lengths"),
            F.expr("CAST(max(sum_len) * 1000 DIV max(n) AS BIGINT)").alias("avg_len_milli"),
            F.sum(term).cast("long").alias("entropy_e8"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Cross-language character-trigram profile similarity
# --------------------------------------------------------------------------

_TRIGRAM_SIM_ORACLE = """
WITH tri AS (
  SELECT lang,
         unnest(list_transform(range(1, length(lower(text)) - 1),
                               i -> substr(lower(text), CAST(i AS INTEGER), 3))) AS t3
  FROM documents
  WHERE length(text) >= 3
),
prof AS (SELECT lang, t3, CAST(count(*) AS BIGINT) AS c FROM tri GROUP BY 1, 2),
norms AS (
  SELECT lang,
         CAST(sum(CAST(c AS HUGEINT) * c) AS BIGINT) AS c2,
         CAST(sum(c) AS BIGINT) AS n
  FROM prof GROUP BY lang
),
dots AS (
  SELECT a.lang AS lang_a, b.lang AS lang_b,
         CAST(sum(CAST(a.c AS HUGEINT) * b.c) AS BIGINT) AS dot,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM prof a JOIN prof b ON a.t3 = b.t3 AND a.lang < b.lang
  GROUP BY 1, 2
)
SELECT d.lang_a, d.lang_b, na.n AS n_tri_a, nb.n AS n_tri_b, d.n_shared, d.dot,
       round(CAST(d.dot AS DOUBLE) / sqrt(CAST(na.c2 AS DOUBLE) * nb.c2), 6) AS cosine
FROM dots d
JOIN norms na ON na.lang = d.lang_a
JOIN norms nb ON nb.lang = d.lang_b
ORDER BY lang_a, lang_b
"""


@register(
    "text_lang_trigram_similarity",
    _TRIGRAM_SIM_ORACLE,
    doc="pairwise cosine similarity of per-language character-trigram profiles",
)
def text_lang_trigram_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How confusable are the corpus languages at the character level?
    Cosine similarity between per-language character-trigram count
    profiles — the diagnostic behind `text_langid_confusion`: language
    pairs with near-parallel trigram profiles are exactly where an
    n-gram language-ID model will mix them up, and where its decision
    thresholds need margin.

    Exactness: profiles, dots, and norms are exact integer folds
    (HUGEINT/DECIMAL); cosine is one shared IEEE expression rounded at
    6 dp. Character source is `(?s).` so line terminators count on
    BOTH engines (bare `.` differs cross-engine: Java drops \\n \\r
    \\u0085 \\u2028 \\u2029, RE2 only \\n — ADVICE r10) and the Spark
    trigram multiset equals the oracle's substr-over-all-chars walk on
    any corpus, multi-line included.

    Scale: the trigram explode partial-aggregates MAP-SIDE to the
    (language × trigram) dictionary — alphabet³-bounded per language —
    and the pairwise dot is an equi-join ON the trigram key of that
    dictionary, never a row-level cross; k² language pairs bound the
    output. Trigrams come from posexplode + two lead() windows (the
    shingles_exploded shape) instead of a transform(sequence, ...)
    lambda: higher-order array lambdas run interpreted and measured
    3.2× slower at sf0.1 (4.4 s → 1.4 s, identical output)."""
    # Optimization r12: posexplode carries the char array + positional
    # element_at lookups (the shingles_exploded shape) — no lead()
    # window, so the raw char stream never hash-shuffles on doc_id.
    docs = load(spark, sf_dir, "documents")
    ch = docs.filter(F.length("text") >= 3).select(
        "doc_id",
        "lang",
        F.expr("regexp_extract_all(lower(text), '(?s).', 0)").alias("chs"),
    ).select("doc_id", "lang", "chs", F.posexplode("chs").alias("pos", "ch"))
    prof = (
        ch.filter(F.col("pos") <= F.size("chs") - 3)
        .select(
            "lang",
            F.concat(
                "ch",
                F.element_at("chs", F.col("pos") + 2),
                F.element_at("chs", F.col("pos") + 3),
            ).alias("t3"),
        )
        .groupBy("lang", "t3")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist(CKPT_LEVEL)  # feeds norms AND both join sides
    )
    norms = prof.groupBy("lang").agg(
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).cast("long").alias("c2"),
        F.sum("c").cast("long").alias("n"),
    )
    a = prof.select(F.col("lang").alias("lang_a"), "t3", F.col("c").alias("c_a"))
    b = prof.select(F.col("lang").alias("lang_b"), "t3", F.col("c").alias("c_b"))
    dots = (
        a.join(b, "t3")
        .filter(F.col("lang_a") < F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(
            F.sum(F.col("c_a").cast("decimal(38,0)") * F.col("c_b")).cast("long").alias("dot"),
            F.count(F.lit(1)).cast("long").alias("n_shared"),
        )
    )
    na = norms.select(
        F.col("lang").alias("lang_a"), F.col("c2").alias("c2_a"), F.col("n").alias("n_tri_a")
    )
    nb = norms.select(
        F.col("lang").alias("lang_b"), F.col("c2").alias("c2_b"), F.col("n").alias("n_tri_b")
    )
    return (
        dots.join(F.broadcast(na), "lang_a")
        .join(F.broadcast(nb), "lang_b")
        .selectExpr(
            "lang_a",
            "lang_b",
            "n_tri_a",
            "n_tri_b",
            "n_shared",
            "dot",
            "round(CAST(dot AS DOUBLE) / sqrt(CAST(c2_a AS DOUBLE) * c2_b), 6) AS cosine",
        )
        .orderBy("lang_a", "lang_b")
    )


# --------------------------------------------------------------------------
# Doc-length inequality (Gini) per source
# --------------------------------------------------------------------------

_LENGTH_GINI_ORACLE = """
WITH dict AS (
  SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS m
  FROM documents GROUP BY 1, 2
),
r AS (
  SELECT source, v, m,
         CAST(sum(m) OVER (PARTITION BY source ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM dict
),
g AS (
  SELECT source,
         CAST(sum(m) AS BIGINT) AS n_docs,
         CAST(sum(CAST(v AS HUGEINT) * m) AS BIGINT) AS s,
         CAST(sum(CAST(v AS HUGEINT) * (m * (cum - m) + m * (m + 1) // 2)) AS BIGINT) AS a
  FROM r GROUP BY source
)
SELECT source, n_docs, s AS total_chars,
       round(2.0 * CAST(a AS DOUBLE) / (CAST(n_docs AS DOUBLE) * s)
             - (CAST(n_docs AS DOUBLE) + 1) / n_docs, 6) AS gini
FROM g
ORDER BY source
"""


@register(
    "text_doc_length_gini",
    _LENGTH_GINI_ORACLE,
    doc="Gini coefficient of document lengths per source (dictionary rank moments)",
)
def text_doc_length_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-inequality audit per source: a source whose Gini spikes is
    mixing shards of very different document kinds (stub pages next to
    dumps) — the balance signal `corpus_epoch_schedule` and the packing
    ops assume away. Same statistic as `orders_gini_customers`, but
    computed WITHOUT ranking rows: for a value v with multiplicity m
    after cum_before items, Σ ranks = m·cum_before + m(m+1)/2, so the
    rank moment folds over the (source × length) DICTIONARY — the
    dictionary-first discipline applied to an order statistic.

    Exactness: all three moments are exact integers (HUGEINT /
    DECIMAL(38,0)); m(m+1)/2 is exact integer division; the Gini is one
    rounded IEEE expression.

    Scale: one groupBy to the (source × length) dictionary; the running
    count uses the range-partitioned machinery per source; nothing else
    touches data rows."""
    from gluettalax_spark.operators.rank import grouped_running_sums

    docs = load(spark, sf_dir, "documents")
    dict_df = (
        docs.select("source", F.col("n_chars").alias("v"))
        .groupBy("source", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
    )
    r = grouped_running_sums(dict_df, ["source"], ["v"], [("m", "cum")])
    g = r.groupBy("source").agg(
        F.sum("m").cast("long").alias("n_docs"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("m")).cast("long").alias("s"),
        F.sum(
            F.col("v").cast("decimal(38,0)")
            * (
                F.col("m") * (F.col("cum") - F.col("m"))
                + F.expr("m * (m + 1) DIV 2")
            )
        )
        .cast("long")
        .alias("a"),
    )
    return g.selectExpr(
        "source",
        "n_docs",
        "s AS total_chars",
        "round(2.0 * CAST(a AS DOUBLE) / (CAST(n_docs AS DOUBLE) * s)"
        " - (CAST(n_docs AS DOUBLE) + 1) / n_docs, 6) AS gini",
    ).orderBy("source")


# --------------------------------------------------------------------------
# Source × language coverage grid
# --------------------------------------------------------------------------

_COVERAGE_GRID_ORACLE = """
WITH g AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_chars
  FROM documents GROUP BY 1, 2
),
ms AS (SELECT source, CAST(sum(n_docs) AS BIGINT) AS src_docs FROM g GROUP BY source),
ml AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS lang_docs FROM g GROUP BY lang),
t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM g)
SELECT g.source, g.lang, g.n_docs, g.n_chars,
       CAST(g.n_docs * 1000000 // ms.src_docs AS BIGINT)  AS within_source_ppm,
       CAST(g.n_docs * 1000000 // ml.lang_docs AS BIGINT) AS within_lang_ppm,
       CAST(g.n_docs * 1000000 // t.total AS BIGINT)      AS total_ppm
FROM g
JOIN ms ON ms.source = g.source
JOIN ml ON ml.lang = g.lang
CROSS JOIN t
ORDER BY g.source, g.lang
"""


@register(
    "text_source_lang_coverage",
    _COVERAGE_GRID_ORACLE,
    doc="source × language doc/char contingency grid with row/column/total ppm shares",
)
def text_source_lang_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw contingency view behind `stats_mutual_information`'s
    single number: how each source's documents distribute over
    languages (and vice versa), with character mass — the first table a
    corpus audit reads to spot a feed that silently went monolingual or
    a language served by only one source (a deduplication/contamination
    risk concentrated in one pipe).

    Exactness: counts and character sums are exact integers; all three
    shares are integer ppm against their broadcast marginals.

    Scale: one scan partial-aggregates onto the (source × lang) grid
    (label-cardinality bounded); marginals re-aggregate the GRID, never
    the data, and broadcast back."""
    docs = load(spark, sf_dir, "documents")
    g = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )
    g = g.persist(CKPT_LEVEL)  # feeds all three marginals AND the output
    ms = g.groupBy("source").agg(F.sum("n_docs").cast("long").alias("src_docs"))
    ml = g.groupBy("lang").agg(F.sum("n_docs").cast("long").alias("lang_docs"))
    t = g.agg(F.sum("n_docs").cast("long").alias("total"))
    return (
        g.join(F.broadcast(ms), "source")
        .join(F.broadcast(ml), "lang")
        .crossJoin(F.broadcast(t))
        .selectExpr(
            "source",
            "lang",
            "n_docs",
            "n_chars",
            "CAST(n_docs * 1000000 DIV src_docs AS BIGINT) AS within_source_ppm",
            "CAST(n_docs * 1000000 DIV lang_docs AS BIGINT) AS within_lang_ppm",
            "CAST(n_docs * 1000000 DIV total AS BIGINT) AS total_ppm",
        )
        .orderBy("source", "lang")
    )


# --------------------------------------------------------------------------
# Automated Readability Index per source (exact integer milli-points)
# --------------------------------------------------------------------------

_ARI_ORACLE = r"""
WITH per_doc AS (
  SELECT source,
         CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS BIGINT) AS l,
         CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS w,
         greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS s
  FROM documents
),
agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(l) AS BIGINT) AS n_alnum,
         greatest(1, CAST(sum(w) AS BIGINT)) AS n_words,
         CAST(sum(s) AS BIGINT) AS n_sentences
  FROM per_doc GROUP BY source
)
SELECT source, n_docs, n_alnum, n_words, n_sentences,
       CAST((471000 * n_alnum) // n_words
            + (50000 * n_words) // n_sentences - 2143000 AS BIGINT) AS ari_milli
FROM agg
ORDER BY source
"""


@register(
    "text_readability_ari",
    _ARI_ORACLE,
    doc="Automated Readability Index per source (integer milli-points; exact char/word/sentence counts)",
)
def text_readability_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARI per source — 4.71·(chars/words) + 0.5·(words/sentences) −
    21.43, the readability grade built ONLY from counts (no syllable
    dictionary, so it's exactly computable at corpus scale). The grade-
    level companion of `text_quality_score`: sources whose ARI sits far
    from the corpus band are boilerplate (too regular) or OCR noise
    (too irregular), and readability drift between snapshots is an
    early curation regression signal.

    Conventions (the spec, identical both engines): characters =
    alphanumerics only; words = maximal [A-Za-z0-9]+ runs; sentences =
    maximal [.!?]+ runs clamped to ≥1 per doc (headline-only docs count
    as one sentence); ARI from per-SOURCE totals, not per-doc averages.

    Exactness: counts are exact integers; ARI is two integer floor-
    divisions at milli-scale (471000·L // W + 50000·W // S − 2143000) —
    no floats anywhere.

    Scale: one corpus scan computing three regex folds per doc,
    partial-aggregated map-side to the source dictionary."""
    docs = load(spark, sf_dir, "documents")
    per_doc = docs.selectExpr(
        "source",
        "CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '')) AS BIGINT) AS l",
        r"CAST(size(regexp_extract_all(text, '[A-Za-z0-9]+', 0)) AS BIGINT) AS w",
        r"greatest(1L, CAST(size(regexp_extract_all(text, '[.!?]+', 0)) AS BIGINT)) AS s",
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("l").cast("long").alias("n_alnum"),
            F.greatest(F.lit(1).cast("long"), F.sum("w").cast("long")).alias("n_words"),
            F.sum("s").cast("long").alias("n_sentences"),
        )
        .selectExpr(
            "source",
            "n_docs",
            "n_alnum",
            "n_words",
            "n_sentences",
            "CAST((471000 * n_alnum) div n_words"
            " + (50000 * n_words) div n_sentences - 2143000 AS BIGINT) AS ari_milli",
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# PII pattern scan (emails / IPv4 / SSN-like / phone-like) per source
# --------------------------------------------------------------------------

# Conservative patterns that parse AND match identically under Java regex
# (Spark) and RE2 (DuckDB): no lookaround, no backrefs, explicit classes.
# Counting is leftmost-non-overlapping in both engines.
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
_PII_IPV4 = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
_PII_SSN = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
_PII_PHONE = "[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"

_PII_ORACLE = f"""
WITH per_doc AS (
  SELECT source,
         CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
         CAST(len(regexp_extract_all(text, '{_PII_IPV4}')) AS BIGINT) AS n_ipv4,
         CAST(len(regexp_extract_all(text, '{_PII_SSN}')) AS BIGINT) AS n_ssn,
         CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS BIGINT) AS n_phone
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_email) AS BIGINT) AS n_email,
       CAST(sum(n_ipv4) AS BIGINT) AS n_ipv4,
       CAST(sum(n_ssn) AS BIGINT) AS n_ssn,
       CAST(sum(n_phone) AS BIGINT) AS n_phone,
       CAST(sum(CASE WHEN n_email + n_ipv4 + n_ssn + n_phone > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_docs_with_pii,
       CAST(sum(CASE WHEN n_email + n_ipv4 + n_ssn + n_phone > 0 THEN 1 ELSE 0 END)
            * 1000000 // count(*) AS BIGINT) AS pii_docs_ppm
FROM per_doc
GROUP BY source
ORDER BY source
"""


@register(
    "text_pii_pattern_scan",
    _PII_ORACLE,
    doc="PII pattern scan per source: email/IPv4/SSN-like/phone-like match counts + doc ppm",
)
def text_pii_pattern_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The redaction pre-flight every LLM training pipeline runs: how
    much PII-shaped text does each source carry? Four conservative
    pattern families (emails, IPv4s, SSN-shaped 3-2-4 numbers,
    phone-shaped 3-3-4 numbers) counted per document and rolled up to
    source totals plus the fraction of documents carrying any hit —
    the number that decides whether a source needs a redaction pass
    (`text_redact_stats` is the accompanying transform) or can ship.

    Exactness: pure integer match counts; patterns avoid every Java/RE2
    divergence (no lookaround, no backrefs, [.] instead of escaped dot
    so the same literal string feeds both engines); counting is
    leftmost-non-overlapping in both. The ppm is an integer floor
    division.

    Scale: one corpus scan, four regex folds per row pipelining inside
    the scan stage, partial-aggregated map-side to the source
    dictionary."""
    docs = load(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        *[
            F.size(F.expr(f"regexp_extract_all(text, '{pat}', 0)")).cast("long").alias(name)
            for name, pat in (
                ("n_email", _PII_EMAIL),
                ("n_ipv4", _PII_IPV4),
                ("n_ssn", _PII_SSN),
                ("n_phone", _PII_PHONE),
            )
        ],
    )
    any_hit = (
        F.col("n_email") + F.col("n_ipv4") + F.col("n_ssn") + F.col("n_phone") > 0
    ).cast("long")
    return (
        per_doc.withColumn("hit", any_hit)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_email").cast("long").alias("n_email"),
            F.sum("n_ipv4").cast("long").alias("n_ipv4"),
            F.sum("n_ssn").cast("long").alias("n_ssn"),
            F.sum("n_phone").cast("long").alias("n_phone"),
            F.sum("hit").cast("long").alias("n_docs_with_pii"),
            F.expr("CAST(sum(hit) * 1000000 div count(1) AS BIGINT)").alias("pii_docs_ppm"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# HTML/markup residue per source (extraction-leak detector)
# --------------------------------------------------------------------------

_HTML_MARKERS = ("</", "&amp;", "&lt;", "<div", "href=")


def _contains_count(marker: str) -> str:
    """Occurrence count of a literal via length difference — no regex, so
    metacharacters in markers can't diverge between engines."""
    q = marker.replace("'", "''")
    return (
        f"(length(text) - length(replace(text, '{q}', ''))) / {len(marker)}"
    )


_HTML_ORACLE = f"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       {", ".join(
           f"CAST(sum(CASE WHEN position('{m.replace(chr(39), chr(39)*2)}' IN text) > 0 "
           f"THEN 1 ELSE 0 END) AS BIGINT) AS docs_m{i}"
           for i, m in enumerate(_HTML_MARKERS)
       )},
       CAST(sum({" + ".join("CAST(" + _contains_count(m) + " AS BIGINT)" for m in _HTML_MARKERS)})
            AS BIGINT) AS n_marker_hits,
       CAST(sum(CASE WHEN {" OR ".join(
           f"position('{m.replace(chr(39), chr(39)*2)}' IN text) > 0" for m in _HTML_MARKERS
       )} THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS residue_docs_ppm
FROM documents
GROUP BY source
ORDER BY source
"""


@register(
    "text_html_tag_residue",
    _HTML_ORACLE,
    doc="HTML/markup residue per source: marker doc-counts + total hits + residue ppm",
)
def text_html_tag_residue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction-leak detector: documents that still contain raw markup
    (closing tags, HTML entities, hrefs) after text extraction — the
    classic RefinedWeb/CCNet cleanliness check. A source whose residue
    ppm jumps between snapshots changed its extractor, not its content.

    Markers are LITERALS counted via position()/length-difference — no
    regex anywhere, so there is no cross-engine metacharacter surface at
    all. Integer counts and one ppm floor division; one scan,
    source-dictionary aggregate."""
    docs = load(spark, sf_dir, "documents")

    def occ(m: str):  # per-term integer occurrence count (the oracle's shape)
        return (
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit(m), F.lit(""))))
            / len(m)
        ).cast("long")

    hits = sum(occ(m) for m in _HTML_MARKERS)
    any_marker = sum(
        (F.instr(F.col("text"), m) > 0).cast("long") for m in _HTML_MARKERS
    ) > 0
    per_doc = docs.select(
        "source",
        hits.alias("h"),
        any_marker.cast("long").alias("a"),
        *[
            (F.instr(F.col("text"), m) > 0).cast("long").alias(f"m{i}")
            for i, m in enumerate(_HTML_MARKERS)
        ],
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            *[
                F.sum(f"m{i}").cast("long").alias(f"docs_m{i}")
                for i in range(len(_HTML_MARKERS))
            ],
            F.sum("h").cast("long").alias("n_marker_hits"),
            F.sum("a").cast("long").alias("n_residue_docs"),
        )
        .selectExpr(
            "source",
            "n_docs",
            *[f"docs_m{i}" for i in range(len(_HTML_MARKERS))],
            "n_marker_hits",
            "CAST(n_residue_docs * 1000000 div n_docs AS BIGINT) AS residue_docs_ppm",
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Flesch Reading Ease per source (syllables = vowel-group runs)
# --------------------------------------------------------------------------

_FLESCH_ORACLE = r"""
WITH per_doc AS (
  SELECT source,
         CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS w,
         greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS s,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS syl
  FROM documents
),
agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         greatest(1, CAST(sum(w) AS BIGINT)) AS n_words,
         CAST(sum(s) AS BIGINT) AS n_sentences,
         CAST(sum(syl) AS BIGINT) AS n_syllables
  FROM per_doc GROUP BY source
)
SELECT source, n_docs, n_words, n_sentences, n_syllables,
       CAST(206835 - (1015 * n_words) // n_sentences
                   - (84600 * n_syllables) // n_words AS BIGINT) AS flesch_milli
FROM agg
ORDER BY source
"""


@register(
    "text_readability_flesch",
    _FLESCH_ORACLE,
    doc="Flesch Reading Ease per source (integer milli-points; syllables = vowel-group runs)",
)
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch Reading Ease per source — 206.835 − 1.015·(words/sentences)
    − 84.6·(syllables/words). The syllable-based companion of
    `text_readability_ari` (which is char-count based; the two
    deliberately disagree on acronym-/number-heavy text, and THAT gap is
    the OCR-noise signal): a source whose Flesch says "easy" while ARI
    says "grade 20" is full of long alphanumeric junk tokens.

    Conventions (the spec, identical both engines): words and sentences
    exactly as ARI ([A-Za-z0-9]+ runs; [.!?]+ runs clamped ≥1/doc);
    syllables = maximal [aeiouy]+ runs in the LOWERCASED text (the
    standard dictionary-free approximation); per-SOURCE totals with the
    word total clamped ≥1.

    Exactness: integer counts; Flesch at milli-scale is two integer
    floor-divisions — 206835 − (1015·W)//S − (84600·Syl)//W. BIGINT
    headroom: 84600·Syl overflows past ~1e14 total syllables per source
    — at that scale promote to DECIMAL(38) (the KS/W₁ discipline).

    Scale: one corpus scan, three regex folds per doc, partial-aggregated
    map-side onto the source dictionary."""
    docs = load(spark, sf_dir, "documents")
    per_doc = docs.selectExpr(
        "source",
        r"CAST(size(regexp_extract_all(text, '[A-Za-z0-9]+', 0)) AS BIGINT) AS w",
        r"greatest(1L, CAST(size(regexp_extract_all(text, '[.!?]+', 0)) AS BIGINT)) AS s",
        r"CAST(size(regexp_extract_all(lower(text), '[aeiouy]+', 0)) AS BIGINT) AS syl",
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.greatest(F.lit(1).cast("long"), F.sum("w").cast("long")).alias("n_words"),
            F.sum("s").cast("long").alias("n_sentences"),
            F.sum("syl").cast("long").alias("n_syllables"),
        )
        .selectExpr(
            "source",
            "n_docs",
            "n_words",
            "n_sentences",
            "n_syllables",
            "CAST(206835 - (1015 * n_words) DIV n_sentences"
            " - (84600 * n_syllables) DIV n_words AS BIGINT) AS flesch_milli",
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Lexical diversity per source: Simpson, Shannon, type-token ratio
# --------------------------------------------------------------------------
#
# The vocabulary-health dashboard for a training mix: a source whose
# Simpson index spikes is dominated by a few tokens (template spam,
# boilerplate); one whose TTR collapses under growth is saturating. Both
# are one-pass dictionary statistics — the LLM-corpus companion to
# text_zipf_fit (rank shape) and text_char_entropy (char level).

_DIVERSITY_SCALE = 1_000_000_000  # Shannon terms floor-quantized to 1e-9 nats

_TOKEN_DIVERSITY_ORACLE = f"""
WITH words AS (
  SELECT d.source, w.w AS w
  FROM documents d, unnest(regexp_extract_all(lower(d.text), '[a-z]+')) AS w(w)
),
counts AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS n FROM words GROUP BY source, w
),
tot AS (
  SELECT source, CAST(sum(n) AS BIGINT) AS nn, CAST(count(*) AS BIGINT) AS v
  FROM counts GROUP BY source
),
terms AS (
  SELECT c.source,
         CAST(n AS HUGEINT) * (n - 1) AS sim,
         CAST(floor((CAST(n AS DOUBLE)
                     * (ln(CAST(t.nn AS DOUBLE)) - ln(CAST(n AS DOUBLE)))
                     / t.nn) * {_DIVERSITY_SCALE}.0) AS BIGINT) AS t_e9
  FROM counts c JOIN tot t USING (source)
)
SELECT t.source,
       t.nn AS n_tokens,
       t.v AS n_types,
       CAST(t.v * 1000000 // t.nn AS BIGINT) AS ttr_ppm,
       CAST(sum(sim) AS BIGINT) AS simpson_num,
       CASE WHEN t.nn > 1
            THEN round(CAST(sum(sim) AS DOUBLE) / (CAST(t.nn AS DOUBLE) * (t.nn - 1)), 6)
            ELSE 0.0 END AS simpson,
       CAST(sum(t_e9) AS BIGINT) AS shannon_e9
FROM terms tr JOIN tot t USING (source)
GROUP BY t.source, t.nn, t.v
ORDER BY t.source
"""


@register(
    "text_token_diversity",
    _TOKEN_DIVERSITY_ORACLE,
    doc="per-source lexical diversity: Simpson index, Shannon entropy (e9 nats), type-token ratio",
)
def text_token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical diversity over the [a-z]+ token dictionary (the
    DSIR tokenization): exact type/token counts and TTR ppm, the Simpson
    concentration Σn(n−1)/(N(N−1)) with its integer numerator exposed
    (DECIMAL(38) partial sums — no overflow at corpus scale), and Shannon
    entropy H = Σ n·(ln N − ln n)/N with each term floor-quantized to
    1e-9 nats BEFORE the sum (the PSI/logppl discipline: ints commute,
    float folds don't).

    Scale: one token explode → per-(source, token) count (dictionary
    sized, map-side partials) → per-source fold. No windows, no joins
    beyond the bounded per-source totals — the 100 TB plan is the
    fixture plan."""
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "source",
        F.explode(F.expr(r"regexp_extract_all(lower(text), '[a-z]+', 0)")).alias("w"),
    )
    counts = words.groupBy("source", "w").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = counts.groupBy("source").agg(
        F.sum("n").cast("long").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    terms = counts.join(F.broadcast(tot), "source").select(
        "source",
        "nn",
        "v",
        (F.col("n").cast("decimal(38,0)") * (F.col("n") - 1)).alias("sim"),
        F.floor(
            (
                F.col("n").cast("double")
                * (F.log(F.col("nn").cast("double")) - F.log(F.col("n").cast("double")))
                / F.col("nn")
            )
            * float(_DIVERSITY_SCALE)
        )
        .cast("long")
        .alias("t_e9"),
    )
    return (
        terms.groupBy("source", "nn", "v")
        .agg(
            F.sum("sim").cast("long").alias("simpson_num"),
            F.sum("t_e9").cast("long").alias("shannon_e9"),
        )
        .selectExpr(
            "source",
            "nn AS n_tokens",
            "v AS n_types",
            "CAST(v * 1000000 div nn AS BIGINT) AS ttr_ppm",
            "simpson_num",
            "CASE WHEN nn > 1"
            " THEN round(CAST(simpson_num AS DOUBLE) / (CAST(nn AS DOUBLE) * (nn - 1)), 6)"
            " ELSE 0.0D END AS simpson",
            "shannon_e9",
        )
        .orderBy("source")
    )
