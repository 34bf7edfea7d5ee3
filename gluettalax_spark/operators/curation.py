"""Round-9 curation operators: corpus richness estimation, tokenizer
fertility, fuzzy record linkage, information-theoretic dependence, and
robust/outlier statistics.

These extend the LLM-training-data surface (SURVEY §2 F-north) with the
estimators a curation pipeline runs after the dedup/quality passes the
earlier rounds built: how much vocabulary is still unseen (Good-Turing /
Chao1 — Good 1953, Chao 1984), how many subword tokens a tokenizer spends
per word and per character in each language (fertility — the standard
multilingual-tokenizer audit), which catalog names are near-miss
duplicates that exact dedup cannot see (blocked Levenshtein linkage —
Fellegi-Sunter-style blocking), whether two labeling dimensions are
independent (mutual information over a bounded grid), and whether a
daily series has a single gross outlier (Grubbs 1950).

Exactness discipline (repo-wide recipe, see operators/hypothesis.py):
counts and moment sums are exact integers (BIGINT / DECIMAL(38,0)
summands); each final statistic is ONE fixed sequence of IEEE double
ops so Spark and DuckDB agree bit-for-bit; unbounded float folds are
quantized to integer micro-nats before summing (the JSD/e9 pattern).

Scale shapes: every operator aggregates corpus-scale data down to a
bounded dictionary (vocabulary, count-of-counts, brand blocks, a
sources×langs grid, calendar days) in its FIRST shuffle; everything
after runs on metadata-scale tables.
"""

from __future__ import annotations

from gluettalax_spark.memory import CKPT_LEVEL

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gluettalax_spark.operators.dedup import (
    _BPE_ISH_COUNT_DUCK,
    _WORD_COUNT_DUCK,
    NGRAM_SCORED_CTES,
    bpe_ish_count,
    dedup_ngram_jaccard,
    word_count,
)
from gluettalax_spark.registry import register
from gluettalax_spark.tables import load

# --------------------------------------------------------------------------
# Good-Turing unseen mass + Chao1 vocabulary richness, per source
# --------------------------------------------------------------------------

_GOOD_TURING_ORACLE = r"""
WITH sc AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS c
  FROM (
    SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
    FROM documents
  )
  GROUP BY 1, 2
)
SELECT source,
       CAST(sum(c) AS BIGINT)                            AS n_tokens,
       CAST(count(*) AS BIGINT)                          AS n_types,
       CAST(count(CASE WHEN c = 1 THEN 1 END) AS BIGINT) AS f1,
       CAST(count(CASE WHEN c = 2 THEN 1 END) AS BIGINT) AS f2,
       CAST(count(CASE WHEN c = 1 THEN 1 END) AS DOUBLE)
         / CAST(sum(c) AS DOUBLE)                        AS unseen_mass,
       CASE WHEN count(CASE WHEN c = 2 THEN 1 END) > 0 THEN
         CAST(count(*) AS DOUBLE)
           + CAST(count(CASE WHEN c = 1 THEN 1 END) AS DOUBLE)
             * CAST(count(CASE WHEN c = 1 THEN 1 END) AS DOUBLE)
             / (2.0 * CAST(count(CASE WHEN c = 2 THEN 1 END) AS DOUBLE))
       ELSE
         CAST(count(*) AS DOUBLE)
           + CAST(count(CASE WHEN c = 1 THEN 1 END) AS DOUBLE)
             * (CAST(count(CASE WHEN c = 1 THEN 1 END) AS DOUBLE) - 1.0) / 2.0
       END                                               AS chao1_vocab
FROM sc
GROUP BY source
ORDER BY source
"""


@register(
    "text_good_turing_vocab",
    _GOOD_TURING_ORACLE,
    doc="Good-Turing unseen-token mass + Chao1 total-vocabulary estimate per source",
)
def text_good_turing_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much of each source's vocabulary has the corpus NOT seen yet —
    the curation signal for "will more crawling of this source still add
    new types?". Good-Turing: the probability mass of unseen types is
    f1/N (singleton share); Chao1: total vocabulary ≈ V + f1²/(2·f2),
    with the bias-corrected V + f1(f1−1)/2 fallback when no doubletons
    exist (Chao 1984; the same estimator ecology uses for species
    richness).

    Exactness: N, V, f1, f2 are exact BIGINT aggregates of the
    (source, token) count table; `unseen_mass` and `chao1_vocab` are
    each one fixed IEEE expression over those integers.

    Scale: one corpus scan shuffles to the (source × token) count table
    (vocabulary-bounded — the same first shuffle every text op here
    takes); the richness aggregate runs per source over that dictionary.
    Count-of-count tails (f1, f2) are plain conditional counts, no
    second explode."""
    tok = load(spark, sf_dir, "documents").select(
        "source",
        F.explode(F.expr(r"regexp_extract_all(lower(text), '[a-z]+', 0)")).alias("w"),
    )
    sc = tok.groupBy("source", "w").agg(F.count("*").cast("long").alias("c"))
    agg = sc.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.count(F.when(F.col("c") == 1, 1)).cast("long").alias("f1"),
        F.count(F.when(F.col("c") == 2, 1)).cast("long").alias("f2"),
    )
    return agg.selectExpr(
        "source",
        "n_tokens",
        "n_types",
        "f1",
        "f2",
        "CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS unseen_mass",
        """CASE WHEN f2 > 0 THEN
             CAST(n_types AS DOUBLE)
               + CAST(f1 AS DOUBLE) * CAST(f1 AS DOUBLE) / (2.0 * CAST(f2 AS DOUBLE))
           ELSE
             CAST(n_types AS DOUBLE)
               + CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1.0) / 2.0
           END AS chao1_vocab""",
    ).orderBy("source")


# --------------------------------------------------------------------------
# Tokenizer fertility per language
# --------------------------------------------------------------------------

_FERTILITY_ORACLE = rf"""
WITH d AS (
  SELECT lang,
         {_WORD_COUNT_DUCK}  AS ws,
         {_BPE_ISH_COUNT_DUCK} AS bpe,
         CAST(n_chars AS BIGINT) AS nc
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT)  AS n_docs,
       CAST(sum(ws) AS BIGINT)   AS ws_tokens,
       CAST(sum(bpe) AS BIGINT)  AS bpe_tokens,
       CAST(sum(nc) AS BIGINT)   AS n_chars,
       CAST(sum(bpe) AS DOUBLE) / CAST(sum(ws) AS DOUBLE) AS fertility,
       CAST(sum(nc) AS DOUBLE) / CAST(sum(bpe) AS DOUBLE) AS chars_per_token
FROM d
GROUP BY lang
ORDER BY lang
"""


@register(
    "text_token_fertility",
    _FERTILITY_ORACLE,
    doc="tokenizer fertility (subword tokens per word) and chars/token, per language",
)
def text_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multilingual tokenizer audit: how many BPE-ish subword tokens
    the tokenizer spends per whitespace word (fertility) and how many
    characters each token covers, per language. High fertility on a
    language means the tokenizer under-serves it — the standard signal
    for rebalancing tokenizer training data.

    Exactness: per-doc token counts are exact regexp counts; per-lang
    sums are BIGINT; the two ratios are one IEEE division each.

    Scale: a single scan with per-row regexp counts (JVM codegen, no
    Python) into a languages-sized aggregate — nothing after the first
    shuffle is data-scale."""
    d = load(spark, sf_dir, "documents").select(
        "lang",
        word_count().alias("ws"),
        bpe_ish_count().alias("bpe"),
        F.col("n_chars").cast("long").alias("nc"),
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("ws").cast("long").alias("ws_tokens"),
            F.sum("bpe").cast("long").alias("bpe_tokens"),
            F.sum("nc").cast("long").alias("n_chars"),
        )
        .selectExpr(
            "lang",
            "n_docs",
            "ws_tokens",
            "bpe_tokens",
            "n_chars",
            "CAST(bpe_tokens AS DOUBLE) / CAST(ws_tokens AS DOUBLE) AS fertility",
            "CAST(n_chars AS DOUBLE) / CAST(bpe_tokens AS DOUBLE) AS chars_per_token",
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Fuzzy record linkage: blocked Levenshtein near-miss part names
# --------------------------------------------------------------------------

_FUZZY_MAX_DIST = 2
# Second blocking key inside the brand block: length band of width 4
# with neighbor-band replication. Edit distance ≤ _FUZZY_MAX_DIST=2
# implies |Δlen| ≤ 2 < 4, so a true pair's bands differ by at most 1 —
# replicating the a-side to {band-1, band, band+1} provably loses no
# qualifying pair (completeness by construction, not fixture luck), and
# each pair joins exactly once (the a-side replica landing on b's band).
# This takes the per-brand join off the all-pairs path: candidates are
# equi-join matches on (brand, band), ~3/|bands| of the brand block.
_FUZZY_BAND_W = 4

#: names → banded replicas → Levenshtein-verified pairs; shared verbatim
#: by the pair and cluster oracles (named constant, not string surgery).
_FUZZY_PAIRS_CTES = f"""names AS (
  SELECT p_brand, p_name, CAST(count(*) AS BIGINT) AS n_parts,
         CAST(length(p_name) // {_FUZZY_BAND_W} AS BIGINT) AS band
  FROM part GROUP BY 1, 2
),
a_rep AS (
  SELECT n.*, n.band + oo.o AS jband
  FROM names n CROSS JOIN (SELECT unnest([-1, 0, 1]) AS o) oo
),
fpairs AS (
  SELECT a.p_brand AS brand,
         a.p_name  AS a_name,
         b.p_name  AS b_name,
         CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
         a.n_parts AS a_parts,
         b.n_parts AS b_parts
  FROM a_rep a JOIN names b
    ON a.p_brand = b.p_brand AND a.jband = b.band AND a.p_name < b.p_name
  WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND {_FUZZY_MAX_DIST}
)"""

_FUZZY_NAME_ORACLE = f"""
WITH {_FUZZY_PAIRS_CTES}
SELECT brand, a_name, b_name, dist, a_parts, b_parts,
       CAST(a_parts * b_parts AS BIGINT) AS pair_count
FROM fpairs
ORDER BY brand, a_name, b_name
"""


def _fuzzy_name_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct (brand, name) dictionary with multiplicities and
    the length band."""
    return (
        load(spark, sf_dir, "part")
        .groupBy("p_brand", "p_name")
        .agg(F.count("*").cast("long").alias("n_parts"))
        .withColumn("band", F.expr(f"CAST(length(p_name) DIV {_FUZZY_BAND_W} AS BIGINT)"))
    )


def _fuzzy_pairs(names: DataFrame) -> DataFrame:
    """Banded-blocked Levenshtein pairs over the name dictionary:
    (brand, a_name, b_name, dist, a_parts, b_parts)."""
    a = names.withColumn(
        "jband",
        F.explode(F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1)),
    ).alias("a")
    b = names.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.jband") == F.col("b.band"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .where(dist.between(1, _FUZZY_MAX_DIST))
        .select(
            F.col("a.p_brand").alias("brand"),
            F.col("a.p_name").alias("a_name"),
            F.col("b.p_name").alias("b_name"),
            dist.cast("long").alias("dist"),
            F.col("a.n_parts").alias("a_parts"),
            F.col("b.n_parts").alias("b_parts"),
        )
    )


@register(
    "dedup_fuzzy_name_pairs",
    _FUZZY_NAME_ORACLE,
    doc=f"blocked Levenshtein linkage on the distinct-name dictionary, edit distance 1..{_FUZZY_MAX_DIST}",
)
def dedup_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-miss duplicate catalog names that exact dedup cannot see:
    same-brand name pairs that differ by 1–2 edits (typos,
    singular/plural), with how many parts carry each spelling and the
    implied record-pair count. Distance 0 (exact duplicates) is
    excluded — that is `dedup_exact`'s domain; this op is the fuzzy
    complement.

    Scale shape — the dictionary trick that keeps linkage off the N²
    path: the FIRST shuffle collapses parts to the distinct
    (brand, name) dictionary, so the Levenshtein join runs on
    name-space-bounded tables no matter how many rows repeat each
    spelling, and the output is name pairs + multiplicities (the
    curation report), never the quadratic partkey-pair expansion.
    Within the dictionary, candidates come from an EQUI-join on the
    COMPOUND block (brand, length band) — see _FUZZY_BAND_W for why
    neighbor-band replication is exact — so even a brand with an
    open-vocabulary name set never goes all-pairs; Levenshtein runs
    JVM-side inside that join's codegen stage as a post-join filter."""
    return (
        _fuzzy_pairs(_fuzzy_name_dict(spark, sf_dir))
        .withColumn("pair_count", (F.col("a_parts") * F.col("b_parts")).cast("long"))
        .orderBy("brand", "a_name", "b_name")
    )


# --------------------------------------------------------------------------
# Mutual information between document source and language
# --------------------------------------------------------------------------

# Per-cell MI term in integer nano-nats: counts are exact, the term is one
# IEEE expression, and quantizing each cell before the sum makes the fold
# order-independent (the JSD e8 pattern, at e9).
_MI_TERM = (
    "round(1e9 * (CAST(cxy AS DOUBLE) / CAST(n AS DOUBLE))"
    " * ln(CAST(cxy AS DOUBLE) * CAST(n AS DOUBLE)"
    "      / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))))"
)
_HX_TERM = (
    "round(1e9 * (CAST(cx AS DOUBLE) / CAST(n AS DOUBLE))"
    " * ln(CAST(n AS DOUBLE) / CAST(cx AS DOUBLE)))"
)
_HY_TERM = (
    "round(1e9 * (CAST(cy AS DOUBLE) / CAST(n AS DOUBLE))"
    " * ln(CAST(n AS DOUBLE) / CAST(cy AS DOUBLE)))"
)

_MI_ORACLE = f"""
WITH xy AS (
  SELECT source AS x, lang AS y, CAST(count(*) AS BIGINT) AS cxy
  FROM documents GROUP BY 1, 2
),
mx AS (SELECT x, CAST(sum(cxy) AS BIGINT) AS cx FROM xy GROUP BY 1),
my AS (SELECT y, CAST(sum(cxy) AS BIGINT) AS cy FROM xy GROUP BY 1),
nn AS (SELECT CAST(sum(cxy) AS BIGINT) AS n FROM xy),
grid AS (
  SELECT xy.cxy, mx.cx, my.cy, nn.n
  FROM xy JOIN mx USING (x) JOIN my USING (y) CROSS JOIN nn
),
folded AS (
  SELECT CAST(max(n) AS BIGINT)                 AS n_docs,
         CAST(count(*) AS BIGINT)               AS n_cells,
         CAST(sum(CAST({_MI_TERM} AS BIGINT)) AS BIGINT) AS mi_nanonats
  FROM grid
),
hx AS (
  SELECT CAST(sum(CAST({_HX_TERM} AS BIGINT)) AS BIGINT) AS hx_nanonats
  FROM (SELECT cx, (SELECT n FROM nn) AS n FROM mx)
),
hy AS (
  SELECT CAST(sum(CAST({_HY_TERM} AS BIGINT)) AS BIGINT) AS hy_nanonats
  FROM (SELECT cy, (SELECT n FROM nn) AS n FROM my)
)
SELECT n_docs, n_cells, mi_nanonats, hx_nanonats, hy_nanonats,
       CAST(mi_nanonats AS DOUBLE)
         / sqrt(CAST(hx_nanonats AS DOUBLE) * CAST(hy_nanonats AS DOUBLE)) AS nmi
FROM folded CROSS JOIN hx CROSS JOIN hy
"""


@register(
    "stats_mutual_information",
    _MI_ORACLE,
    doc="mutual information source↔language (integer nano-nats) + normalized MI",
)
def stats_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Are a corpus's two labeling dimensions independent? Mutual
    information I(source; lang) = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))) over
    the sources×languages grid, plus marginal entropies and the
    normalized MI = I/√(H(x)H(y)) — the curation check for "does source
    already determine language" before stratifying a mixture on both.

    Exactness: the grid, marginals, and total are exact BIGINT counts
    from one scan; each cell's MI term (and each marginal's entropy
    term) is one IEEE expression quantized to integer nano-nats before
    the order-independent integer sum; NMI is one final double
    expression over three integers.

    Scale: one data-scale groupBy to the (source × lang) grid — bounded
    by label-cardinality product, not rows; marginals re-aggregate from
    the grid; the three 1-row folds meet in broadcast joins."""
    xy = (
        load(spark, sf_dir, "documents")
        .groupBy(F.col("source").alias("x"), F.col("lang").alias("y"))
        .agg(F.count("*").cast("long").alias("cxy"))
    )
    xy = xy.persist(CKPT_LEVEL)  # grid feeds marginals, total, and the fold
    mx = xy.groupBy("x").agg(F.sum("cxy").cast("long").alias("cx"))
    my = xy.groupBy("y").agg(F.sum("cxy").cast("long").alias("cy"))
    nn = xy.agg(F.sum("cxy").cast("long").alias("n"))
    grid = (
        xy.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(nn))
    )
    folded = grid.agg(
        F.max("n").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_cells"),
        F.sum(F.expr(f"CAST({_MI_TERM} AS BIGINT)")).cast("long").alias("mi_nanonats"),
    )
    hx = (
        mx.crossJoin(F.broadcast(nn))
        .agg(F.sum(F.expr(f"CAST({_HX_TERM} AS BIGINT)")).cast("long").alias("hx_nanonats"))
    )
    hy = (
        my.crossJoin(F.broadcast(nn))
        .agg(F.sum(F.expr(f"CAST({_HY_TERM} AS BIGINT)")).cast("long").alias("hy_nanonats"))
    )
    return (
        folded.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .selectExpr(
            "n_docs",
            "n_cells",
            "mi_nanonats",
            "hx_nanonats",
            "hy_nanonats",
            "CAST(mi_nanonats AS DOUBLE)"
            " / sqrt(CAST(hx_nanonats AS DOUBLE) * CAST(hy_nanonats AS DOUBLE)) AS nmi",
        )
    )


# --------------------------------------------------------------------------
# Grubbs test: single gross outlier in daily event counts
# --------------------------------------------------------------------------

_GRUBBS_ORACLE = r"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1
),
m AS (
  SELECT CAST(count(*) AS BIGINT)        AS n_days,
         CAST(sum(c) AS BIGINT)          AS s1,
         CAST(sum(c * c) AS BIGINT)      AS s2
  FROM daily
),
flagged AS (
  SELECT strftime(day, '%Y-%m-%d') AS flagged_day, c AS flagged_count
  FROM daily CROSS JOIN m
  ORDER BY abs(c * n_days - s1) DESC, day DESC
  LIMIT 1
)
SELECT n_days, s1 AS total_events, flagged_day, flagged_count,
       (abs(CAST(flagged_count AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE)))
         / sqrt(greatest(CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                   / CAST(n_days AS DOUBLE), 0.0)
                / (CAST(n_days AS DOUBLE) - 1.0)) AS g_stat
FROM m CROSS JOIN flagged
"""


@register(
    "stats_grubbs_daily",
    _GRUBBS_ORACLE,
    doc="Grubbs single-outlier test on daily event counts (exact-integer argmax)",
)
def stats_grubbs_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' test: is the most extreme daily event count a gross
    outlier? G = max|c − mean| / s — the one-shot sibling of the rolling
    `events_rolling_zscore` monitor, run over the whole series.

    Exactness: the argmax day is selected on the INTEGER key
    |c·n − Σc| (equivalent to |c − mean| without any float), tie-broken
    by latest day; n, Σc, Σc² are exact BIGINT; G is one IEEE expression
    over those integers.

    Scale: one data-scale groupBy to calendar days; the moment fold and
    the integer argmax both run on the day table (calendar-bounded);
    the 1-row moment frame broadcasts into the argmax sort."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    daily = daily.persist(CKPT_LEVEL)  # feeds both the moment fold and the argmax
    m = daily.agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("c").cast("long").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
    )
    flagged = (
        daily.crossJoin(F.broadcast(m))
        .orderBy(
            F.abs(F.col("c") * F.col("n_days") - F.col("s1")).desc(),
            F.col("day").desc(),
        )
        .limit(1)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("flagged_day"),
            F.col("c").alias("flagged_count"),
        )
    )
    return m.crossJoin(F.broadcast(flagged)).selectExpr(
        "n_days",
        "s1 AS total_events",
        "flagged_day",
        "flagged_count",
        """(abs(CAST(flagged_count AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE)))
           / sqrt(greatest(CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                     / CAST(n_days AS DOUBLE), 0.0)
                  / (CAST(n_days AS DOUBLE) - 1.0)) AS g_stat""",
    )


# --------------------------------------------------------------------------
# Wilcoxon signed-rank: paired per-user even/odd event values
# --------------------------------------------------------------------------

_WILCOXON_ORACLE = r"""
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CASE WHEN event_id % 2 = 0 THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS se,
         CAST(count(CASE WHEN event_id % 2 = 0 THEN 1 END) AS BIGINT) AS ne,
         CAST(sum(CASE WHEN event_id % 2 = 1 THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS so,
         CAST(count(CASE WHEN event_id % 2 = 1 THEN 1 END) AS BIGINT) AS no
  FROM events GROUP BY user_id
),
diffs AS (
  SELECT CAST(round(100.0 * (CAST(se AS DOUBLE) / CAST(ne AS DOUBLE)
                             - CAST(so AS DOUBLE) / CAST(no AS DOUBLE))) AS BIGINT) AS d
  FROM per_user WHERE ne > 0 AND no > 0
),
nz AS (SELECT d, abs(d) AS a FROM diffs WHERE d <> 0),
dict AS (
  SELECT a,
         CAST(count(CASE WHEN d > 0 THEN 1 END) AS BIGINT) AS n_pos,
         CAST(count(*) AS BIGINT) AS nv
  FROM nz GROUP BY a
),
ranked AS (
  SELECT *,
         CAST(sum(nv) OVER (ORDER BY a
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM dict
),
m AS (
  SELECT CAST(sum(nv) AS BIGINT) AS n,
         CAST(sum(n_pos * (2 * (cum - nv) + nv + 1)) AS BIGINT) AS w_plus_x2,
         CAST(sum(nv * nv * nv - nv) AS BIGINT) AS tie_t
  FROM ranked
)
SELECT n, w_plus_x2, tie_t,
       (CAST(w_plus_x2 AS DOUBLE) / 2.0
          - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 4.0)
         / sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
                  * (2.0 * CAST(n AS DOUBLE) + 1.0) / 24.0
                - CAST(tie_t AS DOUBLE) / 48.0) AS z
FROM m
"""


@register(
    "stats_wilcoxon_signed_rank",
    _WILCOXON_ORACLE,
    doc="Wilcoxon signed-rank: per-user even- vs odd-event mean values, exact tie-corrected ranks",
)
def stats_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired two-sample test without normality: each user contributes
    the difference between their mean event value on even and odd event
    ids (a deterministic within-user split — the paired complement of
    `stats_mannwhitney_events`' independent two-sample test). Zero
    differences drop (standard Wilcoxon practice); |d| ranks use the
    value-dictionary construction so 2×average-ranks stay integral.

    Exactness: per-user cent sums and counts are exact ints; each
    difference is ONE fixed IEEE expression quantized to an integer;
    `w_plus_x2` (2× the positive-rank sum) and the tie term are exact
    BIGINT; z (normal approximation with tie correction) is one final
    double expression.

    Scale: one data-scale groupBy (user) then a dictionary groupBy
    (distinct |d| magnitudes); the running rank uses
    `grouped_running_sums`, never an unpartitioned window over rows."""
    from gluettalax_spark.operators.rank import grouped_running_sums

    events = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    even = F.col("event_id") % 2 == 0
    per_user = events.groupBy("user_id").agg(
        F.sum(F.when(even, cents)).cast("long").alias("se"),
        F.count(F.when(even, 1)).cast("long").alias("ne"),
        F.sum(F.when(~even, cents)).cast("long").alias("so"),
        F.count(F.when(~even, 1)).cast("long").alias("no"),
    )
    diffs = per_user.filter("ne > 0 AND no > 0").selectExpr(
        "CAST(round(100.0 * (CAST(se AS DOUBLE) / CAST(ne AS DOUBLE)"
        " - CAST(so AS DOUBLE) / CAST(no AS DOUBLE))) AS BIGINT) AS d"
    )
    nz = diffs.filter("d <> 0").selectExpr("d", "abs(d) AS a")
    dict_df = (
        nz.groupBy("a")
        .agg(
            F.count(F.when(F.col("d") > 0, 1)).cast("long").alias("n_pos"),
            F.count("*").cast("long").alias("nv"),
        )
    )
    ranked = grouped_running_sums(dict_df, [], ["a"], [("nv", "cum")])
    m = ranked.agg(
        F.sum("nv").cast("long").alias("n"),
        F.sum(
            F.col("n_pos").cast("decimal(38,0)")
            * (2 * (F.col("cum") - F.col("nv")) + F.col("nv") + 1)
        ).cast("long").alias("w_plus_x2"),
        F.sum(
            F.col("nv").cast("decimal(38,0)") * F.col("nv") * F.col("nv") - F.col("nv")
        ).cast("long").alias("tie_t"),
    )
    return m.selectExpr(
        "n",
        "w_plus_x2",
        "tie_t",
        """(CAST(w_plus_x2 AS DOUBLE) / 2.0
              - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 4.0)
             / sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
                      * (2.0 * CAST(n AS DOUBLE) + 1.0) / 24.0
                    - CAST(tie_t AS DOUBLE) / 48.0) AS z""",
    )


# --------------------------------------------------------------------------
# Mann-Kendall trend test on daily order revenue
# --------------------------------------------------------------------------

_MANN_KENDALL_ORACLE = r"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS r
  FROM orders GROUP BY 1
),
s AS (
  SELECT CAST(sum(CASE WHEN b.r > a.r THEN 1 WHEN b.r < a.r THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
  FROM daily a JOIN daily b ON a.day < b.day
),
ties AS (
  SELECT CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_sum
  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY r)
),
m AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily)
SELECT n_days, s_stat,
       CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_sum AS BIGINT) AS var_x18,
       CAST(s_stat AS DOUBLE)
         / (CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) - 1.0) / 2.0) AS tau,
       CASE WHEN s_stat > 0 THEN
              (CAST(s_stat AS DOUBLE) - 1.0)
                / sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_sum AS DOUBLE) / 18.0)
            WHEN s_stat < 0 THEN
              (CAST(s_stat AS DOUBLE) + 1.0)
                / sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_sum AS DOUBLE) / 18.0)
            ELSE 0.0 END AS z
FROM m CROSS JOIN s CROSS JOIN ties
"""


@register(
    "stats_mann_kendall",
    _MANN_KENDALL_ORACLE,
    doc="Mann-Kendall monotone-trend test on daily order revenue (exact integer S, tie-corrected)",
)
def stats_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is daily revenue trending, without assuming linearity? The
    Mann-Kendall S statistic — Σ sign(x_j − x_i) over all day pairs —
    with the tie-corrected normal approximation and continuity
    correction (the hypothesis-test companion to `stats_theil_sen`'s
    slope estimate).

    Exactness: daily revenue in exact cents; S and the ×18-scaled
    variance are exact BIGINT (n=2,400 days keeps n³·2 ≈ 3e10 well
    inside BIGINT); tau and z are one IEEE expression each.

    Scale: the day-pair self-join is CALENDAR-bounded, not data-bounded
    — 7 years is ~2.4k days → ~3M sign comparisons regardless of row
    count, and the day table arrives via one data-scale groupBy. The
    non-equi join broadcasts the (bounded) day table; ties re-aggregate
    the same table."""
    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("r")
        )
    )
    daily = daily.persist(CKPT_LEVEL)  # feeds the pair join, ties, and the count
    a, b = daily.alias("a"), daily.alias("b")
    s = (
        a.join(F.broadcast(b), F.col("a.day") < F.col("b.day"))
        .agg(
            F.sum(
                F.when(F.col("b.r") > F.col("a.r"), 1)
                .when(F.col("b.r") < F.col("a.r"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    ties = (
        daily.groupBy("r")
        .agg(F.count("*").cast("long").alias("t"))
        .agg(
            F.sum(
                F.col("t").cast("decimal(38,0)") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("long")
            .alias("tie_sum")
        )
    )
    m = daily.agg(F.count("*").cast("long").alias("n_days"))
    return (
        m.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(ties))
        .selectExpr(
            "n_days",
            "s_stat",
            "CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_sum AS BIGINT) AS var_x18",
            """CAST(s_stat AS DOUBLE)
                 / (CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) - 1.0) / 2.0) AS tau""",
            """CASE WHEN s_stat > 0 THEN
                      (CAST(s_stat AS DOUBLE) - 1.0)
                        / sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_sum AS DOUBLE) / 18.0)
                    WHEN s_stat < 0 THEN
                      (CAST(s_stat AS DOUBLE) + 1.0)
                        / sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_sum AS DOUBLE) / 18.0)
                    ELSE 0.0 END AS z""",
        )
    )


# --------------------------------------------------------------------------
# Trimmed and winsorized mean of order totals (exact order statistics)
# --------------------------------------------------------------------------

_TRIMMED_ORACLE = r"""
WITH vals AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders
),
dict AS (SELECT v, CAST(count(*) AS BIGINT) AS nv FROM vals GROUP BY v),
ranked AS (
  SELECT *,
         CAST(sum(nv) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM dict
),
m AS (SELECT CAST(sum(nv) AS BIGINT) AS n, CAST(sum(nv) // 10 AS BIGINT) AS k FROM dict),
folded AS (
  SELECT max(n) AS n, max(k) AS k,
         CAST(sum(v * greatest(0, least(cum, n - k) - greatest(cum - nv + 1, k + 1) + 1)) AS BIGINT) AS trimmed_sum,
         CAST(max(CASE WHEN cum - nv + 1 <= k + 1 AND k + 1 <= cum THEN v END) AS BIGINT) AS lo_cut,
         CAST(max(CASE WHEN cum - nv + 1 <= n - k AND n - k <= cum THEN v END) AS BIGINT) AS hi_cut
  FROM ranked CROSS JOIN m
)
SELECT n, k, lo_cut, hi_cut,
       CAST(trimmed_sum AS DOUBLE) / CAST(n - 2 * k AS DOUBLE) / 100.0 AS trimmed_mean,
       CAST(trimmed_sum + k * lo_cut + k * hi_cut AS DOUBLE)
         / CAST(n AS DOUBLE) / 100.0 AS winsorized_mean
FROM folded
"""


@register(
    "agg_trimmed_winsorized",
    _TRIMMED_ORACLE,
    doc="10% trimmed and winsorized mean of order totals via exact dictionary order statistics",
)
def agg_trimmed_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust location estimates: the 10%-trimmed mean (drop exactly
    k = ⌊n/10⌋ smallest and largest observations) and the winsorized
    mean (clamp them to the cut values instead) of `o_totalprice` —
    the outlier-resistant revenue summary a reconciliation report wants
    next to the plain mean.

    Exactness: cents-quantized value dictionary + running counts give
    each distinct value's exact rank interval [cum−nv+1, cum]; its
    contribution to the trimmed sum is the integer overlap with
    [k+1, n−k]; the cut values are the exact k+1-th and (n−k)-th order
    statistics. Only the two final means are doubles (one fixed
    expression each).

    Scale: one data-scale groupBy to the value dictionary (cents
    cardinality ≪ rows); the running count and its total n ride
    `grouped_running_sums` (range-partitioned, never a single-task
    window); the fold is one 1-row aggregate."""
    from gluettalax_spark.operators.rank import grouped_running_sums

    vals = load(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v")
    )
    dict_df = vals.groupBy("v").agg(F.count("*").cast("long").alias("nv"))
    ranked = grouped_running_sums(dict_df, [], ["v"], [("nv", "cum")]).select(
        "v", "nv", "cum", F.col("cum_total").alias("n"), F.expr("cum_total DIV 10").alias("k")
    )
    folded = ranked.agg(
        F.max("n").alias("n"),
        F.max("k").alias("k"),
        F.sum(
            F.col("v").cast("decimal(38,0)")
            * F.greatest(
                F.lit(0).cast("long"),
                F.least(F.col("cum"), F.col("n") - F.col("k"))
                - F.greatest(F.col("cum") - F.col("nv") + 1, F.col("k") + 1)
                + 1,
            )
        ).cast("long").alias("trimmed_sum"),
        F.max(
            F.when(
                (F.col("cum") - F.col("nv") + 1 <= F.col("k") + 1)
                & (F.col("k") + 1 <= F.col("cum")),
                F.col("v"),
            )
        ).cast("long").alias("lo_cut"),
        F.max(
            F.when(
                (F.col("cum") - F.col("nv") + 1 <= F.col("n") - F.col("k"))
                & (F.col("n") - F.col("k") <= F.col("cum")),
                F.col("v"),
            )
        ).cast("long").alias("hi_cut"),
    )
    return folded.selectExpr(
        "n",
        "k",
        "lo_cut",
        "hi_cut",
        "CAST(trimmed_sum AS DOUBLE) / CAST(n - 2 * k AS DOUBLE) / 100.0 AS trimmed_mean",
        """CAST(trimmed_sum + k * lo_cut + k * hi_cut AS DOUBLE)
             / CAST(n AS DOUBLE) / 100.0 AS winsorized_mean""",
    )


# --------------------------------------------------------------------------
# Split-conformal calibration of a per-type mean predictor
# --------------------------------------------------------------------------

_CONFORMAL_ORACLE = r"""
WITH pred AS (
  SELECT event_type,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS pred_cents,
         CAST(count(*) AS BIGINT) AS n_cal
  FROM events WHERE event_id % 2 = 0 GROUP BY event_type
),
resid AS (
  SELECT e.event_type,
         CAST(round(abs(e.value * 100 - p.pred_cents)) AS BIGINT) AS r
  FROM events e JOIN pred p USING (event_type)
  WHERE e.event_id % 2 = 0
),
dict AS (
  SELECT event_type, r, CAST(count(*) AS BIGINT) AS nv
  FROM resid GROUP BY 1, 2
),
ranked AS (
  SELECT *,
         CAST(sum(nv) OVER (PARTITION BY event_type ORDER BY r
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM dict
),
qs AS (
  SELECT d.event_type, p.n_cal,
         CAST(max(CASE WHEN d.cum - d.nv + 1 <= least((9 * (p.n_cal + 1) + 9) // 10, p.n_cal)
                        AND least((9 * (p.n_cal + 1) + 9) // 10, p.n_cal) <= d.cum
                  THEN d.r END) AS BIGINT) AS q_resid_cents
  FROM ranked d JOIN pred p USING (event_type)
  GROUP BY 1, 2
),
test AS (
  SELECT e.event_type,
         CAST(count(*) AS BIGINT) AS n_test,
         CAST(count(CASE WHEN CAST(round(abs(e.value * 100 - p.pred_cents)) AS BIGINT)
                              <= q.q_resid_cents THEN 1 END) AS BIGINT) AS covered
  FROM events e JOIN pred p USING (event_type) JOIN qs q USING (event_type)
  WHERE e.event_id % 2 = 1
  GROUP BY 1
)
SELECT q.event_type, q.n_cal, t.n_test, q.q_resid_cents, t.covered,
       CAST(t.covered AS DOUBLE) / CAST(t.n_test AS DOUBLE) AS coverage
FROM qs q JOIN test t USING (event_type)
ORDER BY event_type
"""


@register(
    "events_conformal_interval",
    _CONFORMAL_ORACLE,
    doc="split-conformal 90% interval calibration of a per-type mean predictor (exact order statistic)",
)
def events_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free prediction intervals (split conformal,
    Vovk/Papadopoulos): fit a trivial per-type mean predictor on the
    calibration half (even event ids), take the ⌈0.9·(n+1)⌉-th smallest
    absolute residual as the interval half-width, and measure empirical
    coverage on the held-out half (odd ids) — the calibration audit an
    ML-scoring pipeline runs before trusting its intervals.

    Exactness: the conformal rank k = min(⌈9(n+1)/10⌉, n) is computed
    with INTEGER arithmetic ((9(n+1)+9) DIV 10 — the float 0.9·(n+1)
    rounds differently when n+1 is a multiple of 10); residuals are
    quantized to integer cents; the quantile is an exact order
    statistic via per-type running counts; coverage is one division.

    Scale: two scans (calibration residuals, test coverage), each
    joining a broadcast types-sized frame; the residual dictionary is
    per-type cents cardinality; the running count is
    `grouped_running_sums` grouped by type, whose per-type total is
    the calibration count."""
    from gluettalax_spark.operators.rank import grouped_running_sums

    events = load(spark, sf_dir, "events")
    cal = events.filter("event_id % 2 = 0")
    pred = cal.groupBy("event_type").agg(
        F.expr(
            "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)"
            " / CAST(count(*) AS DOUBLE)"
        ).alias("pred_cents"),
        F.count("*").cast("long").alias("n_cal"),
    )
    resid = (
        cal.join(F.broadcast(pred), "event_type")
        .selectExpr(
            "event_type",
            "CAST(round(abs(value * 100 - pred_cents)) AS BIGINT) AS r",
        )
    )
    dict_df = resid.groupBy("event_type", "r").agg(F.count("*").cast("long").alias("nv"))
    ranked = grouped_running_sums(dict_df, ["event_type"], ["r"], [("nv", "cum")])
    k_expr = "least((9 * (n_cal + 1) + 9) DIV 10, n_cal)"
    qs = (
        ranked.withColumnRenamed("cum_total", "n_cal")
        .groupBy("event_type", "n_cal")
        .agg(
            F.max(
                F.expr(
                    f"CASE WHEN cum - nv + 1 <= {k_expr} AND {k_expr} <= cum THEN r END"
                )
            ).cast("long").alias("q_resid_cents")
        )
    )
    test = (
        events.filter("event_id % 2 = 1")
        .join(F.broadcast(pred.select("event_type", "pred_cents")), "event_type")
        .join(F.broadcast(qs.select("event_type", "q_resid_cents")), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.count(
                F.when(
                    F.expr("CAST(round(abs(value * 100 - pred_cents)) AS BIGINT)")
                    <= F.col("q_resid_cents"),
                    1,
                )
            ).cast("long").alias("covered"),
        )
    )
    return (
        qs.join(test, "event_type")
        .selectExpr(
            "event_type",
            "n_cal",
            "n_test",
            "q_resid_cents",
            "covered",
            "CAST(covered AS DOUBLE) / CAST(n_test AS DOUBLE) AS coverage",
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Newsvendor order quantity: critical-fractile quantile of daily demand
# --------------------------------------------------------------------------

_NV_CU = 9  # underage cost (lost margin per unit short)
_NV_CO = 1  # overage cost (holding/salvage loss per unit over)
# critical ratio cu/(cu+co) = 0.9 → q* is the ceil(0.9·n)-th order stat

_NEWSVENDOR_ORACLE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS d
  FROM orders GROUP BY 1
),
dict AS (SELECT d, CAST(count(*) AS BIGINT) AS nv FROM daily GROUP BY d),
ranked AS (
  SELECT *,
         CAST(sum(nv) OVER (ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM dict
),
m AS (
  SELECT CAST(sum(nv) AS BIGINT) AS n,
         CAST((9 * sum(nv) + 9) // 10 AS BIGINT) AS k
  FROM dict
),
q AS (
  SELECT CAST(max(CASE WHEN cum - nv + 1 <= k AND k <= cum THEN d END) AS BIGINT) AS q_star
  FROM ranked CROSS JOIN m
)
SELECT m.n AS n_days, m.k AS k, q.q_star,
       CAST(sum(greatest(0, q.q_star - dict.d) * dict.nv) AS BIGINT) AS over_units,
       CAST(sum(greatest(0, dict.d - q.q_star) * dict.nv) AS BIGINT) AS under_units,
       CAST({_NV_CO} * sum(greatest(0, q.q_star - dict.d) * dict.nv)
            + {_NV_CU} * sum(greatest(0, dict.d - q.q_star) * dict.nv) AS BIGINT) AS total_cost
FROM dict CROSS JOIN m CROSS JOIN q
GROUP BY m.n, m.k, q.q_star
"""


@register(
    "orders_newsvendor_quantile",
    _NEWSVENDOR_ORACLE,
    doc=f"newsvendor stock level: exact {_NV_CU}/{_NV_CU + _NV_CO} critical-fractile quantile of daily demand",
)
def orders_newsvendor_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The newsvendor answer to "how much capacity do I provision":
    with underage cost 9 and overage cost 1, the optimal level is the
    90% critical-fractile quantile of daily order demand — the exact
    ⌈0.9·n⌉-th order statistic, plus the realized over/under unit sums
    and total mismatch cost at that level (the inventory sibling of
    `orders_demand_variability_xyz`'s classification readout).

    Exactness: daily demands and the rank k = ⌈9n/10⌉ (integer
    arithmetic, same ceil-without-floats as `events_conformal_interval`)
    are exact; the quantile is an order statistic off the demand-value
    dictionary; every cost column is an exact BIGINT.

    Scale: one data-scale groupBy to calendar days, a second to the
    demand-value dictionary (≤ days); the running count and its total
    n ride `grouped_running_sums`; the 1-row q* frame broadcasts into
    the final fold."""
    from gluettalax_spark.operators.rank import grouped_running_sums

    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("d"))
    )
    dict_df = daily.groupBy("d").agg(F.count("*").cast("long").alias("nv"))
    ranked = grouped_running_sums(dict_df, [], ["d"], [("nv", "cum")]).select(
        "d",
        "nv",
        "cum",
        F.col("cum_total").alias("n"),
        F.expr("(9 * cum_total + 9) DIV 10").alias("k"),
    )
    q = ranked.agg(
        F.max(
            F.when(
                (F.col("cum") - F.col("nv") + 1 <= F.col("k")) & (F.col("k") <= F.col("cum")),
                F.col("d"),
            )
        ).cast("long").alias("q_star")
    )
    return (
        ranked.crossJoin(F.broadcast(q))
        .groupBy(F.col("n").alias("n_days"), "k", "q_star")
        .agg(
            F.sum(F.greatest(F.lit(0), F.col("q_star") - F.col("d")) * F.col("nv"))
            .cast("long")
            .alias("over_units"),
            F.sum(F.greatest(F.lit(0), F.col("d") - F.col("q_star")) * F.col("nv"))
            .cast("long")
            .alias("under_units"),
            F.expr(
                f"CAST({_NV_CO} * sum(greatest(0, q_star - d) * nv)"
                f" + {_NV_CU} * sum(greatest(0, d - q_star) * nv) AS BIGINT)"
            ).alias("total_cost"),
        )
    )


# --------------------------------------------------------------------------
# Qini uplift curve: incremental conversions by targeting-score decile
# --------------------------------------------------------------------------

_QINI_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         CASE WHEN (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) % 2 = 0
              THEN 1 ELSE 0 END AS treated,
         CAST(count(CASE WHEN event_type <> 'purchase' THEN 1 END) AS BIGINT) AS score,
         CASE WHEN count(CASE WHEN event_type = 'purchase' THEN 1 END) > 0
              THEN 1 ELSE 0 END AS converted
  FROM events GROUP BY user_id
),
ranked AS (
  SELECT *,
         CAST(row_number() OVER (ORDER BY score DESC, user_id) AS BIGINT) AS r,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM per_user
),
deciles AS (
  SELECT CAST((r - 1) * 10 // n AS BIGINT) AS decile,
         CAST(sum(treated) AS BIGINT) AS n_t,
         CAST(sum(1 - treated) AS BIGINT) AS n_c,
         CAST(sum(CASE WHEN treated = 1 THEN converted ELSE 0 END) AS BIGINT) AS conv_t,
         CAST(sum(CASE WHEN treated = 0 THEN converted ELSE 0 END) AS BIGINT) AS conv_c
  FROM ranked GROUP BY 1
),
cum AS (
  SELECT *,
         CAST(sum(n_t) OVER w AS BIGINT)    AS cum_n_t,
         CAST(sum(n_c) OVER w AS BIGINT)    AS cum_n_c,
         CAST(sum(conv_t) OVER w AS BIGINT) AS cum_conv_t,
         CAST(sum(conv_c) OVER w AS BIGINT) AS cum_conv_c
  FROM deciles
  WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT decile, n_t, n_c, conv_t, conv_c,
       CASE WHEN cum_n_c = 0 THEN CAST(NULL AS DOUBLE)
            ELSE CAST(cum_conv_t AS DOUBLE)
                   - CAST(cum_conv_c AS DOUBLE) * CAST(cum_n_t AS DOUBLE)
                     / CAST(cum_n_c AS DOUBLE) END AS qini
FROM cum
ORDER BY decile
"""


@register(
    "events_qini_uplift",
    _QINI_ORACLE,
    doc="Qini uplift curve by activity-score decile over the deterministic md5 A/B split",
)
def events_qini_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Who should a campaign target? The Qini curve (Radcliffe 2007):
    rank users by a targeting score (non-purchase activity), split into
    deciles, and accumulate incremental conversions — treated
    conversions minus control conversions scaled to the treated
    exposure — down the ranking. The md5-parity "treatment" makes this
    an A/A-calibrated harness: real uplift pipelines swap in the actual
    assignment column and the machinery is unchanged.

    Exactness: per-user score/conversion/assignment are exact ints;
    deciles come from `exact_global_rank` under the total order
    (score desc, user_id); the ONLY non-integer column is the final
    qini expression (one fixed IEEE sequence per decile row).

    Scale: one data-scale groupBy (user), one range-partitioned rank
    pass (never a single-task window over users), then a 10-row grid —
    the cumulative window runs on that metadata-scale grid."""
    from gluettalax_spark.operators.rank import exact_global_rank
    from pyspark.sql.window import Window

    events = load(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.expr(
            "CASE WHEN (instr('0123456789abcdef',"
            " substr(md5(CAST(user_id AS STRING)), 1, 1)) - 1) % 2 = 0"
            " THEN 1 ELSE 0 END"
        ).alias("treated"),
        F.count(F.when(F.col("event_type") != "purchase", 1)).cast("long").alias("score"),
        F.when(F.count(F.when(F.col("event_type") == "purchase", 1)) > 0, 1)
        .otherwise(0)
        .alias("converted"),
    )
    ranked = exact_global_rank(
        per_user, [F.col("score").desc(), F.col("user_id")], "r"
    )
    deciles = (
        ranked.groupBy(F.expr("CAST((r - 1) * 10 DIV _n AS BIGINT)").alias("decile"))
        .agg(
            F.sum("treated").cast("long").alias("n_t"),
            F.sum(1 - F.col("treated")).cast("long").alias("n_c"),
            F.sum(F.when(F.col("treated") == 1, F.col("converted")).otherwise(0))
            .cast("long")
            .alias("conv_t"),
            F.sum(F.when(F.col("treated") == 0, F.col("converted")).otherwise(0))
            .cast("long")
            .alias("conv_c"),
        )
    )
    # 10-row grid: the cumulative window is metadata-scale by construction
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = deciles.select(
        "*",
        F.sum("n_t").over(w).cast("long").alias("cum_n_t"),
        F.sum("n_c").over(w).cast("long").alias("cum_n_c"),
        F.sum("conv_t").over(w).cast("long").alias("cum_conv_t"),
        F.sum("conv_c").over(w).cast("long").alias("cum_conv_c"),
    )
    return cum.selectExpr(
        "decile",
        "n_t",
        "n_c",
        "conv_t",
        "conv_c",
        """CASE WHEN cum_n_c = 0 THEN CAST(NULL AS DOUBLE)
                ELSE CAST(cum_conv_t AS DOUBLE)
                       - CAST(cum_conv_c AS DOUBLE) * CAST(cum_n_t AS DOUBLE)
                         / CAST(cum_n_c AS DOUBLE) END AS qini""",
    ).orderBy("decile")


# --------------------------------------------------------------------------
# Permutation test: cluster-randomized diff-in-means, deterministic perms
# --------------------------------------------------------------------------

_PERM_B = 32  # replicate 0 is the observed md5(user) assignment

_PERM_ORACLE = f"""
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS t,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY user_id
),
rep AS (
  SELECT u.user_id, u.t, u.n, b.b,
         CASE WHEN (strpos('0123456789abcdef',
                    substr(md5(CASE WHEN b.b = 0 THEN CAST(u.user_id AS VARCHAR)
                               ELSE CAST(u.user_id AS VARCHAR) || '_' || CAST(b.b AS VARCHAR) END),
                           1, 1)) - 1) % 2 = 0
              THEN 1 ELSE 0 END AS in_a
  FROM per_user u CROSS JOIN (SELECT unnest(range({_PERM_B})) AS b) b
),
diffs AS (
  SELECT b,
         CAST(sum(CASE WHEN in_a = 1 THEN t END) AS DOUBLE)
           / CAST(sum(CASE WHEN in_a = 1 THEN n END) AS DOUBLE)
         - CAST(sum(CASE WHEN in_a = 0 THEN t END) AS DOUBLE)
           / CAST(sum(CASE WHEN in_a = 0 THEN n END) AS DOUBLE) AS diff
  FROM rep GROUP BY b
),
obs AS (SELECT diff AS diff_obs FROM diffs WHERE b = 0)
SELECT CAST({_PERM_B} - 1 AS BIGINT) AS n_perms,
       obs.diff_obs,
       CAST(count(CASE WHEN d.b > 0 AND abs(d.diff) >= abs(obs.diff_obs) THEN 1 END) AS BIGINT) AS n_extreme,
       (1.0 + CAST(count(CASE WHEN d.b > 0 AND abs(d.diff) >= abs(obs.diff_obs) THEN 1 END) AS DOUBLE))
         / CAST({_PERM_B} AS DOUBLE) AS p_value
FROM diffs d CROSS JOIN obs
GROUP BY obs.diff_obs
"""


@register(
    "stats_permutation_test",
    _PERM_ORACLE,
    doc=f"cluster-randomized permutation test of per-event mean value, {_PERM_B - 1} deterministic perms",
)
def stats_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assumption-free significance for the A/B diff-in-means: re-assign
    USERS (the randomization unit — cluster-randomized, so event-level
    correlation within a user never inflates significance) to arms under
    31 deterministic pseudo-permutations and ask how often the permuted
    |mean difference| reaches the observed one. Permutation b assigns by
    md5(user_id, b) parity — both engines draw identical "random"
    assignments with no RNG, the same trick as the Poisson bootstrap
    (`orders_bootstrap_ci_poisson`).

    Exactness: per-user cent totals are exact; each replicate's diff is
    one fixed IEEE expression from four BIGINTs; the extreme-count
    compares identically-computed doubles; p uses the add-one estimator
    (Phipson & Smyth 2010) so it is never zero.

    Scale: one data-scale groupBy to user grain; the ×32 explode is
    map-side and collapses to 64 (b, arm) partial aggregates — the
    permutation test costs one shuffle of 64 keys regardless of corpus
    size. The 32-row diff table and 1-row observed frame broadcast."""
    events = load(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("t"),
        F.count("*").cast("long").alias("n"),
    )
    rep = per_user.select(
        "user_id",
        "t",
        "n",
        F.explode(F.expr(f"sequence(0, {_PERM_B - 1})")).alias("b"),
    ).selectExpr(
        "b",
        "t",
        "n",
        "CASE WHEN (instr('0123456789abcdef',"
        " substr(md5(CASE WHEN b = 0 THEN CAST(user_id AS STRING)"
        "            ELSE concat(CAST(user_id AS STRING), '_', CAST(b AS STRING)) END),"
        " 1, 1)) - 1) % 2 = 0 THEN 1 ELSE 0 END AS in_a",
    )
    diffs = rep.groupBy("b").agg(
        F.expr(
            "CAST(sum(CASE WHEN in_a = 1 THEN t END) AS DOUBLE)"
            " / CAST(sum(CASE WHEN in_a = 1 THEN n END) AS DOUBLE)"
            " - CAST(sum(CASE WHEN in_a = 0 THEN t END) AS DOUBLE)"
            " / CAST(sum(CASE WHEN in_a = 0 THEN n END) AS DOUBLE)"
        ).alias("diff")
    )
    diffs = diffs.persist(CKPT_LEVEL)  # 32 rows feed obs + the fold
    obs = diffs.filter("b = 0").select(F.col("diff").alias("diff_obs"))
    return (
        diffs.crossJoin(F.broadcast(obs))
        .groupBy("diff_obs")
        .agg(
            F.lit(_PERM_B - 1).cast("long").alias("n_perms"),
            F.count(
                F.when(
                    (F.col("b") > 0) & (F.abs(F.col("diff")) >= F.abs(F.col("diff_obs"))),
                    1,
                )
            ).cast("long").alias("n_extreme"),
        )
        .selectExpr(
            "n_perms",
            "diff_obs",
            "n_extreme",
            f"(1.0 + CAST(n_extreme AS DOUBLE)) / CAST({_PERM_B} AS DOUBLE) AS p_value",
        )
    )


# --------------------------------------------------------------------------
# Classical weekly decomposition of daily event volume (MA-detrended)
# --------------------------------------------------------------------------

_WEEKLY_DECOMP_ORACLE = r"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1
),
ma AS (
  SELECT day, c,
         CAST(sum(c) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS sum7,
         CAST(count(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS n7
  FROM daily
),
det AS (
  -- 7·detrended value, exact: 7c − centered-7-day sum (interior days only)
  -- DuckDB dayofweek is 0-based (Sunday=0); Spark's is 1-based — align
  SELECT CAST(dayofweek(day) + 1 AS BIGINT) AS weekday, 7 * c - sum7 AS det7
  FROM ma WHERE n7 = 7
)
SELECT weekday,
       CAST(count(*) AS BIGINT)   AS n_days,
       CAST(sum(det7) AS BIGINT)  AS sum_det7,
       CAST(sum(det7) * 1000000 // (7 * count(*)) AS BIGINT) AS seasonal_micro
FROM det
GROUP BY weekday
ORDER BY weekday
"""


@register(
    "events_weekly_decompose",
    _WEEKLY_DECOMP_ORACLE,
    doc="classical additive decomposition: centered-7-day-MA detrend → exact weekday seasonal indices",
)
def events_weekly_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical time-series decomposition (the moving-average
    construction STL refines): detrend daily event volume with a
    centered 7-day moving average, then average the detrended values by
    weekday to get additive seasonal indices — "how many events does a
    Saturday add over trend". Complements `orders_seasonality_weekday`
    (level ratios, no detrending): this one isolates seasonality FROM
    trend, the correct read when volume drifts.

    Exactness: the detrended value is kept ×7 (7c − Σ₇c — exact BIGINT,
    no division); seasonal indices are integer micro-units via one
    integer division. Edge days without a full 7-day window are
    EXCLUDED (n7 = 7), matching the classical treatment.

    Scale: one data-scale groupBy to calendar days; the centered MA is
    a window over the day grid (calendar-bounded — metadata scale at
    any SF, same discipline as the CUSUM/gapfill day grids); the
    output is 7 rows."""
    from pyspark.sql.window import Window

    daily = (
        load(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    # calendar-bounded grid: an unpartitioned window here is metadata-scale
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    ma = daily.select(
        "day",
        "c",
        F.sum("c").over(w7).cast("long").alias("sum7"),
        F.count("*").over(w7).cast("long").alias("n7"),
    )
    det = ma.filter("n7 = 7").select(
        F.expr("CAST(dayofweek(day) AS BIGINT)").alias("weekday"),
        (7 * F.col("c") - F.col("sum7")).alias("det7"),
    )
    return (
        det.groupBy("weekday")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.sum("det7").cast("long").alias("sum_det7"),
            F.expr("CAST(sum(det7) * 1000000 DIV (7 * count(*)) AS BIGINT)").alias(
                "seasonal_micro"
            ),
        )
        .orderBy("weekday")
    )


# --------------------------------------------------------------------------
# Price elasticity: log-log OLS of demand on price, per part type
# --------------------------------------------------------------------------

_ELASTICITY_ORACLE = r"""
WITH demand AS (
  SELECT l_partkey, CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q
  FROM lineitem GROUP BY 1
),
pts AS (
  SELECT p.p_type,
         CAST(round(1000000.0 * ln(CAST(round(p.p_retailprice * 100) AS BIGINT))) AS BIGINT) AS x,
         CAST(round(1000000.0 * ln(d.q)) AS BIGINT) AS y
  FROM part p JOIN demand d ON d.l_partkey = p.p_partkey
  WHERE d.q > 0
),
m AS (
  SELECT p_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
  FROM pts GROUP BY p_type
)
SELECT p_type, n,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS elasticity
FROM m
ORDER BY p_type
"""


@register(
    "orders_price_elasticity",
    _ELASTICITY_ORACLE,
    doc="log-log OLS demand elasticity per part type from micro-nat-quantized moments",
)
def orders_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price elasticity of demand per part type: the slope of
    ln(quantity) on ln(price) across parts — the %-demand-change per
    %-price-change read every pricing analysis starts with (the log-log
    sibling of `orders_price_trend_ols`'s level trend).

    Exactness: both logs are quantized to integer micro-nats per part
    BEFORE the moment sums (ln is the accepted libm-ulp boundary; the
    sums are then exact HUGEINT/DECIMAL integers), and the slope is one
    IEEE expression per type — never a float fold over parts.

    Scale: one data-scale groupBy (lineitem → per-part demand), one
    dim-table join, and a types-sized moment aggregate; Σx² of 1e6-scale
    micro-nats over 20M parts stays < 1e27 — inside HUGEINT/DECIMAL(38)."""
    demand = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.sum(F.round("l_quantity").cast("long")).cast("long").alias("q"))
    )
    part = load(spark, sf_dir, "part")
    pts = (
        part.join(demand, part.p_partkey == demand.l_partkey)
        .where("q > 0")
        .selectExpr(
            "p_type",
            "CAST(round(1000000.0 * ln(CAST(round(p_retailprice * 100) AS BIGINT))) AS BIGINT) AS x",
            "CAST(round(1000000.0 * ln(q)) AS BIGINT) AS y",
        )
    )
    m = pts.groupBy("p_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
    )
    return m.selectExpr(
        "p_type",
        "n",
        """(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS elasticity""",
    ).orderBy("p_type")


# --------------------------------------------------------------------------
# Brier score + Murphy decomposition of the quality classifier
# --------------------------------------------------------------------------

_BRIER_ORACLE_TMPL = r"""
WITH {logits},
quality AS (
  SELECT doc_id, CAST(round(({quality}) * 10000) AS BIGINT) AS q_int
  FROM documents
),
j AS MATERIALIZED (
  SELECT l.logit_milli, q.q_int FROM logits l JOIN quality q USING (doc_id)
),
qdict AS (
  SELECT q_int, CAST(count(*) AS BIGINT) AS nq,
         CAST(sum(count(*)) OVER (ORDER BY q_int
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumq,
         CAST(sum(count(*)) OVER () AS BIGINT) AS nall
  FROM j GROUP BY q_int
),
med AS (SELECT min(q_int) AS m FROM qdict WHERE 2 * cumq >= nall),
scored AS (
  SELECT {p_e6} AS p_e6,
         CASE WHEN j.q_int > med.m THEN 1 ELSE 0 END AS y
  FROM j, med
),
bins AS (
  SELECT least(p_e6 * 10 // 1000000, 9) AS bin,
         CAST(count(*) AS BIGINT) AS nb,
         CAST(sum(y) AS BIGINT) AS pos,
         CAST(sum(p_e6) AS BIGINT) AS psum
  FROM scored GROUP BY 1
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS p_tot,
         CAST(sum(CAST(p_e6 AS HUGEINT) * p_e6) AS HUGEINT) AS sum_p2,
         CAST(sum(CASE WHEN y = 1 THEN p_e6 END) AS BIGINT) AS sum_p_pos
  FROM scored
),
decomp AS (
  SELECT CAST(sum(CAST(round(1e9 * ((CAST(psum AS DOUBLE) - CAST(pos AS DOUBLE) * 1000000.0)
                                    * (CAST(psum AS DOUBLE) - CAST(pos AS DOUBLE) * 1000000.0))
                             / (CAST(nb AS DOUBLE) * CAST(t.n AS DOUBLE) * 1e12)) AS BIGINT)) AS BIGINT)
           AS rel_e9,
         CAST(sum(CAST(round(1e9 * CAST(nb AS DOUBLE)
                             * (CAST(pos AS DOUBLE) / CAST(nb AS DOUBLE)
                                - CAST(t.p_tot AS DOUBLE) / CAST(t.n AS DOUBLE))
                             * (CAST(pos AS DOUBLE) / CAST(nb AS DOUBLE)
                                - CAST(t.p_tot AS DOUBLE) / CAST(t.n AS DOUBLE))
                             / CAST(t.n AS DOUBLE)) AS BIGINT)) AS BIGINT) AS res_e9
  FROM bins CROSS JOIN tot t
)
SELECT t.n AS n_docs, t.p_tot AS n_pos,
       (CAST(t.sum_p2 AS DOUBLE) - 2000000.0 * CAST(t.sum_p_pos AS DOUBLE)
          + CAST(t.p_tot AS DOUBLE) * 1e12) / (CAST(t.n AS DOUBLE) * 1e12) AS brier,
       d.rel_e9, d.res_e9,
       (CAST(t.p_tot AS DOUBLE) / CAST(t.n AS DOUBLE))
         * (1.0 - CAST(t.p_tot AS DOUBLE) / CAST(t.n AS DOUBLE)) AS uncertainty
FROM tot t CROSS JOIN decomp d
"""


def _brier_oracle() -> str:
    from gluettalax_spark.operators.pipeline import _ECE_P_E6, duck_doc_logits
    from gluettalax_spark.operators.text import _QUALITY_DUCK

    return _BRIER_ORACLE_TMPL.format(
        logits=duck_doc_logits(), quality=_QUALITY_DUCK, p_e6=_ECE_P_E6
    )


@register(
    "quality_brier_score",
    _brier_oracle(),
    doc="Brier score + Murphy reliability/resolution/uncertainty decomposition of the quality classifier",
)
def quality_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The proper-scoring-rule companion to `quality_ece_calibration`:
    the Brier score of the classifier's sigmoid probabilities against
    the quality>median label, with Murphy's (1973) decomposition over
    the same 10 bins — reliability (miscalibration, lower better),
    resolution (discrimination, higher better), and the label-entropy
    uncertainty floor. ECE tells you the gap; Brier tells you whether
    sharpening or recalibrating pays more.

    Exactness: Σp², Σp·y, and the label total are exact integers off
    the e6-quantized probabilities (Σ(p−y)² expands to exactly those
    three — no per-doc float residual), so `brier` is ONE final IEEE
    expression; REL/RES quantize each BIN's term (≤10 of them) to
    integer nano-units before the sum. Σp_e6² reaches 1e12·N — held in
    DECIMAL(38,0)/HUGEINT, good to N≈1e26 docs.

    Scale: rides the same memoized logits pass as ECE/AUC; everything
    after the doc-grain aggregate is a 10-row grid plus 1-row folds."""
    from gluettalax_spark.operators.pipeline import (
        _ECE_P_E6,
        classifier_doc_logits,
    )
    from gluettalax_spark.operators.text import _quality_parts

    docs = load(spark, sf_dir, "documents")
    _, _, _, quality = _quality_parts()
    q = docs.select("doc_id", F.round(quality * 10000).cast("long").alias("q_int"))
    logits = classifier_doc_logits(spark, sf_dir).select("doc_id", "logit_milli")
    j = logits.join(q, "doc_id")
    med = (
        j.groupBy("q_int")
        .agg(F.count(F.lit(1)).cast("long").alias("nq"))
        .agg(
            F.sort_array(F.collect_list(F.struct("q_int", "nq"))).alias("arr"),
            F.sum("nq").cast("long").alias("nall"),
        )
        .selectExpr(
            "aggregate(arr, struct(CAST(0 AS BIGINT) AS cum, CAST(NULL AS BIGINT) AS med),"
            " (acc, x) -> struct(acc.cum + x.nq,"
            " CASE WHEN acc.med IS NULL AND 2 * (acc.cum + x.nq) >= nall"
            " THEN x.q_int ELSE acc.med END)).med AS m"
        )
    )
    scored = (
        j.crossJoin(F.broadcast(med))
        .selectExpr(
            f"{_ECE_P_E6} AS p_e6",
            "CASE WHEN q_int > m THEN 1 ELSE 0 END AS y",
        )
        .persist(CKPT_LEVEL)  # feeds the bin grid and the total fold
    )
    bins = scored.groupBy(F.expr("least(p_e6 * 10 DIV 1000000, 9)").alias("bin")).agg(
        F.count("*").cast("long").alias("nb"),
        F.sum("y").cast("long").alias("pos"),
        F.sum("p_e6").cast("long").alias("psum"),
    )
    tot = scored.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("p_tot"),
        F.sum(F.col("p_e6").cast("decimal(38,0)") * F.col("p_e6")).alias("sum_p2"),
        F.sum(F.when(F.col("y") == 1, F.col("p_e6"))).cast("long").alias("sum_p_pos"),
    )
    decomp = bins.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.expr(
                "CAST(round(1e9 * ((CAST(psum AS DOUBLE) - CAST(pos AS DOUBLE) * 1000000.0)"
                " * (CAST(psum AS DOUBLE) - CAST(pos AS DOUBLE) * 1000000.0))"
                " / (CAST(nb AS DOUBLE) * CAST(n AS DOUBLE) * 1e12)) AS BIGINT)"
            )
        ).cast("long").alias("rel_e9"),
        F.sum(
            F.expr(
                "CAST(round(1e9 * CAST(nb AS DOUBLE)"
                " * (CAST(pos AS DOUBLE) / CAST(nb AS DOUBLE)"
                "    - CAST(p_tot AS DOUBLE) / CAST(n AS DOUBLE))"
                " * (CAST(pos AS DOUBLE) / CAST(nb AS DOUBLE)"
                "    - CAST(p_tot AS DOUBLE) / CAST(n AS DOUBLE))"
                " / CAST(n AS DOUBLE)) AS BIGINT)"
            )
        ).cast("long").alias("res_e9"),
    )
    return (
        tot.crossJoin(F.broadcast(decomp))
        .selectExpr(
            "n AS n_docs",
            "p_tot AS n_pos",
            """(CAST(sum_p2 AS DOUBLE) - 2000000.0 * CAST(sum_p_pos AS DOUBLE)
                  + CAST(p_tot AS DOUBLE) * 1e12) / (CAST(n AS DOUBLE) * 1e12) AS brier""",
            "rel_e9",
            "res_e9",
            """(CAST(p_tot AS DOUBLE) / CAST(n AS DOUBLE))
                 * (1.0 - CAST(p_tot AS DOUBLE) / CAST(n AS DOUBLE)) AS uncertainty""",
        )
    )


# --------------------------------------------------------------------------
# Step-indexed top user paths (first-3-event journeys)
# --------------------------------------------------------------------------

_PATH_TOPK = 10

_PATH_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
paths AS (
  SELECT user_id,
         string_agg(event_type, '>' ORDER BY rn) AS path
  FROM ordered WHERE rn <= 3
  GROUP BY user_id
  HAVING count(*) = 3
),
counts AS (
  SELECT path, CAST(count(*) AS BIGINT) AS n_users FROM paths GROUP BY path
)
SELECT path, n_users,
       CAST(row_number() OVER (ORDER BY n_users DESC, path) AS BIGINT) AS rank
FROM counts
ORDER BY rank
LIMIT {_PATH_TOPK}
"""


@register(
    "events_path_topk",
    _PATH_ORACLE,
    doc=f"top-{_PATH_TOPK} first-3-event user journeys (onboarding path analysis)",
)
def events_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What do users DO first? The top first-3-event journeys ("view >
    click > purchase"), the onboarding-path readout product analytics
    builds Sankey diagrams from — and the k-th-step complement of
    `events_markov_transitions`' memoryless pair view.

    Exactness: the per-user order is the total (ts, event_id); the path
    string is an ordered aggregation; counts and the (count desc, path)
    ranking are exact.

    Scale: ONE hash exchange on user_id (the sessionize discipline) for
    the row_number window, rows cut to 3 per user immediately, then a
    path-dictionary count (path-space bounded: |event types|³) and a
    top-k over that dictionary."""
    from pyspark.sql.window import Window

    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = events.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 3)
    paths = (
        ordered.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path"),
            F.count("*").alias("n_steps"),
        )
        .filter("n_steps = 3")
    )
    counts = paths.groupBy("path").agg(F.count("*").cast("long").alias("n_users"))
    wr = Window.orderBy(F.col("n_users").desc(), F.col("path"))
    return (
        counts.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= _PATH_TOPK)
        .select("path", "n_users", "rank")
        .orderBy("rank")
    )


# --------------------------------------------------------------------------
# Weekly retention decay fit (log-linear half-life)
# --------------------------------------------------------------------------

_RETENTION_DECAY_ORACLE = r"""
WITH d0 AS (SELECT CAST(min(ts) AS DATE) AS base, CAST(max(ts) AS DATE) AS last FROM events),
uw AS (
  SELECT DISTINCT e.user_id,
         CAST(datediff('day', d0.base, CAST(e.ts AS DATE)) // 7 AS BIGINT) AS wk
  FROM events e CROSS JOIN d0
),
first_wk AS (SELECT user_id, CAST(min(wk) AS BIGINT) AS cohort_wk FROM uw GROUP BY user_id),
max_wk AS (SELECT CAST(datediff('day', base, last) // 7 AS BIGINT) AS maxw FROM d0),
rates AS (
  SELECT k,
         CAST(sum(eligible) AS BIGINT) AS eligible,
         CAST(sum(retained) AS BIGINT) AS retained
  FROM (
    SELECT f.cohort_wk, o.k,
           CAST(count(*) AS BIGINT) AS eligible,
           CAST(count(CASE WHEN a.user_id IS NOT NULL THEN 1 END) AS BIGINT) AS retained
    FROM first_wk f
    CROSS JOIN (SELECT unnest(range(1, 4)) AS k) o
    CROSS JOIN max_wk m
    LEFT JOIN uw a ON a.user_id = f.user_id AND a.wk = f.cohort_wk + o.k
    WHERE f.cohort_wk + o.k <= m.maxw
    GROUP BY f.cohort_wk, o.k
  )
  GROUP BY k
),
pts AS (
  SELECT k,
         eligible,
         retained,
         CAST(round(1000000.0 * ln(CAST(retained AS DOUBLE) / CAST(eligible AS DOUBLE))) AS BIGINT) AS y
  FROM rates WHERE retained > 0
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS np,
         CAST(sum(k) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(k * y) AS BIGINT) AS sxy,
         CAST(sum(k * k) AS BIGINT) AS sxx
  FROM pts
)
SELECT np AS n_points,
       (CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         / 1000000.0 AS weekly_decay,
       CASE WHEN (CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) < 0 THEN
         ln(2.0) * 1000000.0
           / (-(CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
       ELSE CAST(NULL AS DOUBLE) END AS half_life_weeks
FROM m
"""


@register(
    "events_retention_decay_fit",
    _RETENTION_DECAY_ORACLE,
    doc="weekly retention decay rate + half-life via log-linear fit over pooled cohort offsets",
)
def events_retention_decay_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How fast does the user base churn? Pool weekly cohorts into a
    retention rate per week-offset k (users active exactly k weeks
    after their first week / users whose cohort is old enough to be
    observed at k), fit ln(rate) on k, and report the decay rate and
    half-life — the single-number summary a growth team extracts from
    `events_cohort_retention`'s full matrix.

    Exactness: eligibility and retention are exact distinct-user
    counts (the cohort+k ≤ max-week guard keeps censored offsets out);
    each offset's log-rate quantizes to integer micro-nats; the
    3-point OLS runs on exact integer moments; decay and half-life are
    one IEEE expression each (half-life NULL unless retention actually
    decays).

    Scale: one distinct (user, week) pass and one per-user min — both
    single hash exchanges on user_id; the retained check is a per-user
    equi-join on (user, week); everything after the cohort×offset
    aggregate is a ≤3-row fit."""
    events = load(spark, sf_dir, "events")
    d0 = events.agg(
        F.min(F.col("ts").cast("date")).alias("base"),
        F.max(F.col("ts").cast("date")).alias("last"),
    )
    uw = (
        events.crossJoin(F.broadcast(d0))
        .selectExpr(
            "user_id",
            "CAST(datediff(CAST(ts AS DATE), base) DIV 7 AS BIGINT) AS wk",
        )
        .distinct()
        .persist(CKPT_LEVEL)  # feeds first-seen AND the retained probe
    )
    first_wk = uw.groupBy("user_id").agg(F.min("wk").cast("long").alias("cohort_wk"))
    max_wk = d0.selectExpr("CAST(datediff(last, base) DIV 7 AS BIGINT) AS maxw")
    offs = (
        first_wk.crossJoin(F.broadcast(max_wk))
        .select("user_id", "cohort_wk", F.explode(F.expr("sequence(1, 3)")).alias("k"))
        .filter("cohort_wk + k <= maxw")
    )
    probe = uw.selectExpr("user_id AS a_user", "wk AS a_wk")
    joined = offs.join(
        probe,
        (F.col("user_id") == F.col("a_user"))
        & (F.col("a_wk") == F.col("cohort_wk") + F.col("k")),
        "left",
    )
    rates = joined.groupBy("k").agg(
        F.count("*").cast("long").alias("eligible"),
        F.count("a_user").cast("long").alias("retained"),
    )
    pts = rates.filter("retained > 0").selectExpr(
        "k",
        "CAST(round(1000000.0 * ln(CAST(retained AS DOUBLE) / CAST(eligible AS DOUBLE))) AS BIGINT) AS y",
    )
    m = pts.agg(
        F.count("*").cast("long").alias("np"),
        F.sum("k").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("k") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("k") * F.col("k")).cast("long").alias("sxx"),
    )
    return m.selectExpr(
        "np AS n_points",
        """(CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             / 1000000.0 AS weekly_decay""",
        """CASE WHEN (CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) < 0 THEN
             ln(2.0) * 1000000.0
               / (-(CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
           ELSE CAST(NULL AS DOUBLE) END AS half_life_weeks""",
    )


# --------------------------------------------------------------------------
# Compression-ratio quality filter (zlib, Arrow-batched — rows-only)
# --------------------------------------------------------------------------

_COMP_SCHEMA = "doc_id long, source string, n_bytes long, z_bytes long"
# Gopher/RefinedWeb-style ratio gates (ppm of original size after
# deflate): far-too-compressible = templated/repetitive junk, nearly
# incompressible = random/binary junk.
_COMP_LO_PPM = 300000
_COMP_HI_PPM = 900000


def _make_compress_batch():
    """zlib kernel as a closure (Arrow-batched; level pinned so the
    byte counts are deterministic for a fixed zlib build)."""

    def compress_batch(batches):
        import pandas as _pd
        import zlib as _zlib

        for pdf in batches:
            enc = [t.encode("utf-8") for t in pdf["text"]]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "source": pdf["source"],
                    "n_bytes": [len(b) for b in enc],
                    "z_bytes": [len(_zlib.compress(b, 6)) for b in enc],
                }
            )

    return compress_batch


@register(
    "text_compression_ratio",
    None,
    doc="zlib compression-ratio quality filter per source (Arrow-batched kernel, integer witness sums)",
    witness=("sum_bytes", "sum_z_bytes", "ratio_ppm"),
)
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compressibility filter (Gopher / RefinedWeb lineage): deflate
    every document and flag the ones that compress far too well
    (templated/repeated boilerplate) or barely at all (random or binary
    junk). No SQL oracle exists — deflate is procedural — so this is a
    rows-only query whose witness columns (`sum_bytes`, `sum_z_bytes`,
    `ratio_ppm`) are exact integer byte totals a pytest re-derives with
    an independent zlib pass over the raw parquet.

    Scale: the kernel is the UDF slow path done right — Arrow-batched
    `mapInPandas` in the scan stage (the multimodal decode discipline:
    payload bytes never shuffle; only (doc_id, source, 2 longs)
    leave the kernel), followed by a sources-sized integer aggregate.
    Per-doc cost is the deflate itself, which is the honest price of
    the signal at any scale."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    sized = docs.mapInPandas(_make_compress_batch(), _COMP_SCHEMA)
    return (
        sized.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_bytes").cast("long").alias("sum_bytes"),
            F.sum("z_bytes").cast("long").alias("sum_z_bytes"),
            F.expr("CAST(sum(z_bytes) * 1000000 DIV sum(n_bytes) AS BIGINT)").alias(
                "ratio_ppm"
            ),
            F.count(
                F.when(
                    F.col("z_bytes") * 1000000 < F.lit(_COMP_LO_PPM) * F.col("n_bytes"), 1
                )
            ).cast("long").alias("n_too_repetitive"),
            F.count(
                F.when(
                    F.col("z_bytes") * 1000000 > F.lit(_COMP_HI_PPM) * F.col("n_bytes"), 1
                )
            ).cast("long").alias("n_incompressible"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Unicode script profile per language (multilingual data QA)
# --------------------------------------------------------------------------

# Codepoint-range classes shared verbatim by both engines (Java regex and
# RE2 both accept explicit \uXXXX ranges; named script classes do NOT
# share syntax across the two).
# Patterns in RE2/Java-shared \x{...} syntax; the Spark side doubles the
# backslashes because Spark SQL string literals eat single ones, DuckDB's
# don't.
_SCRIPT_CLASSES = (
    ("latin", "[A-Za-z\\\\x{00c0}-\\\\x{024f}]"),
    ("digit", "[0-9]"),
    ("cjk", "[\\\\x{4e00}-\\\\x{9fff}\\\\x{3040}-\\\\x{30ff}]"),
    ("space", "[ \\t\\n\\r]"),
    ("punct", "[.,!?;:()-]"),
)

_SCRIPT_ORACLE = (
    "SELECT lang,\n"
    "       CAST(count(*) AS BIGINT) AS n_docs,\n"
    "       CAST(sum(length(text)) AS BIGINT) AS n_chars,\n"
    + ",\n".join(
        "       CAST(sum(len(regexp_extract_all(text, '{}'))) AS BIGINT) AS n_{}".format(
            pat.replace("\\\\", "\\"), name
        )
        for name, pat in _SCRIPT_CLASSES
    )
    + "\nFROM documents GROUP BY lang ORDER BY lang"
)


@register(
    "text_unicode_script_profile",
    _SCRIPT_ORACLE,
    doc="per-language Unicode script/class character profile (explicit codepoint ranges)",
)
def text_unicode_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multilingual data QA: how many Latin, digit, CJK, whitespace and
    punctuation characters each language's documents actually contain —
    the cross-check that catches mislabeled languages, mojibake, and
    markup floods before they hit the tokenizer (`text_lang_id`
    classifies; this op profiles what the bytes really are).

    Exactness: pure per-row regexp counts summed as BIGINT. The class
    patterns are EXPLICIT codepoint ranges because named script classes
    don't share syntax across Java regex and RE2 — the ranges are the
    portable intersection.

    Scale: one scan, all counting inside JVM codegen, languages-sized
    output."""
    docs = load(spark, sf_dir, "documents")
    aggs = [
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("n_chars"),
    ] + [
        F.sum(F.size(F.expr(f"regexp_extract_all(text, '{pat}', 0)")))
        .cast("long")
        .alias(f"n_{name}")
        for name, pat in _SCRIPT_CLASSES
    ]
    return docs.groupBy("lang").agg(*aggs).orderBy("lang")


# --------------------------------------------------------------------------
# Anderson-Darling normality test on daily order revenue
# --------------------------------------------------------------------------

# Shared Φ construction: the Abramowitz-Stegun 7.1.26 erfc polynomial
# (the stats_multiple_testing_bh convention), halved, rounded at 6 dp so
# the lone libm exp can't leak, sign-cased into Φ, and clamped away from
# {0,1} so the AD log terms stay finite for extreme z.
def _phi_clamped(z: str) -> str:
    y = f"(abs({z}) / sqrt(2.0))"
    t = f"(1.0 / (1.0 + 0.3275911 * {y}))"
    poly = (
        f"({t} * (0.254829592 + {t} * (-0.284496736 + {t} * (1.421413741"
        f" + {t} * (-1.453152027 + {t} * 1.061405429)))))"
    )
    half_erfc = f"round({poly} * exp(-{y} * {y}) * 0.5, 6)"
    u = f"(CASE WHEN ({z}) >= 0.0 THEN 1.0 - {half_erfc} ELSE {half_erfc} END)"
    return f"least(greatest({u}, 0.000001), 0.999999)"


# Variance clamped at 0: with near-constant large values the double
# expression s2 - s1*s1/n can cancel to a tiny negative, where DuckDB's
# sqrt raises while Spark returns NaN; greatest(.., 0.0) runs in BOTH
# engines (the expression string is shared), so degenerate inputs
# diverge into the same +inf/NaN-free path (ADVICE r9).
_AD_Z = (
    "((CAST(v AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    " / sqrt(greatest(CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
    "          / CAST(n AS DOUBLE), 0.0) / (CAST(n AS DOUBLE) - 1.0)))"
)

_AD_TERM = (
    "round(1e6 * (CAST(w1 AS DOUBLE) * ln({u}) + CAST(w2 AS DOUBLE) * ln(1.0 - {u})))"
).format(u=_phi_clamped(_AD_Z))

_ANDERSON_ORACLE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
  FROM orders GROUP BY 1
),
dict AS (SELECT v, CAST(count(*) AS BIGINT) AS nv FROM daily GROUP BY v),
ranked AS (
  SELECT *,
         CAST(sum(nv) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM dict
),
m AS (
  SELECT CAST(sum(nv) AS BIGINT) AS n,
         CAST(sum(CAST(v AS HUGEINT) * nv) AS BIGINT) AS s1,
         CAST(sum(CAST(v AS HUGEINT) * v * nv) AS HUGEINT) AS s2
  FROM dict
),
terms AS (
  -- tie groups contribute closed-form weight sums:
  --   Σ(2i−1) = nv·(2·cum − nv), Σ(2(n−i)+1) = nv·(2n − 2·cum + nv)
  SELECT CAST(nv * (2 * cum - nv) AS BIGINT) AS w1,
         CAST(nv * (2 * m.n - 2 * cum + nv) AS BIGINT) AS w2,
         v, m.n, m.s1, m.s2
  FROM ranked CROSS JOIN m
)
SELECT max(n) AS n_days,
       CAST(sum(CAST({_AD_TERM} AS BIGINT)) AS BIGINT) AS s_micro,
       -CAST(max(n) AS DOUBLE)
         - CAST(sum(CAST({_AD_TERM} AS BIGINT)) AS DOUBLE)
           / (1e6 * CAST(max(n) AS DOUBLE)) AS a_squared
FROM terms
"""


@register(
    "stats_anderson_darling",
    _ANDERSON_ORACLE,
    doc="Anderson-Darling normality test on daily revenue (shared erfc Φ, micro-quantized log terms)",
)
def stats_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is daily revenue normal, with the tails weighted where it
    matters? Anderson-Darling: A² = −n − (1/n)·Σ[(2i−1)·ln Φ(z_(i)) +
    (2(n−i)+1)·ln(1−Φ(z_(i)))] — the tail-sensitive complement of
    `stats_jarque_bera`'s moment test.

    Exactness: z comes from exact cent moments; Φ is the SAME
    Abramowitz-Stegun erfc polynomial both engines evaluate (rounded at
    6 dp, clamped off {0,1} so extreme z keeps the logs finite); tie
    groups collapse to closed-form integer weight sums (Σ(2i−1) over a
    tie run = nv·(2·cum−nv)); each value's term quantizes to integer
    micro-units before the order-independent sum.

    Scale: the dictionary + running-count machinery (`grouped_running_sums`)
    over calendar days — metadata scale at any SF; the moment fold
    broadcasts into the term table."""
    from gluettalax_spark.operators.rank import grouped_running_sums

    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("v")
        )
    )
    dict_df = daily.groupBy("v").agg(F.count("*").cast("long").alias("nv"))
    dict_df = dict_df.persist(CKPT_LEVEL)
    ranked = grouped_running_sums(dict_df, [], ["v"], [("nv", "cum")])
    m = dict_df.agg(
        F.sum("nv").cast("long").alias("n"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("nv")).cast("long").alias("s1"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v") * F.col("nv")).alias("s2"),
    )
    terms = ranked.crossJoin(F.broadcast(m)).selectExpr(
        "CAST(nv * (2 * cum - nv) AS BIGINT) AS w1",
        "CAST(nv * (2 * n - 2 * cum + nv) AS BIGINT) AS w2",
        "v",
        "n",
        "s1",
        "s2",
    )
    return terms.agg(
        F.max("n").alias("n_days"),
        F.sum(F.expr(f"CAST({_AD_TERM} AS BIGINT)")).cast("long").alias("s_micro"),
    ).selectExpr(
        "n_days",
        "s_micro",
        "-CAST(n_days AS DOUBLE) - CAST(s_micro AS DOUBLE) / (1e6 * CAST(n_days AS DOUBLE)) AS a_squared",
    )


# --------------------------------------------------------------------------
# Fuzzy-name entity resolution: clusters over the linkage pairs
# --------------------------------------------------------------------------

_FUZZY_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_FUZZY_PAIRS_CTES},
edges AS (
  SELECT brand || '|' || a_name AS u, brand || '|' || b_name AS v FROM fpairs
  UNION
  SELECT brand || '|' || b_name AS u, brand || '|' || a_name AS v FROM fpairs
),
verts AS (SELECT DISTINCT u AS node FROM edges),
reach(node, lab) AS (
  SELECT node, node FROM verts
  UNION
  SELECT e.u, r.lab FROM edges e JOIN reach r ON e.v = r.node
),
comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY node)
SELECT c.component,
       CAST(count(*) AS BIGINT) AS n_spellings,
       CAST(sum(n.n_parts) AS BIGINT) AS n_parts,
       min(c.node) AS canonical
FROM comp c
JOIN names n ON n.p_brand || '|' || n.p_name = c.node
GROUP BY c.component
ORDER BY c.component
"""


@register(
    "dedup_fuzzy_clusters",
    _FUZZY_CLUSTERS_ORACLE,
    doc="entity resolution: connected components over the fuzzy-name linkage, per-cluster rollup",
)
def dedup_fuzzy_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linkage pairs → entities: connected components over the
    distance-1..2 same-brand name pairs, rolled up to one row per
    resolved entity (spelling count, total parts carrying any
    spelling, canonical = min node). `dedup_fuzzy_name_pairs` finds
    the edges; this op answers "how many distinct products do these
    near-miss spellings actually represent".

    Exactness: components are the algorithm-independent fixpoint
    (component = min reachable node) — Spark runs hybrid min-label
    propagation with the large-star fallover, the oracle replays a
    recursive-CTE transitive closure, both land on identical labels;
    counts are exact.

    Scale: the same dictionary-first discipline as the pair op — CC
    runs on the NAME graph (name-space bounded), never on part rows;
    the multiplicity join brings the row counts back at the end. The
    '|' node separator is safe for this catalog (names are word
    tuples); a general deployment would hash the (brand, name) key."""
    from gluettalax_spark.operators.graph import connected_components

    names = _fuzzy_name_dict(spark, sf_dir).withColumn(
        "node", F.concat_ws("|", "p_brand", "p_name")
    )
    # r13 A/B (count, best-of-3): persist 2.23 s < eager/lazy ckpt 2.87
    # < none 4.24 — the key's r12 regression lives in the CC loop, not
    # this cut; persist kept.
    names = names.persist(CKPT_LEVEL)  # feeds pairs AND the rollup join
    pairs = _fuzzy_pairs(names).select(
        F.concat_ws("|", "brand", "a_name").alias("u"),
        F.concat_ws("|", "brand", "b_name").alias("v"),
    )
    comp = connected_components(pairs, "u", "v")
    return (
        comp.join(names.select("node", "n_parts"), "node")
        .groupBy("component")
        .agg(
            F.count("*").cast("long").alias("n_spellings"),
            F.sum("n_parts").cast("long").alias("n_parts"),
            F.min("node").alias("canonical"),
        )
        .orderBy("component")
    )


# --------------------------------------------------------------------------
# Precision/recall curve of the quality classifier at decile cutoffs
# --------------------------------------------------------------------------

_PR_CURVE_ORACLE_TMPL = r"""
WITH {logits},
quality AS (
  SELECT doc_id, CAST(round(({quality}) * 10000) AS BIGINT) AS q_int
  FROM documents
),
j AS MATERIALIZED (
  SELECT l.doc_id, l.logit_milli, q.q_int FROM logits l JOIN quality q USING (doc_id)
),
qdict AS (
  SELECT q_int, CAST(count(*) AS BIGINT) AS nq,
         CAST(sum(count(*)) OVER (ORDER BY q_int
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumq,
         CAST(sum(count(*)) OVER () AS BIGINT) AS nall
  FROM j GROUP BY q_int
),
med AS (SELECT min(q_int) AS m FROM qdict WHERE 2 * cumq >= nall),
ranked AS (
  SELECT CASE WHEN j.q_int > med.m THEN 1 ELSE 0 END AS y,
         CAST(row_number() OVER (ORDER BY j.logit_milli DESC, j.doc_id) AS BIGINT) AS r,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM j, med
),
deciles AS (
  SELECT CAST((r - 1) * 10 // n AS BIGINT) AS decile,
         CAST(count(*) AS BIGINT) AS n_d,
         CAST(sum(y) AS BIGINT) AS pos_d
  FROM ranked GROUP BY 1
),
cum AS (
  SELECT *,
         CAST(sum(n_d) OVER w AS BIGINT)   AS cum_n,
         CAST(sum(pos_d) OVER w AS BIGINT) AS cum_pos,
         CAST(sum(pos_d) OVER () AS BIGINT) AS total_pos
  FROM deciles
  WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT decile, cum_n, cum_pos,
       CAST(cum_pos * 1000000 // cum_n AS BIGINT)      AS precision_ppm,
       CAST(cum_pos * 1000000 // total_pos AS BIGINT)  AS recall_ppm
FROM cum
ORDER BY decile
"""


def _pr_curve_oracle() -> str:
    from gluettalax_spark.operators.pipeline import duck_doc_logits
    from gluettalax_spark.operators.text import _QUALITY_DUCK

    return _PR_CURVE_ORACLE_TMPL.format(logits=duck_doc_logits(), quality=_QUALITY_DUCK)


@register(
    "quality_pr_curve",
    _pr_curve_oracle(),
    doc="precision/recall of the quality classifier at top-k% decile cutoffs (integer ppm)",
)
def quality_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operating-point view the AUC hides: keep the top k% of the
    corpus by classifier score and read precision (how clean is the
    kept slice) and recall (how much good data survives) at each decile
    cutoff — the table a curation run consults to pick its actual
    threshold. Completes the classifier-eval suite (AUC ranks, ECE and
    Brier calibrate, this op picks the cutoff).

    Exactness: the ranking is the total order (logit desc, doc_id) via
    `exact_global_rank`; every output column is an exact integer
    (counts and ppm integer divisions).

    Scale: rides the memoized logits pass; one range-partitioned rank
    exchange over doc grain; the cumulative window runs on the 10-row
    decile grid only."""
    from pyspark.sql.window import Window

    from gluettalax_spark.operators.pipeline import classifier_doc_logits
    from gluettalax_spark.operators.rank import exact_global_rank
    from gluettalax_spark.operators.text import _quality_parts

    docs = load(spark, sf_dir, "documents")
    _, _, _, quality = _quality_parts()
    q = docs.select("doc_id", F.round(quality * 10000).cast("long").alias("q_int"))
    logits = classifier_doc_logits(spark, sf_dir).select("doc_id", "logit_milli")
    j = logits.join(q, "doc_id")
    med = (
        j.groupBy("q_int")
        .agg(F.count(F.lit(1)).cast("long").alias("nq"))
        .agg(
            F.sort_array(F.collect_list(F.struct("q_int", "nq"))).alias("arr"),
            F.sum("nq").cast("long").alias("nall"),
        )
        .selectExpr(
            "aggregate(arr, struct(CAST(0 AS BIGINT) AS cum, CAST(NULL AS BIGINT) AS med),"
            " (acc, x) -> struct(acc.cum + x.nq,"
            " CASE WHEN acc.med IS NULL AND 2 * (acc.cum + x.nq) >= nall"
            " THEN x.q_int ELSE acc.med END)).med AS m"
        )
    )
    labeled = j.crossJoin(F.broadcast(med)).select(
        "doc_id",
        "logit_milli",
        F.when(F.col("q_int") > F.col("m"), 1).otherwise(0).alias("y"),
    )
    ranked = exact_global_rank(
        labeled, [F.col("logit_milli").desc(), F.col("doc_id")], "r"
    )
    deciles = ranked.groupBy(
        F.expr("CAST((r - 1) * 10 DIV _n AS BIGINT)").alias("decile")
    ).agg(
        F.count("*").cast("long").alias("n_d"),
        F.sum("y").cast("long").alias("pos_d"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = deciles.select(
        "decile",
        F.sum("n_d").over(w).cast("long").alias("cum_n"),
        F.sum("pos_d").over(w).cast("long").alias("cum_pos"),
        F.sum("pos_d").over(wt).cast("long").alias("total_pos"),
    )
    return cum.selectExpr(
        "decile",
        "cum_n",
        "cum_pos",
        "CAST(cum_pos * 1000000 DIV cum_n AS BIGINT) AS precision_ppm",
        "CAST(cum_pos * 1000000 DIV total_pos AS BIGINT) AS recall_ppm",
    ).orderBy("decile")


# --------------------------------------------------------------------------
# Sentence-level stats per source
# --------------------------------------------------------------------------

_SENTENCE_ORACLE = rf"""
WITH d AS (
  SELECT source,
         CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS n_sent,
         {_WORD_COUNT_DUCK} AS n_tok
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_sent) AS BIGINT) AS n_sentences,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(count(CASE WHEN n_sent = 0 THEN 1 END) AS BIGINT) AS n_unterminated,
       CAST(sum(n_tok) AS DOUBLE) / CAST(greatest(sum(n_sent), 1) AS DOUBLE) AS tokens_per_sentence
FROM d
GROUP BY source
ORDER BY source
"""


@register(
    "text_sentence_stats",
    _SENTENCE_ORACLE,
    doc="per-source sentence counts and tokens-per-sentence (terminator-run segmentation)",
)
def text_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-level shape per source: sentence counts (terminator
    runs `[.!?]+` — the cheap segmentation every quality pipeline
    starts with), average sentence length in tokens, and how many docs
    carry NO terminator at all (lists, logs, code — the Gopher
    "ends-in-punctuation" family signal at source grain).

    Exactness: per-row regexp counts, BIGINT sums, one guarded IEEE
    division.

    Scale: one scan, counting in codegen, sources-sized output."""
    d = load(spark, sf_dir, "documents").select(
        "source",
        F.size(F.expr(r"regexp_extract_all(text, '[.!?]+', 0)")).cast("long").alias("n_sent"),
        word_count().alias("n_tok"),
    )
    return (
        d.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_sent").cast("long").alias("n_sentences"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.count(F.when(F.col("n_sent") == 0, 1)).cast("long").alias("n_unterminated"),
            F.expr(
                "CAST(sum(n_tok) AS DOUBLE) / CAST(greatest(sum(n_sent), 1) AS DOUBLE)"
            ).alias("tokens_per_sentence"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Item-item collaborative filtering (co-purchase cosine, top-5)
# --------------------------------------------------------------------------

_CF_FOCAL = 20
_CF_K = 5

def _item_cf_oracle() -> str:
    from gluettalax_spark.operators.graph import _DUCK_CAPPED_OP

    return f"""
WITH op AS {_DUCK_CAPPED_OP},
supp AS (SELECT p, CAST(count(*) AS BIGINT) AS np FROM op GROUP BY p),
co AS (
  SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS c
  FROM op a JOIN op b ON a.o = b.o AND a.p <> b.p
  GROUP BY a.p, b.p
  HAVING count(*) >= 2
),
focal AS (
  SELECT p FROM supp ORDER BY np DESC, p LIMIT {_CF_FOCAL}
),
scored AS (
  SELECT co.pa AS item, co.pb AS neighbor,
         co.c AS co_orders,
         round(CAST(co.c AS DOUBLE)
               / sqrt(CAST(sa.np AS DOUBLE) * CAST(sb.np AS DOUBLE)), 6) AS cosine
  FROM co
  JOIN focal f ON f.p = co.pa
  JOIN supp sa ON sa.p = co.pa
  JOIN supp sb ON sb.p = co.pb
)
SELECT item, neighbor, co_orders, cosine,
       CAST(rk AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY item ORDER BY cosine DESC, neighbor
  ) AS rk FROM scored
)
WHERE rk <= {_CF_K}
ORDER BY item, rank
"""


@register(
    "similarity_item_cf",
    _item_cf_oracle(),
    doc=f"item-item collaborative filtering: co-purchase cosine top-{_CF_K} for the {_CF_FOCAL} highest-support parts",
)
def similarity_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """"Customers who bought this also bought": item-item collaborative
    filtering over the order-part incidence — cosine(a,b) =
    co-orders/√(n_a·n_b) (Sarwar et al. 2001), top-5 neighbors for the
    20 highest-support parts. The classic recommender batch job,
    expressed on the same capped-basket machinery as the graph family.

    Exactness: supports and co-order counts are exact; cosine is one
    IEEE expression rounded to 6 dp BEFORE ranking (ties break on
    neighbor id), so the per-item ranking is a cross-engine total
    order.

    Scale: the co-matrix explodes map-side from capped baskets (the
    `cooccurrence_edges` discipline — Σ basket² bounded by the basket
    cap, min-support prunes the tail); the focal set is a 20-row
    TopK broadcast; per-item state is k rows."""
    from pyspark.sql.window import Window

    from gluettalax_spark.operators.graph import order_baskets, pair_support

    # The capped baskets feed the supports AND the pair explode.
    op = order_baskets(spark, sf_dir).persist(CKPT_LEVEL)
    supp = op.select(F.explode("ps").alias("p")).groupBy("p").agg(
        F.count("*").cast("long").alias("np")
    )
    supp = supp.persist(CKPT_LEVEL)  # feeds focal AND both cosine joins
    # Counted once per unordered pair, then mirrored: co holds (a, b, c)
    # and (b, a, c).
    co = (
        pair_support(op)
        .where(F.col("support") >= 2)
        .select(
            F.explode(
                F.array(
                    F.struct("pa", "pb", "support"),
                    F.struct(F.col("pb").alias("pa"), F.col("pa").alias("pb"), "support"),
                )
            ).alias("e")
        )
        .select("e.pa", "e.pb", F.col("e.support").alias("c"))
    )
    focal = supp.orderBy(F.col("np").desc(), F.col("p")).limit(_CF_FOCAL).select("p")
    scored = (
        co.join(F.broadcast(focal), co.pa == focal.p)
        .drop("p")
        .join(supp.selectExpr("p AS sa_p", "np AS na"), F.col("pa") == F.col("sa_p"))
        .join(supp.selectExpr("p AS sb_p", "np AS nb"), F.col("pb") == F.col("sb_p"))
        .select(
            F.col("pa").alias("item"),
            F.col("pb").alias("neighbor"),
            F.col("c").alias("co_orders"),
            F.round(
                F.col("c").cast("double")
                / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("item").orderBy(F.col("cosine").desc(), F.col("neighbor"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _CF_K)
        .orderBy("item", "rank")
    )


# --------------------------------------------------------------------------
# Markov next-event prediction accuracy (model eval on the engine)
# --------------------------------------------------------------------------

_MARKOV_ACC_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
),
pairs AS (
  SELECT event_type AS prev_type, next_type,
         CAST(count(*) AS BIGINT) AS n
  FROM ordered WHERE next_type IS NOT NULL
  GROUP BY 1, 2
),
pred AS (
  SELECT prev_type, next_type AS pred_type FROM (
    SELECT *, row_number() OVER (
      PARTITION BY prev_type ORDER BY n DESC, next_type
    ) AS rk FROM pairs
  ) WHERE rk = 1
)
SELECT p.prev_type,
       pr.pred_type,
       CAST(sum(p.n) AS BIGINT) AS n_transitions,
       CAST(sum(CASE WHEN p.next_type = pr.pred_type THEN p.n ELSE 0 END) AS BIGINT) AS n_correct,
       CAST(sum(CASE WHEN p.next_type = pr.pred_type THEN p.n ELSE 0 END) * 1000000
            // sum(p.n) AS BIGINT) AS acc_ppm
FROM pairs p JOIN pred pr USING (prev_type)
GROUP BY p.prev_type, pr.pred_type
ORDER BY prev_type
"""


@register(
    "events_markov_accuracy",
    _MARKOV_ACC_ORACLE,
    doc="top-1 next-event prediction accuracy of the Markov transition model, per source state",
)
def events_markov_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How good is the Markov chain as a predictor? For each state,
    predict the modal next event (ties: lexicographic) and score top-1
    accuracy against the observed transitions — the in-sample eval of
    `events_markov_transitions`' model, and the baseline every
    sequence model must beat.

    Exactness: the transition counts are exact off one lead window;
    the modal prediction is a (count desc, type) total order; accuracy
    is an integer ppm division.

    Scale: ONE hash exchange on user_id for the lead window (the
    sessionize discipline); everything after is the k² pair grid."""
    from pyspark.sql.window import Window

    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = events.select(
        F.col("event_type"), F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    pairs = ordered.groupBy(
        F.col("event_type").alias("prev_type"), "next_type"
    ).agg(F.count("*").cast("long").alias("n"))
    pairs = pairs.persist(CKPT_LEVEL)  # k² grid feeds pred + the score
    wp = Window.partitionBy("prev_type").orderBy(F.col("n").desc(), F.col("next_type"))
    pred = (
        pairs.withColumn("rk", F.row_number().over(wp))
        .filter("rk = 1")
        .select("prev_type", F.col("next_type").alias("pred_type"))
    )
    return (
        pairs.join(F.broadcast(pred), "prev_type")
        .groupBy("prev_type", "pred_type")
        .agg(
            F.sum("n").cast("long").alias("n_transitions"),
            F.sum(F.when(F.col("next_type") == F.col("pred_type"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("n_correct"),
            F.expr(
                "CAST(sum(CASE WHEN next_type = pred_type THEN n ELSE 0 END) * 1000000"
                " DIV sum(n) AS BIGINT)"
            ).alias("acc_ppm"),
        )
        .orderBy("prev_type")
    )


# --------------------------------------------------------------------------
# Dedup threshold sensitivity: pair/doc counts vs Jaccard cutoff
# --------------------------------------------------------------------------

_THRESHOLDS = (30, 40, 50, 60, 70, 80, 90)  # Jaccard percent


def _threshold_oracle() -> str:
    # Shares the blocked-pairs → Jaccard CTE chain with the ngram oracle
    # via a named constant (not string-slicing the finished SQL).
    rows = " UNION ALL ".join(f"SELECT {t} AS t_pct" for t in _THRESHOLDS)
    return f"""
WITH {NGRAM_SCORED_CTES},
th AS ({rows})
SELECT th.t_pct AS threshold_pct,
       CAST(count(CASE WHEN s.jaccard * 100 >= th.t_pct THEN 1 END) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT CASE WHEN s.jaccard * 100 >= th.t_pct THEN s.doc_b END) AS BIGINT)
         AS n_losers
FROM th LEFT JOIN scored s ON s.jaccard * 100 >= th.t_pct
GROUP BY th.t_pct
ORDER BY threshold_pct
"""


@register(
    "dedup_threshold_sensitivity",
    _threshold_oracle(),
    doc="dedup aggressiveness curve: near-dup pair and removed-doc counts at 7 Jaccard cutoffs",
)
def dedup_threshold_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How aggressive should dedup be? The sensitivity curve every
    curation run consults before fixing a Jaccard threshold: candidate
    pairs and docs-that-would-be-removed (the doc_b losers, min-id
    keeper convention) at cutoffs 0.3..0.9 — one pass over the SAME
    scored pairs `dedup_ngram_jaccard` produces, no re-scoring per
    threshold.

    Exactness: jaccard is already 4-dp rounded in the pair op; the
    ×100 integer comparison is exact at these one-decimal cutoffs;
    counts are exact (the LEFT join keeps empty thresholds at 0).

    Scale: the scored-pair table is the blocked candidate set
    (never all-pairs); the 7-row threshold frame broadcasts and the
    curve is a 7-group conditional count."""
    scored = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b", "jaccard")
    th = spark.range(1).selectExpr(
        f"explode(array({','.join(str(t) for t in _THRESHOLDS)})) AS t_pct"
    )
    return (
        th.join(scored, F.col("jaccard") * 100 >= F.col("t_pct"), "left")
        .groupBy(F.col("t_pct").cast("long").alias("threshold_pct"))
        .agg(
            F.count(F.col("doc_a")).cast("long").alias("n_pairs"),
            F.countDistinct(F.col("doc_b")).cast("long").alias("n_losers"),
        )
        .orderBy("threshold_pct")
    )


# --------------------------------------------------------------------------
# Dedup quality audit: are near-duplicates lower quality than unique docs?
# --------------------------------------------------------------------------


def _dup_quality_oracle() -> str:
    from gluettalax_spark.operators.graph import _CC_COMP_CTES
    from gluettalax_spark.operators.text import _QUALITY_DUCK

    return f"""
{_CC_COMP_CTES},
losers AS (SELECT doc_id FROM comp WHERE doc_id <> component),
qscored AS (
  SELECT d.doc_id,
         CAST(round(({_QUALITY_DUCK}) * 10000) AS BIGINT) AS q,
         CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup
  FROM documents d LEFT JOIN losers l ON d.doc_id = l.doc_id
)
SELECT CAST(sum(is_dup) AS BIGINT) AS n_dup,
       CAST(sum(1 - is_dup) AS BIGINT) AS n_uniq,
       CAST(sum(CASE WHEN is_dup = 1 THEN q END) AS BIGINT) AS q_sum_dup,
       CAST(sum(CASE WHEN is_dup = 0 THEN q END) AS BIGINT) AS q_sum_uniq,
       CAST(sum(CASE WHEN is_dup = 1 THEN CAST(q AS HUGEINT) * q END) AS BIGINT) AS q_sq_dup,
       CAST(sum(CASE WHEN is_dup = 0 THEN CAST(q AS HUGEINT) * q END) AS BIGINT) AS q_sq_uniq,
       (CAST(sum(CASE WHEN is_dup = 1 THEN q END) AS DOUBLE) / CAST(sum(is_dup) AS DOUBLE)
        - CAST(sum(CASE WHEN is_dup = 0 THEN q END) AS DOUBLE) / CAST(sum(1 - is_dup) AS DOUBLE))
         / 10000.0 AS mean_quality_gap
FROM qscored
"""


@register(
    "corpus_dedup_quality_audit",
    _dup_quality_oracle(),
    doc="quality gap between near-dup losers and surviving docs (exact moments, one IEEE gap)",
)
def corpus_dedup_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does dedup remove the right documents? Compare heuristic quality
    between the near-dup cluster losers (the docs `dedup_filter_corpus`
    would drop) and everything else — the audit that catches a dedup
    config silently eating the GOOD copies (e.g. when boilerplate-heavy
    mirrors outrank originals). Composes three existing stages: the
    blocked Jaccard pairs, the connected-components keeper convention,
    and the shared quality composite.

    Exactness: quality ints, group counts, sums and squared sums are
    exact (the moments let a consumer run the Welch test downstream);
    only the final mean gap is a double (one fixed IEEE expression).

    Scale: the pair/CC stages are the dedup path's (blocked, bucketed);
    losers anti-join back to the corpus by id (text never reshuffles);
    the audit itself is one conditional aggregate."""
    from gluettalax_spark.operators.graph import connected_components
    from gluettalax_spark.operators.text import _quality_parts

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs, "doc_a", "doc_b")
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    _, _, _, quality = _quality_parts()
    docs = load(spark, sf_dir, "documents")
    scored = (
        docs.select("doc_id", F.round(quality * 10000).cast("long").alias("q"))
        .join(losers.withColumn("is_dup", F.lit(1)), "doc_id", "left")
        .withColumn("is_dup", F.coalesce(F.col("is_dup"), F.lit(0)))
    )
    return scored.agg(
        F.sum("is_dup").cast("long").alias("n_dup"),
        F.sum(1 - F.col("is_dup")).cast("long").alias("n_uniq"),
        F.sum(F.when(F.col("is_dup") == 1, F.col("q"))).cast("long").alias("q_sum_dup"),
        F.sum(F.when(F.col("is_dup") == 0, F.col("q"))).cast("long").alias("q_sum_uniq"),
        F.sum(F.when(F.col("is_dup") == 1, F.col("q").cast("decimal(38,0)") * F.col("q")))
        .cast("long")
        .alias("q_sq_dup"),
        F.sum(F.when(F.col("is_dup") == 0, F.col("q").cast("decimal(38,0)") * F.col("q")))
        .cast("long")
        .alias("q_sq_uniq"),
    ).selectExpr(
        "n_dup",
        "n_uniq",
        "q_sum_dup",
        "q_sum_uniq",
        "q_sq_dup",
        "q_sq_uniq",
        """(CAST(q_sum_dup AS DOUBLE) / CAST(n_dup AS DOUBLE)
            - CAST(q_sum_uniq AS DOUBLE) / CAST(n_uniq AS DOUBLE)) / 10000.0
           AS mean_quality_gap""",
    )


# --------------------------------------------------------------------------
# Quality-score drift: PSI over pooled deciles, first vs second id-half
# --------------------------------------------------------------------------


def _quality_psi_oracle() -> str:
    from gluettalax_spark.operators.stats import PSI_Q
    from gluettalax_spark.operators.text import _QUALITY_DUCK

    return f"""
WITH q AS (
  SELECT doc_id, CAST(round(({_QUALITY_DUCK}) * 10000) AS BIGINT) AS v
  FROM documents
),
b AS (SELECT (min(doc_id) + max(doc_id)) // 2 AS mid FROM q),
d AS (SELECT v, CAST(count(*) AS BIGINT) AS nv FROM q GROUP BY v),
r AS (
  SELECT v, nv,
         CAST(sum(nv) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM d
),
nn AS (SELECT CAST(sum(nv) AS BIGINT) AS n FROM d),
dec AS (SELECT v, CAST((cum - nv) * 10 // nn.n AS BIGINT) AS decile FROM r, nn),
c AS (
  SELECT dec.decile,
         CAST(count(CASE WHEN q.doc_id <= b.mid THEN 1 END) AS BIGINT) AS c_ref,
         CAST(count(CASE WHEN q.doc_id >  b.mid THEN 1 END) AS BIGINT) AS c_cur
  FROM q JOIN dec ON dec.v = q.v CROSS JOIN b
  GROUP BY dec.decile
),
t AS (
  SELECT CAST(sum(c_ref) AS BIGINT) AS n_ref, CAST(sum(c_cur) AS BIGINT) AS n_cur,
         CAST(count(*) AS BIGINT) AS k
  FROM c
),
terms AS (
  SELECT c.decile, c.c_ref, c.c_cur,
         CAST(floor(
           ((CAST(c.c_ref + 1 AS DOUBLE) / (t.n_ref + t.k))
              - (CAST(c.c_cur + 1 AS DOUBLE) / (t.n_cur + t.k)))
           * ln((CAST(c.c_ref + 1 AS DOUBLE) / (t.n_ref + t.k))
                / (CAST(c.c_cur + 1 AS DOUBLE) / (t.n_cur + t.k)))
           * {PSI_Q}
         ) AS BIGINT) AS term_e8
  FROM c CROSS JOIN t
)
SELECT decile, c_ref, c_cur, term_e8,
       CAST((SELECT sum(term_e8) FROM terms) AS BIGINT) AS psi_e8_total
FROM terms
ORDER BY decile
"""


@register(
    "quality_drift_psi",
    _quality_psi_oracle(),
    doc="PSI drift of the quality-score decile mix, first vs second doc_id half",
)
def quality_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did the QUALITY distribution move between corpus halves? PSI over
    the pooled quality-score deciles (edges from the whole corpus, so
    both halves are binned identically), first vs second doc_id half —
    the continuous-score companion of `events_drift_psi` (categorical
    mix) and the monitor a curation pipeline runs between ingestion
    batches before trusting its fixed quality threshold.

    Exactness: decile edges come from the exact value-dictionary ranks
    (bucket = rank_before·10 DIV n); per-(half, decile) counts are
    integers; each Laplace-smoothed PSI term floor-quantizes at 1e-8
    before the integer total (the `events_drift_psi` discipline).

    Scale: one groupBy to the score dictionary (deciles ride the
    range-partitioned running rank), one broadcast join of the
    dictionary-sized decile map back onto the scan, and the PSI fold
    lands on the 10-row grid."""
    from gluettalax_spark.operators.rank import grouped_running_sums
    from gluettalax_spark.operators.stats import PSI_Q
    from gluettalax_spark.operators.text import _quality_parts

    docs = load(spark, sf_dir, "documents")
    _, _, _, quality = _quality_parts()
    q = docs.select("doc_id", F.round(quality * 10000).cast("long").alias("v"))
    # r13 A/B: persist 1.47 ≈ eager 1.44 ≈ lazy 1.53 (count, best-of-3)
    # — tied within noise; persist kept (no build-time job).
    q = q.persist(CKPT_LEVEL)  # feeds the split bound, dict, and counts
    b = q.agg(F.expr("(min(doc_id) + max(doc_id)) div 2").alias("mid"))
    d = q.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("nv"))
    dec = grouped_running_sums(d, [], ["v"], [("nv", "cum")]).selectExpr(
        "v", "CAST((cum - nv) * 10 DIV cum_total AS BIGINT) AS decile"
    )
    c = (
        q.join(F.broadcast(dec), "v")
        .crossJoin(F.broadcast(b))
        .groupBy("decile")
        .agg(
            F.count(F.when(F.col("doc_id") <= F.col("mid"), 1)).cast("long").alias("c_ref"),
            F.count(F.when(F.col("doc_id") > F.col("mid"), 1)).cast("long").alias("c_cur"),
        )
    )
    c = c.persist(CKPT_LEVEL)  # 10 rows, but its subtree joins the corpus:
    # consumed by t, the total, and the final projection (3 executions
    # of the corpus join without the cut — optimization r12)
    t = c.agg(
        F.sum("c_ref").cast("long").alias("n_ref"),
        F.sum("c_cur").cast("long").alias("n_cur"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    p = (F.col("c_ref") + 1).cast("double") / (F.col("n_ref") + F.col("k"))
    qq = (F.col("c_cur") + 1).cast("double") / (F.col("n_cur") + F.col("k"))
    terms = c.join(F.broadcast(t)).select(
        "decile",
        "c_ref",
        "c_cur",
        F.floor((p - qq) * F.log(p / qq) * PSI_Q).cast("long").alias("term_e8"),
    )
    total = terms.agg(F.sum("term_e8").cast("long").alias("psi_e8_total"))
    return (
        terms.crossJoin(F.broadcast(total))
        .select("decile", "c_ref", "c_cur", "term_e8", "psi_e8_total")
        .orderBy("decile")
    )
