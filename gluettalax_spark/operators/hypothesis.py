"""Distribution-comparison hypothesis tests over the event/document fixtures.

The curation counterpart of `events_ks_test` / `events_ab_test`
(reference surface: SURVEY §2 F-agg "statistical profile"): rank-based
and count-based tests a data pipeline runs to decide whether two slices
of a corpus differ — Mann-Whitney U (does one event type's value
distribution stochastically dominate another's), Spearman rank
correlation (is document quality monotone in length, per source), and a
chi-square homogeneity test (is the event-type mix identical across a
deterministic A/B split).

Exactness discipline (the repo-wide recipe): every rank, count, and tie
statistic is an exact integer (2× average ranks stay integral; moment
sums ride DECIMAL(38,0)/HUGEINT), and each final statistic is ONE fixed
sequence of IEEE double ops — deterministic cross-engine, unlike any
float fold.

Scale shapes: all three tests aggregate through bounded dictionaries
(value dictionaries for the rank tests, a types×2 grid for chi-square);
running ranks use the range-partitioned machinery in
:mod:`gluettalax_spark.operators.rank`, never a group-partitioned window
over unbounded rows.
"""

from __future__ import annotations

from gluettalax_spark.memory import CKPT_LEVEL

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gluettalax_spark.operators.dedup import _WORD_COUNT_DUCK, _WS_TOKENS_DUCK, word_count, ws_tokens_sql
from gluettalax_spark.operators.rank import grouped_running_sums
from gluettalax_spark.operators.text import (
    _QUALITY_DUCK,
    _STOP_HITS_DUCK,
    STOP_COUNT_SQL,
    _quality_parts,
    gopher_feat_rules_sql,
    gopher_rule_cols,
)
from gluettalax_spark.registry import register
from gluettalax_spark.tables import load

# --------------------------------------------------------------------------
# Mann-Whitney U: click vs purchase event values
# --------------------------------------------------------------------------

_MW_A, _MW_B = "click", "purchase"

_MANNWHITNEY_ORACLE = f"""
WITH vals AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS v,
         CASE WHEN event_type = '{_MW_A}' THEN 1 ELSE 0 END AS in_a
  FROM events WHERE event_type IN ('{_MW_A}', '{_MW_B}')
),
dict AS (
  SELECT v,
         CAST(sum(in_a) AS BIGINT)     AS n1v,
         CAST(sum(1 - in_a) AS BIGINT) AS n2v,
         CAST(count(*) AS BIGINT)      AS nv
  FROM vals GROUP BY v
),
ranked AS (
  SELECT *,
         CAST(sum(nv) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM dict
),
m AS (
  SELECT CAST(sum(n1v) AS BIGINT) AS n1,
         CAST(sum(n2v) AS BIGINT) AS n2,
         -- 2×rank-sum of sample A: R2(v) = 2·cum_before + nv + 1
         CAST(sum(CAST(n1v AS HUGEINT) * (2 * (cum - nv) + nv + 1)) AS BIGINT) AS r1_x2,
         CAST(sum(CAST(nv AS HUGEINT) * nv * nv - nv) AS BIGINT) AS tie_t
  FROM ranked
)
SELECT n1, n2,
       CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
       tie_t,
       (CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE) - CAST(n1 AS DOUBLE) * n2)
         / sqrt(CAST(n1 AS DOUBLE) * n2
                * ((CAST(n1 + n2 AS DOUBLE) + 1)
                   - CAST(tie_t AS DOUBLE)
                     / (CAST(n1 + n2 AS DOUBLE) * (CAST(n1 + n2 AS DOUBLE) - 1)))
                / 3.0) AS z
FROM m
"""


@register(
    "stats_mannwhitney_events",
    _MANNWHITNEY_ORACLE,
    doc=f"Mann-Whitney U ({_MW_A} vs {_MW_B} values) — exact tie-corrected ranks",
)
def stats_mannwhitney_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U via the value-dictionary construction: group the
    cents-quantized values (exact), take a scale-safe running count over
    the dictionary (``grouped_running_sums``, never an unpartitioned
    window over data rows), and fold the 2×-average-rank identity
    ``R2(v) = 2·cum_before + n_v + 1`` into integer moments. ``u1_x2``
    and the tie term are exact; ``z`` (normal approximation with tie
    correction) is one shared IEEE expression.

    Scale: the only data-scale pass is the groupBy(v); everything after
    runs on the value dictionary (cents cardinality ≪ rows)."""
    events = load(spark, sf_dir, "events")
    vals = events.filter(F.col("event_type").isin(_MW_A, _MW_B)).select(
        F.round(F.col("value") * 100).cast("long").alias("v"),
        F.when(F.col("event_type") == _MW_A, 1).otherwise(0).alias("in_a"),
    )
    dict_df = vals.groupBy("v").agg(
        F.sum("in_a").cast("long").alias("n1v"),
        F.sum(1 - F.col("in_a")).cast("long").alias("n2v"),
        F.count(F.lit(1)).cast("long").alias("nv"),
    )
    ranked = grouped_running_sums(dict_df, [], ["v"], [("nv", "cum")])
    m = ranked.agg(
        F.sum("n1v").cast("long").alias("n1"),
        F.sum("n2v").cast("long").alias("n2"),
        F.sum(
            F.col("n1v").cast("decimal(38,0)")
            * (2 * (F.col("cum") - F.col("nv")) + F.col("nv") + 1)
        ).cast("long").alias("r1_x2"),
        F.sum(
            F.col("nv").cast("decimal(38,0)") * F.col("nv") * F.col("nv") - F.col("nv")
        ).cast("long").alias("tie_t"),
    )
    return m.selectExpr(
        "n1",
        "n2",
        "CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2",
        "tie_t",
        """(CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE) - CAST(n1 AS DOUBLE) * n2)
           / sqrt(CAST(n1 AS DOUBLE) * n2
                  * ((CAST(n1 + n2 AS DOUBLE) + 1)
                     - CAST(tie_t AS DOUBLE)
                       / (CAST(n1 + n2 AS DOUBLE) * (CAST(n1 + n2 AS DOUBLE) - 1)))
                  / 3.0) AS z""",
    )


# --------------------------------------------------------------------------
# Spearman rank correlation: quality vs length, per source
# --------------------------------------------------------------------------


def _spearman_oracle() -> str:
    return f"""
WITH base AS (
  SELECT source,
         n_chars AS x,
         CAST(round(({_QUALITY_DUCK}) * 10000) AS BIGINT) AS y
  FROM documents
),
dx AS (
  SELECT source, x, CAST(count(*) AS BIGINT) AS cx,
         CAST(sum(count(*)) OVER (PARTITION BY source ORDER BY x
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumx
  FROM base GROUP BY source, x
),
dy AS (
  SELECT source, y, CAST(count(*) AS BIGINT) AS cy,
         CAST(sum(count(*)) OVER (PARTITION BY source ORDER BY y
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumy
  FROM base GROUP BY source, y
),
pxy AS (
  SELECT source, x, y, CAST(count(*) AS BIGINT) AS nxy
  FROM base GROUP BY source, x, y
),
j AS (
  SELECT p.source, p.nxy,
         2 * (dx.cumx - dx.cx) + dx.cx + 1 AS rx2,
         2 * (dy.cumy - dy.cy) + dy.cy + 1 AS ry2
  FROM pxy p
  JOIN dx ON dx.source = p.source AND dx.x = p.x
  JOIN dy ON dy.source = p.source AND dy.y = p.y
),
m AS (
  SELECT source,
         CAST(sum(nxy) AS HUGEINT)                    AS n,
         CAST(sum(CAST(nxy AS HUGEINT) * rx2)         AS HUGEINT) AS sx,
         CAST(sum(CAST(nxy AS HUGEINT) * ry2)         AS HUGEINT) AS sy,
         CAST(sum(CAST(nxy AS HUGEINT) * rx2 * rx2)   AS HUGEINT) AS sxx,
         CAST(sum(CAST(nxy AS HUGEINT) * ry2 * ry2)   AS HUGEINT) AS syy,
         CAST(sum(CAST(nxy AS HUGEINT) * rx2 * ry2)   AS HUGEINT) AS sxy
  FROM j GROUP BY source
)
SELECT source,
       CAST(n AS BIGINT) AS n_docs,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))
         AS rho
FROM m
ORDER BY source
"""


@register(
    "stats_spearman_quality_length",
    _spearman_oracle(),
    doc="Spearman rank correlation (quality vs n_chars) per source — exact tied ranks",
)
def stats_spearman_quality_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman ρ per source with exact average-rank ties: marginal value
    dictionaries get scale-safe per-source running counts
    (``grouped_running_sums``), the (x, y) pair dictionary joins its two
    marginal 2×ranks back dictionary-keyed, and Pearson-on-ranks moments
    accumulate in DECIMAL(38,0). The 2× scale cancels in ρ, so the only
    float math is the single final expression (the two variance factors
    are cast to double BEFORE multiplying — their exact product needs ~57
    digits).

    Scale: three data passes (two marginal groupBys + the pair groupBy);
    all joins and windows downstream are dictionary-sized and keyed by
    (source, value) — nothing funnels a source through one task."""
    docs = load(spark, sf_dir, "documents")
    *_, quality = _quality_parts()
    base = docs.select(
        "source",
        F.col("n_chars").alias("x"),
        F.round(quality * 10000).cast("long").alias("y"),
    )

    def marginal(col: str, cnt: str, cum: str) -> DataFrame:
        d = base.groupBy("source", col).agg(F.count(F.lit(1)).cast("long").alias(cnt))
        return grouped_running_sums(d, ["source"], [col], [(cnt, cum)])

    dx = marginal("x", "cx", "cumx").select(
        "source", "x", (2 * (F.col("cumx") - F.col("cx")) + F.col("cx") + 1).alias("rx2")
    )
    dy = marginal("y", "cy", "cumy").select(
        "source", "y", (2 * (F.col("cumy") - F.col("cy")) + F.col("cy") + 1).alias("ry2")
    )
    pxy = base.groupBy("source", "x", "y").agg(F.count(F.lit(1)).cast("long").alias("nxy"))
    j = pxy.join(dx, ["source", "x"]).join(dy, ["source", "y"])
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = j.groupBy("source").agg(
        F.sum(dec("nxy")).alias("n"),
        F.sum(dec("nxy") * F.col("rx2")).alias("sx"),
        F.sum(dec("nxy") * F.col("ry2")).alias("sy"),
        F.sum(dec("nxy") * F.col("rx2") * F.col("rx2")).alias("sxx"),
        F.sum(dec("nxy") * F.col("ry2") * F.col("ry2")).alias("syy"),
        F.sum(dec("nxy") * F.col("rx2") * F.col("ry2")).alias("sxy"),
    )
    return m.selectExpr(
        "source",
        "CAST(n AS BIGINT) AS n_docs",
        """CAST(n * sxy - sx * sy AS DOUBLE)
           / sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))
           AS rho""",
    ).orderBy("source")


# --------------------------------------------------------------------------
# Chi-square homogeneity: event-type mix across the md5 A/B split
# --------------------------------------------------------------------------

_CHI2_SCALE = 1_000_000_000  # χ² terms floor-quantized to 1e-9 before summing

_CHI2_ORACLE = f"""
WITH cells AS (
  SELECT event_type,
         CAST((strpos('0123456789abcdef',
                      substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) % 2 AS BIGINT)
           AS grp,
         CAST(count(*) AS BIGINT) AS o
  FROM events
  GROUP BY event_type, grp
),
tot AS (
  SELECT
    cells.*,
    CAST(sum(o) OVER (PARTITION BY event_type) AS HUGEINT) AS rt,
    CAST(sum(o) OVER (PARTITION BY grp)        AS HUGEINT) AS ct,
    CAST(sum(o) OVER ()                        AS HUGEINT) AS nn
  FROM cells
),
terms AS (
  SELECT
    (CAST(o AS HUGEINT) * nn - rt * ct) * (CAST(o AS HUGEINT) * nn - rt * ct)
      * {_CHI2_SCALE} // (nn * rt * ct) AS t_e9,
    nn
  FROM tot
)
SELECT
  CAST((SELECT count(DISTINCT event_type) FROM cells) AS BIGINT) AS n_types,
  CAST((SELECT count(DISTINCT event_type) FROM cells) - 1 AS BIGINT) AS dof,
  CAST(sum(t_e9) AS BIGINT) AS chi2_e9,
  CAST(CAST(sum(t_e9) AS BIGINT) AS DOUBLE) / {_CHI2_SCALE} AS chi2
FROM terms
GROUP BY nn
"""


@register(
    "stats_chi2_type_by_split",
    _CHI2_ORACLE,
    doc="chi-square homogeneity of the event-type mix across the md5 A/B split",
)
def stats_chi2_type_by_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² independence of event_type × deterministic md5(user_id) split
    (the `events_ab_test` assignment — an A/A design, so χ² should be
    small, which the unit test asserts as a calibration check).

    Exactness: each cell's term ``(o·N − rt·ct)² / (N·rt·ct)`` is an
    exact rational — numerator and denominator are integer products in
    DECIMAL(38,0)/HUGEINT — floor-quantized to 1e-9 BEFORE the sum (the
    PSI recipe), so ``chi2_e9`` is an exact integer cross-engine; the
    only double is the display division.

    Scale: one data-scale groupBy to the types×2 grid; the marginal
    windows run on that bounded grid."""
    events = load(spark, sf_dir, "events")
    cells = (
        events.select(
            "event_type",
            (
                F.expr("CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 1), 16, 10) AS BIGINT)")
                % 2
            ).alias("grp"),
        )
        .groupBy("event_type", "grp")
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
    )
    # Marginals as broadcast re-aggregations of the types×2 grid — the
    # grid is enum-bounded, and the plan suite bans the global-window
    # alternative even over bounded inputs it can't prove bounded.
    rt = cells.groupBy("event_type").agg(F.sum("o").cast("decimal(38,0)").alias("rt"))
    ct = cells.groupBy("grp").agg(F.sum("o").cast("decimal(38,0)").alias("ct"))
    nn_df = cells.agg(F.sum("o").cast("decimal(38,0)").alias("nn"))
    tot = (
        cells.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "grp")
        .crossJoin(F.broadcast(nn_df))
        .select("event_type", "grp", "o", "rt", "ct", "nn")
    )
    terms = tot.select(
        "nn",
        F.expr(
            f"""(CAST(o AS DECIMAL(38,0)) * nn - rt * ct)
                * (CAST(o AS DECIMAL(38,0)) * nn - rt * ct)
                * {_CHI2_SCALE} div (nn * rt * ct)"""
        ).alias("t_e9"),
        F.col("event_type"),
    )
    return terms.groupBy("nn").agg(
        F.countDistinct("event_type").cast("long").alias("n_types"),
        (F.countDistinct("event_type") - 1).cast("long").alias("dof"),
        F.sum("t_e9").cast("long").alias("chi2_e9"),
        (F.sum("t_e9").cast("long").cast("double") / _CHI2_SCALE).alias("chi2"),
    ).drop("nn").select("n_types", "dof", "chi2_e9", "chi2")


# --------------------------------------------------------------------------
# One-way ANOVA: event value by event type (k groups)
# --------------------------------------------------------------------------

_ANOVA_ORACLE = """
WITH vals AS (
  SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v
  FROM events
),
grp AS (
  SELECT g,
         CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum(v) AS BIGINT)   AS s_g,
         CAST(sum(CAST(v AS HUGEINT) * v) AS BIGINT) AS q_g
  FROM vals GROUP BY g
),
m AS (
  SELECT CAST(count(*) AS BIGINT)  AS k,
         CAST(sum(n_g) AS BIGINT)  AS n,
         CAST(sum(s_g) AS BIGINT)  AS s,
         CAST(sum(q_g) AS BIGINT)  AS q,
         CAST(sum(CAST(s_g AS HUGEINT) * s_g // n_g) AS BIGINT) AS ssbq
  FROM grp
)
SELECT k, n, s, q, ssbq,
       CAST(ssbq AS DOUBLE) - CAST(s AS DOUBLE) * s / n AS ss_between,
       CAST(q AS DOUBLE) - ssbq                         AS ss_within,
       ((CAST(ssbq AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (k - 1))
         / ((CAST(q AS DOUBLE) - ssbq) / (n - k))       AS f_stat,
       (CAST(ssbq AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
         / (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) AS eta_sq
FROM m
"""


@register(
    "stats_anova_oneway",
    _ANOVA_ORACLE,
    doc="one-way ANOVA F (event value by type) from exact integer moments",
)
def stats_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across the event types: does mean event value differ
    by type? The k-sample mean-comparison a curation pipeline runs before
    trusting a per-slice aggregate (reference surface: SURVEY §2 F-agg
    statistical profile, the k-group sibling of `events_ab_test`).

    Exactness: values quantize to integer cents; per-group moments
    (n_g, Σv, Σv²) are exact integers, and the one non-integer quantity —
    the between-group raw sum Σ s_g²/n_g — floor-quantizes per group
    (`s_g² div n_g`, error < 1 cent² per group, identical truncation in
    both engines since both truncate toward zero). F and η² are single
    shared IEEE expressions over those five integers. Magnitude note:
    s_g² rides DECIMAL(38,0)/HUGEINT; the quotient s_g²/n_g ∝ mean²·n_g
    stays inside int64 up to ~10⁹-row groups at cent scale — past that,
    re-quantize to whole currency units (same recipe, coarser quantum).

    Scale: ONE data-scale groupBy to the k-row (event-type-bounded) group
    table; everything downstream is a k-row aggregate."""
    events = load(spark, sf_dir, "events")
    grp = (
        events.select(
            F.col("event_type").alias("g"),
            F.round(F.col("value") * 100).cast("long").alias("v"),
        )
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum("v").cast("long").alias("s_g"),
            F.sum(F.col("v").cast("decimal(38,0)") * F.col("v")).cast("long").alias("q_g"),
        )
    )
    m = grp.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("q_g").cast("long").alias("q"),
        F.sum(F.expr("CAST(s_g AS DECIMAL(38,0)) * s_g div n_g")).cast("long").alias("ssbq"),
    )
    return m.selectExpr(
        "k",
        "n",
        "s",
        "q",
        "ssbq",
        "CAST(ssbq AS DOUBLE) - CAST(s AS DOUBLE) * s / n AS ss_between",
        "CAST(q AS DOUBLE) - ssbq AS ss_within",
        "((CAST(ssbq AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (k - 1))"
        " / ((CAST(q AS DOUBLE) - ssbq) / (n - k)) AS f_stat",
        "(CAST(ssbq AS DOUBLE) - CAST(s AS DOUBLE) * s / n)"
        " / (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) AS eta_sq",
    )


# --------------------------------------------------------------------------
# Kruskal-Wallis H: rank-based k-sample test (ANOVA's rank sibling)
# --------------------------------------------------------------------------

# Σ_g R_g²/(n_g·N) quantized to milli-units: quotients stay ~N·10³ —
# inside int64 with ~10⁹× headroom over the fixture scales.
_KW_SCALE = 1_000


#: The value-dictionary rank machinery shared by Kruskal-Wallis and the
#: Dunn post-hoc oracle: per-group exact 2×rank-sums (integral under
#: ties), total N, and the Σ(t³−t) tie term.
_KW_RANK_CTES = """vals AS (
  SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v
  FROM events
),
cells AS (
  SELECT g, v, CAST(count(*) AS BIGINT) AS n_gv
  FROM vals GROUP BY g, v
),
dict AS (
  SELECT v, CAST(sum(n_gv) AS BIGINT) AS n_v
  FROM cells GROUP BY v
),
ranked AS (
  SELECT v, n_v,
         CAST(sum(n_v) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM dict
),
per_g AS (
  SELECT c.g,
         CAST(sum(c.n_gv) AS BIGINT) AS n_g,
         -- 2×rank-sum: R2_g(v) = n_gv · (2·cum_before + n_v + 1)
         CAST(sum(CAST(c.n_gv AS HUGEINT) * (2 * (r.cum - r.n_v) + r.n_v + 1)) AS BIGINT) AS r2_g
  FROM cells c JOIN ranked r ON c.v = r.v
  GROUP BY c.g
),
nn AS (SELECT CAST(sum(n_g) AS BIGINT) AS n FROM per_g),
ties AS (
  SELECT CAST(sum(CAST(n_v AS HUGEINT) * n_v * n_v - n_v) AS BIGINT) AS tie_t
  FROM dict
)"""

_KRUSKAL_ORACLE = f"""
WITH {_KW_RANK_CTES},
hsum AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         -- Σ_g R_g²/(n_g·N) in milli-units, R_g = r2_g/2
         CAST(sum(CAST(r2_g AS HUGEINT) * r2_g * {_KW_SCALE} // (4 * n_g * (SELECT n FROM nn))) AS BIGINT) AS h_milli
  FROM per_g
)
SELECT hsum.k, nn.n, hsum.h_milli, ties.tie_t,
       12.0 * (CAST(hsum.h_milli AS DOUBLE) / {_KW_SCALE}) / (nn.n + 1)
         - 3.0 * (nn.n + 1) AS h,
       (12.0 * (CAST(hsum.h_milli AS DOUBLE) / {_KW_SCALE}) / (nn.n + 1)
         - 3.0 * (nn.n + 1))
         / (1.0 - CAST(ties.tie_t AS DOUBLE)
            / (CAST(nn.n AS DOUBLE) * nn.n * nn.n - nn.n)) AS h_corrected
FROM hsum, nn, ties
"""


def _kw_rank_frames(spark: SparkSession, sf_dir: str):
    """The Spark side of ``_KW_RANK_CTES``: (per_g, nn, ties) — exact
    per-group 2×rank-sums over the value dictionary, total N, and the
    Σ(t³−t) tie term. Shared by Kruskal-Wallis and Dunn's post-hoc."""
    events = load(spark, sf_dir, "events")
    cells = (
        events.select(
            F.col("event_type").alias("g"),
            F.round(F.col("value") * 100).cast("long").alias("v"),
        )
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("n_gv"))
    )
    dict_df = cells.groupBy("v").agg(F.sum("n_gv").cast("long").alias("n_v"))
    ranked = grouped_running_sums(dict_df, [], ["v"], [("n_v", "cum")]).select("v", "n_v", "cum")
    per_g = (
        cells.join(ranked, "v")
        .groupBy("g")
        .agg(
            F.sum("n_gv").cast("long").alias("n_g"),
            F.sum(
                F.col("n_gv").cast("decimal(38,0)")
                * (2 * (F.col("cum") - F.col("n_v")) + F.col("n_v") + 1)
            ).cast("long").alias("r2_g"),
        )
    )
    nn = per_g.agg(F.sum("n_g").cast("long").alias("n"))
    ties = ranked.agg(
        F.sum(
            F.col("n_v").cast("decimal(38,0)") * F.col("n_v") * F.col("n_v") - F.col("n_v")
        ).cast("long").alias("tie_t")
    )
    return per_g, nn, ties


@register(
    "stats_kruskal_wallis",
    _KRUSKAL_ORACLE,
    doc="Kruskal-Wallis H (event value ranks by type) — exact tie-corrected ranks",
)
def stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across the event types — the rank-based (outlier-
    robust) k-sample sibling of `stats_anova_oneway`, generalizing the
    Mann-Whitney construction from 2 to k groups on the same value
    dictionary.

    Exactness: 2×average-ranks stay integral under ties
    (R2(v) = 2·cum_before + n_v + 1, the `stats_mannwhitney_events`
    identity); Σ_g R_g²/(n_g·N) floor-quantizes to milli-units per group
    (truncation toward zero in BOTH engines), so `h_milli` and the tie
    term are exact integers; H and its tie correction are single shared
    IEEE expressions.

    Scale: one data-scale groupBy to the (type × cents) dictionary; the
    running rank runs on the value dictionary via the range-partitioned
    machinery, never a window over data rows."""
    per_g, nn, ties = _kw_rank_frames(spark, sf_dir)
    hsum = (
        per_g.crossJoin(F.broadcast(nn))
        .agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            F.sum(
                F.expr(
                    f"CAST(r2_g AS DECIMAL(38,0)) * r2_g * {_KW_SCALE} div (4 * n_g * n)"
                )
            ).cast("long").alias("h_milli"),
            F.first("n").alias("n"),
        )
    )
    return (
        hsum.crossJoin(F.broadcast(ties))
        .selectExpr(
            "k",
            "n",
            "h_milli",
            "tie_t",
            f"12.0 * (CAST(h_milli AS DOUBLE) / {_KW_SCALE}) / (n + 1) - 3.0 * (n + 1) AS h",
            f"(12.0 * (CAST(h_milli AS DOUBLE) / {_KW_SCALE}) / (n + 1) - 3.0 * (n + 1))"
            " / (1.0 - CAST(tie_t AS DOUBLE) / (CAST(n AS DOUBLE) * n * n - n)) AS h_corrected",
        )
    )


# --------------------------------------------------------------------------
# Kendall tau-b on a decile grid: doc length vs stopword density
# --------------------------------------------------------------------------

_KT_BINS = 10


_KENDALL_ORACLE = rf"""
WITH feat AS (
  SELECT doc_id,
         n_chars AS x,
         CAST({_STOP_HITS_DUCK} AS BIGINT)
           * 1000000
           // greatest(len({_WS_TOKENS_DUCK}), 1)
           AS y
  FROM documents
),
binned AS (
  SELECT ntile({_KT_BINS}) OVER (ORDER BY x, doc_id) AS bx,
         ntile({_KT_BINS}) OVER (ORDER BY y, doc_id) AS by_
  FROM feat
),
grid AS (
  SELECT bx, by_, CAST(count(*) AS BIGINT) AS f
  FROM binned GROUP BY bx, by_
),
pairs AS (
  SELECT
    CAST(sum(CASE WHEN a.bx < b.bx AND a.by_ < b.by_ THEN a.f * b.f ELSE 0 END) AS BIGINT) AS c_pairs,
    CAST(sum(CASE WHEN a.bx < b.bx AND a.by_ > b.by_ THEN a.f * b.f ELSE 0 END) AS BIGINT) AS d_pairs
  FROM grid a, grid b
),
marg AS (
  SELECT
    CAST(sum(f) AS BIGINT) AS n,
    CAST((SELECT sum(fx * (fx - 1) / 2) FROM (SELECT sum(f) AS fx FROM grid GROUP BY bx)) AS BIGINT) AS tie_x,
    CAST((SELECT sum(fy * (fy - 1) / 2) FROM (SELECT sum(f) AS fy FROM grid GROUP BY by_)) AS BIGINT) AS tie_y
  FROM grid
)
SELECT m.n, p.c_pairs, p.d_pairs, m.tie_x, m.tie_y,
       (CAST(p.c_pairs AS DOUBLE) - p.d_pairs)
         / sqrt((CAST(m.n AS DOUBLE) * (m.n - 1) / 2 - m.tie_x)
                * (CAST(m.n AS DOUBLE) * (m.n - 1) / 2 - m.tie_y)) AS tau_b
FROM pairs p, marg m
"""


@register(
    "stats_kendall_tau_binned",
    _KENDALL_ORACLE,
    doc=f"Kendall tau-b (decile-binned) between doc length and stopword density",
)
def stats_kendall_tau_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between document length (chars) and stopword density
    (integer ppm) after decile binning — the ordinal-association sibling
    of `stats_spearman_quality_length`. Exact Kendall on raw values is an
    inversion count (a sort-merge, hostile to SQL engines at scale);
    binning both margins to deciles first is the standard scalable form:
    tau-b on the binned table is exact, and the {_KT_BINS}×{_KT_BINS}
    contingency grid makes concordant/discordant counting a bounded
    crossJoin of the grid with itself.

    Exactness: both decile assignments ride the exact-global-rank + ANSI
    ntile identity (a total order with doc_id tiebreak, identical in
    DuckDB); C, D, and the tie terms are exact integers off the grid;
    tau_b is one shared IEEE expression.

    Scale: ONE range-partitioned rank pass (r13 fusion, guide §2.1 —
    VERDICT r12 #8: both margins ride one exchange as tagged
    (tag, sortval, doc_id) rows; in-tag rank = rn − tag·N since each tag
    block holds exactly N rows — one isolation checkpoint instead of
    two), one pivot + groupBy to the 100-cell grid, and grid×grid is a
    bounded broadcast crossJoin — nothing pairwise ever touches data
    rows."""
    from gluettalax_spark.operators.rank import exact_global_rank, ntile_from_rank

    docs = load(spark, sf_dir, "documents")
    feat = docs.select(
        "doc_id",
        F.col("n_chars").alias("x"),
        F.expr(f"{STOP_COUNT_SQL} * 1000000 div greatest(size({ws_tokens_sql()}), 1)").alias("y"),
    )
    tagged = feat.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(F.lit(0).cast("long").alias("tag"), F.col("x").cast("long").alias("sortval")),
                F.struct(F.lit(1).cast("long").alias("tag"), F.col("y").alias("sortval")),
            )
        ).alias("_t"),
    ).select(F.col("_t.tag").alias("tag"), F.col("_t.sortval").alias("sortval"), "doc_id")
    ranked = exact_global_rank(tagged, [F.col("tag"), F.col("sortval"), F.col("doc_id")], "_rn")
    n_tag = F.expr("_n DIV 2")
    binned = (
        ranked.select(
            "doc_id",
            "tag",
            ntile_from_rank(F.col("_rn") - F.col("tag") * n_tag, n_tag, _KT_BINS).alias("_b"),
        )
        .groupBy("doc_id")
        .agg(
            F.max(F.when(F.col("tag") == 0, F.col("_b"))).alias("bx"),
            F.max(F.when(F.col("tag") == 1, F.col("_b"))).alias("by_"),
        )
    )
    grid = binned.groupBy("bx", "by_").agg(F.count(F.lit(1)).cast("long").alias("f"))
    a = grid.select(
        F.col("bx").alias("abx"), F.col("by_").alias("aby"), F.col("f").alias("af")
    )
    b = grid.select(
        F.col("bx").alias("bbx"), F.col("by_").alias("bby"), F.col("f").alias("bf")
    )
    pairs = a.crossJoin(F.broadcast(b)).agg(
        F.sum(
            F.when(
                (F.col("abx") < F.col("bbx")) & (F.col("aby") < F.col("bby")),
                F.col("af") * F.col("bf"),
            ).otherwise(0)
        ).cast("long").alias("c_pairs"),
        F.sum(
            F.when(
                (F.col("abx") < F.col("bbx")) & (F.col("aby") > F.col("bby")),
                F.col("af") * F.col("bf"),
            ).otherwise(0)
        ).cast("long").alias("d_pairs"),
    )
    tx = (
        grid.groupBy("bx")
        .agg(F.sum("f").alias("fx"))
        .agg(F.sum(F.expr("fx * (fx - 1) div 2")).cast("long").alias("tie_x"))
    )
    ty = (
        grid.groupBy("by_")
        .agg(F.sum("f").alias("fy"))
        .agg(F.sum(F.expr("fy * (fy - 1) div 2")).cast("long").alias("tie_y"))
    )
    n_df = grid.agg(F.sum("f").cast("long").alias("n"))
    return (
        pairs.crossJoin(F.broadcast(n_df))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .selectExpr(
            "n",
            "c_pairs",
            "d_pairs",
            "tie_x",
            "tie_y",
            "(CAST(c_pairs AS DOUBLE) - d_pairs)"
            " / sqrt((CAST(n AS DOUBLE) * (n - 1) / 2 - tie_x)"
            " * (CAST(n AS DOUBLE) * (n - 1) / 2 - tie_y)) AS tau_b",
        )
    )


# --------------------------------------------------------------------------
# Brown-Forsythe (Levene-median) test: variance homogeneity across groups
# --------------------------------------------------------------------------

_BF_ORACLE = """
WITH vals AS (
  SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v
  FROM events
),
cells AS (
  SELECT g, v, CAST(count(*) AS BIGINT) AS n_gv FROM vals GROUP BY g, v
),
ranked AS (
  SELECT g, v, n_gv,
         CAST(sum(n_gv) OVER (PARTITION BY g ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(sum(n_gv) OVER (PARTITION BY g) AS BIGINT) AS n_g
  FROM cells
),
med AS (
  -- lower median: smallest v with 2*cum >= n_g (deterministic for even n)
  SELECT g, min(v) AS m
  FROM ranked WHERE 2 * cum >= n_g GROUP BY g
),
z AS (
  SELECT c.g, abs(c.v - med.m) AS z, c.n_gv
  FROM cells c JOIN med ON med.g = c.g
),
grp AS (
  SELECT g,
         CAST(sum(n_gv) AS BIGINT) AS n_g,
         CAST(sum(CAST(z AS HUGEINT) * n_gv) AS BIGINT) AS s_g,
         CAST(sum(CAST(z AS HUGEINT) * z * n_gv) AS BIGINT) AS q_g
  FROM z GROUP BY g
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(n_g) AS BIGINT) AS n,
         CAST(sum(s_g) AS BIGINT) AS s,
         CAST(sum(q_g) AS BIGINT) AS q,
         CAST(sum(CAST(s_g AS HUGEINT) * s_g // n_g) AS BIGINT) AS ssbq
  FROM grp
)
SELECT k, n, s, q, ssbq,
       ((CAST(ssbq AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (k - 1))
         / ((CAST(q AS DOUBLE) - ssbq) / (n - k)) AS f_stat
FROM m
"""


@register(
    "stats_brown_forsythe",
    _BF_ORACLE,
    doc="Brown-Forsythe variance-homogeneity F (|x − group median| ANOVA)",
)
def stats_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe (median-centered Levene) test: are the event-value
    VARIANCES equal across types? The assumption check that belongs next
    to `stats_anova_oneway` (ANOVA assumes homoscedasticity) — run the
    ANOVA F on z = |x − median_g| instead of x, with the median (not the
    mean) making it robust.

    Exactness: per-group medians come off the (type × cents) dictionary
    via a per-group running sum — the LOWER median (smallest v with
    2·cum ≥ n) so even-sized groups are deterministic; z values are
    exact non-negative integers, the moment machinery is byte-for-byte
    the `stats_anova_oneway` recipe (floor-div between-group term,
    single shared IEEE F expression).

    Scale: one data-scale groupBy to the (type × cents) dictionary;
    the per-group windows here run ON the dictionary (cents cardinality
    per type, not rows). The dictionary windows partition by type —
    value-dictionary-bounded, the `stats_mannwhitney_events` shape."""
    events = load(spark, sf_dir, "events")
    cells = (
        events.select(
            F.col("event_type").alias("g"),
            F.round(F.col("value") * 100).cast("long").alias("v"),
        )
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("n_gv"))
    )
    # r13 A/B: lazy 0.96 ≈ persist 0.98 < eager 1.19 (count, best-of-3)
    # — persist kept (tied with lazy, no build-time stage execution).
    cells = cells.persist(CKPT_LEVEL)
    ranked = grouped_running_sums(cells, ["g"], ["v"], [("n_gv", "cum")])
    med = (
        ranked.filter(2 * F.col("cum") >= F.col("cum_total"))
        .groupBy("g")
        .agg(F.min("v").alias("m"))
    )
    z = cells.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("v") - F.col("m")).alias("z"), "n_gv"
    )
    grp = z.groupBy("g").agg(
        F.sum("n_gv").cast("long").alias("n_g"),
        F.sum(F.col("z").cast("decimal(38,0)") * F.col("n_gv")).cast("long").alias("s_g"),
        F.sum(F.col("z").cast("decimal(38,0)") * F.col("z") * F.col("n_gv"))
        .cast("long")
        .alias("q_g"),
    )
    m = grp.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("q_g").cast("long").alias("q"),
        F.sum(F.expr("CAST(s_g AS DECIMAL(38,0)) * s_g div n_g")).cast("long").alias("ssbq"),
    )
    return m.selectExpr(
        "k",
        "n",
        "s",
        "q",
        "ssbq",
        "((CAST(ssbq AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (k - 1))"
        " / ((CAST(q AS DOUBLE) - ssbq) / (n - k)) AS f_stat",
    )


# --------------------------------------------------------------------------
# Welch's t-test: unequal-variance two-sample mean comparison
# --------------------------------------------------------------------------

_WELCH_A, _WELCH_B = "click", "purchase"

_WELCH_ORACLE = f"""
WITH vals AS (
  SELECT CASE WHEN event_type = '{_WELCH_A}' THEN 0 ELSE 1 END AS side,
         CAST(round(value * 100) AS BIGINT) AS v
  FROM events WHERE event_type IN ('{_WELCH_A}', '{_WELCH_B}')
),
m AS (
  SELECT
    CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
    CAST(sum(CASE WHEN side = 0 THEN v ELSE 0 END) AS BIGINT) AS s1,
    CAST(sum(CASE WHEN side = 1 THEN v ELSE 0 END) AS BIGINT) AS s2,
    CAST(sum(CASE WHEN side = 0 THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS BIGINT) AS q1,
    CAST(sum(CASE WHEN side = 1 THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS BIGINT) AS q2
  FROM vals
)
SELECT n1, n2, s1, s2, q1, q2,
  round((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
        / sqrt(((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1)) / n1
             + ((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1)) / n2), 6)
    AS t_stat,
  round((((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1)) / n1
       + ((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1)) / n2)
        * ((((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1)) / n1
          + ((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1)) / n2))
        / ((((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1)) / n1)
           * (((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1)) / n1) / (n1 - 1)
         + (((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1)) / n2)
           * (((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1)) / n2) / (n2 - 1)), 4)
    AS df_welch
FROM m
"""


@register(
    "stats_welch_ttest",
    _WELCH_ORACLE,
    doc="Welch's unequal-variance t-test (click vs purchase values) from exact moments",
)
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t-test — the default two-sample mean comparison when
    variances differ (it dominates Student's t in practice; scipy's
    ``ttest_ind(equal_var=False)``). Complements `stats_mannwhitney_events`
    (rank-based) with the parametric check on the same pair of groups.

    Exactness: the six sufficient statistics (n, Σv, Σv² per side) are
    exact integers off one conditional aggregate; t and the
    Welch–Satterthwaite df are each ONE fixed IEEE expression over them,
    rounded for display — deterministic cross-engine, no float fold.

    Scale: a single scan with a map-side-combinable 6-number aggregate;
    nothing shuffles but one row of partials per task."""
    events = load(spark, sf_dir, "events")
    vals = events.filter(F.col("event_type").isin(_WELCH_A, _WELCH_B)).select(
        F.when(F.col("event_type") == _WELCH_A, 0).otherwise(1).alias("side"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    m = vals.agg(
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).cast("long").alias("n2"),
        F.sum(F.when(F.col("side") == 0, F.col("v")).otherwise(0)).cast("long").alias("s1"),
        F.sum(F.when(F.col("side") == 1, F.col("v")).otherwise(0)).cast("long").alias("s2"),
        F.sum(
            F.when(F.col("side") == 0, F.col("v").cast("decimal(38,0)") * F.col("v")).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        )
        .cast("long")
        .alias("q1"),
        F.sum(
            F.when(F.col("side") == 1, F.col("v").cast("decimal(38,0)") * F.col("v")).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        )
        .cast("long")
        .alias("q2"),
    )
    # se_i = var_i / n_i spelled once per side, inlined everywhere so both
    # engines evaluate the identical expression tree.
    se1 = "(((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1)) / n1)"
    se2 = "(((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1)) / n2)"
    return m.selectExpr(
        "n1",
        "n2",
        "s1",
        "s2",
        "q1",
        "q2",
        f"round((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)"
        f" / sqrt({se1} + {se2}), 6) AS t_stat",
        f"round(({se1} + {se2}) * (({se1} + {se2}))"
        f" / ({se1} * {se1} / (n1 - 1) + {se2} * {se2} / (n2 - 1)), 4) AS df_welch",
    )


# --------------------------------------------------------------------------
# Jarque-Bera normality test: skewness/kurtosis of order totals
# --------------------------------------------------------------------------

# Inlined sub-expressions (identical text both engines): mean and the
# central moments as FIXED sequences of IEEE ops over the exact sums.
_JB_MEAN = "(CAST(s1 AS DOUBLE) / n)"
_JB_M2 = f"((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / n)"
_JB_M3 = (
    f"(CAST(s3 AS DOUBLE) / n - 3.0 * {_JB_MEAN} * (CAST(s2 AS DOUBLE) / n)"
    f" + 2.0 * {_JB_MEAN} * {_JB_MEAN} * {_JB_MEAN})"
)
_JB_M4 = (
    f"(CAST(s4 AS DOUBLE) / n - 4.0 * {_JB_MEAN} * (CAST(s3 AS DOUBLE) / n)"
    f" + 6.0 * {_JB_MEAN} * {_JB_MEAN} * (CAST(s2 AS DOUBLE) / n)"
    f" - 3.0 * {_JB_MEAN} * {_JB_MEAN} * {_JB_MEAN} * {_JB_MEAN})"
)
_JB_SKEW = f"({_JB_M3} / ({_JB_M2} * sqrt({_JB_M2})))"
_JB_KURT = f"({_JB_M4} / ({_JB_M2} * {_JB_M2}) - 3.0)"

_JB_SELECT = f"""
SELECT n, s1,
  round({_JB_MEAN}, 4) AS mean_price,
  round({_JB_M2}, 4) AS m2,
  round({_JB_SKEW}, 6) AS skewness,
  round({_JB_KURT}, 6) AS kurtosis_excess,
  round(n / 6.0 * ({_JB_SKEW} * {_JB_SKEW} + {_JB_KURT} * {_JB_KURT} / 4.0), 4) AS jb_stat
FROM m
"""

_JB_ORACLE = f"""
WITH vals AS (
  SELECT CAST(round(o_totalprice) AS BIGINT) AS v FROM orders
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v) AS BIGINT) AS s1,
         CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS s2,
         CAST(sum(CAST(v AS HUGEINT) * v * v) AS HUGEINT) AS s3,
         CAST(sum(CAST(v AS HUGEINT) * v * v * v) AS HUGEINT) AS s4
  FROM vals
)
{_JB_SELECT}
"""


@register(
    "stats_jarque_bera",
    _JB_ORACLE,
    doc="Jarque-Bera normality test of order totals from four exact raw moments",
)
def stats_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test on order totals — the standard
    moment-based check (n/6·(S² + K²/4), S = skewness, K = excess
    kurtosis) a pipeline runs before leaning on any normal-theory
    interval. The fixture's totals are near-uniform — symmetric but
    flat-topped (K ≈ −1.2) — so JB rejects on the kurtosis term alone;
    the unit test pins |S| small, K < 0, JB large as the calibration.

    Exactness: prices quantize to whole dollars and the four raw power
    sums accumulate exactly in DECIMAL(38,0) (DuckDB HUGEINT) — v⁴ ≤
    1.3e23 so even a 10⁹-row corpus stays under 1e38 with headroom (the
    documented magnitude bound for the s4 decimal). Central moments,
    skewness, kurtosis, and JB are each ONE fixed IEEE expression over
    the exact sums (shared text both engines), rounded for display.

    Scale: one scan, one 5-number map-side-combinable aggregate — the
    `orders_price_trend_ols` moment recipe taken to fourth order."""
    orders = load(spark, sf_dir, "orders")
    vals = orders.select(F.round(F.col("o_totalprice")).cast("long").alias("v"))
    vd = F.col("v").cast("decimal(38,0)")
    m = vals.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s1"),
        F.sum(vd * F.col("v")).cast("decimal(38,0)").alias("s2"),
        F.sum(vd * F.col("v") * F.col("v")).cast("decimal(38,0)").alias("s3"),
        F.sum(vd * F.col("v") * F.col("v") * F.col("v")).cast("decimal(38,0)").alias("s4"),
    )
    return m.selectExpr(
        "n",
        "s1",
        f"round({_JB_MEAN}, 4) AS mean_price",
        f"round({_JB_M2}, 4) AS m2",
        f"round({_JB_SKEW}, 6) AS skewness",
        f"round({_JB_KURT}, 6) AS kurtosis_excess",
        f"round(n / 6.0 * ({_JB_SKEW} * {_JB_SKEW} + {_JB_KURT} * {_JB_KURT} / 4.0), 4)"
        " AS jb_stat",
    )


# --------------------------------------------------------------------------
# Cramér's V: association strength over a types × 4-way split grid
# --------------------------------------------------------------------------

_CRAMER_ORACLE = f"""
WITH cells AS (
  SELECT event_type,
         CAST((strpos('0123456789abcdef',
                      substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) % 4 AS BIGINT)
           AS grp,
         CAST(count(*) AS BIGINT) AS o
  FROM events
  GROUP BY event_type, grp
),
tot AS (
  SELECT
    cells.*,
    CAST(sum(o) OVER (PARTITION BY event_type) AS HUGEINT) AS rt,
    CAST(sum(o) OVER (PARTITION BY grp)        AS HUGEINT) AS ct,
    CAST(sum(o) OVER ()                        AS HUGEINT) AS nn
  FROM cells
),
terms AS (
  SELECT nn, (o_e9 - e_e9) * (o_e9 - e_e9) // e_e9 AS t_e9
  FROM (
    SELECT nn,
           CAST(o AS HUGEINT) * {_CHI2_SCALE} AS o_e9,
           greatest(rt * ct * {_CHI2_SCALE} // nn, 1) AS e_e9
    FROM tot
  )
)
SELECT
  CAST((SELECT count(DISTINCT event_type) FROM cells) AS BIGINT) AS n_types,
  CAST((SELECT count(DISTINCT grp) FROM cells) AS BIGINT) AS n_splits,
  CAST(nn AS BIGINT) AS n,
  CAST(sum(t_e9) AS BIGINT) AS chi2_e9,
  round(sqrt((CAST(CAST(sum(t_e9) AS BIGINT) AS DOUBLE) / {_CHI2_SCALE})
             / (CAST(nn AS DOUBLE)
                * (least((SELECT count(DISTINCT event_type) FROM cells),
                         (SELECT count(DISTINCT grp) FROM cells)) - 1))), 6) AS cramers_v
FROM terms
GROUP BY nn
"""


@register(
    "stats_cramers_v",
    _CRAMER_ORACLE,
    doc="Cramér's V association strength (event type × md5 4-way split)",
)
def stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V — the [0, 1]-normalized effect size for a contingency
    table (V = sqrt(χ² / (N·(min(r,c)−1)))), the statistic you report
    NEXT to a χ² p-value because χ² grows with N while V does not. The
    grid widens `stats_chi2_type_by_split`'s A/B to a 4-way md5 split,
    so min(r,c)−1 = 3 and V exercises the non-binary normalizer; the
    split is an A/A design, so the unit test pins V ≈ 0 (calibration).

    Exactness: the χ² terms use the FACTORED 1e-9 floor-quantization
    recipe — expected counts first (``e_e9 = rt·ct·1e9 // nn``, floored,
    min 1), then ``(o·1e9 − e_e9)² // e_e9`` — identical integer ops in
    both engines, so ``chi2_e9`` is exact cross-engine. Magnitude bound
    (the reason for factoring, VERDICT r8 advice): the squared term is
    ≤ (nn·1e9)², inside DECIMAL(38,0)/HUGEINT up to nn ≈ 1e10 events,
    and the BIGINT ``sum(t_e9)`` caps at χ² ≤ 9.2e9 ⇒ nn ≲ 3e9 under
    total dependence — vs ~1.8e7 for the unfactored
    ``(o·nn − rt·ct)²·1e9`` form (which `stats_chi2_type_by_split`
    documents as its own bound).

    Scale: one data-scale groupBy to the types×4 grid; marginals are
    broadcast re-aggregations of that bounded grid."""
    events = load(spark, sf_dir, "events")
    cells = (
        events.select(
            "event_type",
            (
                F.expr("CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 1), 16, 10) AS BIGINT)")
                % 4
            ).alias("grp"),
        )
        .groupBy("event_type", "grp")
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
        .persist(CKPT_LEVEL)
    )
    rt = cells.groupBy("event_type").agg(F.sum("o").cast("decimal(38,0)").alias("rt"))
    ct = cells.groupBy("grp").agg(F.sum("o").cast("decimal(38,0)").alias("ct"))
    nn_df = cells.agg(F.sum("o").cast("decimal(38,0)").alias("nn"))
    dims = cells.agg(
        F.countDistinct("event_type").cast("long").alias("n_types"),
        F.countDistinct("grp").cast("long").alias("n_splits"),
    )
    tot = (
        cells.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "grp")
        .crossJoin(F.broadcast(nn_df))
        .select("o", "rt", "ct", "nn")
    )
    terms = tot.select(
        "nn",
        F.expr(f"CAST(o AS DECIMAL(38,0)) * {_CHI2_SCALE}").alias("o_e9"),
        F.expr(
            f"greatest(rt * ct * {_CHI2_SCALE} div nn, CAST(1 AS DECIMAL(38,0)))"
        ).alias("e_e9"),
    ).select(
        "nn",
        F.expr("(o_e9 - e_e9) * (o_e9 - e_e9) div e_e9").alias("t_e9"),
    )
    chi2 = terms.groupBy("nn").agg(F.sum("t_e9").cast("long").alias("chi2_e9"))
    return (
        chi2.crossJoin(F.broadcast(dims))
        .selectExpr(
            "n_types",
            "n_splits",
            "CAST(nn AS BIGINT) AS n",
            "chi2_e9",
            f"round(sqrt((CAST(chi2_e9 AS DOUBLE) / {_CHI2_SCALE})"
            " / (CAST(nn AS DOUBLE) * (least(n_types, n_splits) - 1))), 6) AS cramers_v",
        )
    )


# --------------------------------------------------------------------------
# Benjamini-Hochberg FDR over per-type A/B mean tests
# --------------------------------------------------------------------------

# Spark parses a bare 0.05 literal as DECIMAL(2,2) (DuckDB as DOUBLE) —
# the explicit cast keeps the threshold arithmetic double in BOTH engines.
_BH_ALPHA = "CAST(0.05 AS DOUBLE)"


def _p_two_sided(y: str) -> str:
    """Two-sided normal p-value 2·(1−Φ(|z|)) = erfc(|z|/√2) via the
    Abramowitz-Stegun 7.1.26 polynomial — ONE fixed IEEE expression
    (identical text both engines), rounded to 6 so the single libm
    ``exp`` call can't leak last-ulp differences into the BH compare
    (the text_unigram_logppl / survival-KM convention). ``y`` must be
    the |z|/√2 sub-expression."""
    t = f"(1.0 / (1.0 + 0.3275911 * ({y})))"
    poly = (
        f"({t} * (0.254829592 + {t} * (-0.284496736 + {t} * (1.421413741"
        f" + {t} * (-1.453152027 + {t} * 1.061405429)))))"
    )
    return f"round({poly} * exp(-({y}) * ({y})), 6)"


# Welch z per event type over the md5 A/B split, from exact moments.
_BH_Z = (
    "((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)"
    " / sqrt(((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1)) / n1"
    "      + ((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1)) / n2))"
)
_BH_P = _p_two_sided(f"abs({_BH_Z}) / sqrt(2.0)")

_BH_ORACLE = f"""
WITH split AS (
  SELECT event_type,
         CAST((strpos('0123456789abcdef',
                      substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) % 2 AS BIGINT)
           AS grp,
         CAST(round(value * 100) AS BIGINT) AS v
  FROM events
),
m AS (
  SELECT event_type,
    CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
    CAST(sum(CASE WHEN grp = 0 THEN v ELSE 0 END) AS BIGINT) AS s1,
    CAST(sum(CASE WHEN grp = 1 THEN v ELSE 0 END) AS BIGINT) AS s2,
    CAST(sum(CASE WHEN grp = 0 THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS BIGINT) AS q1,
    CAST(sum(CASE WHEN grp = 1 THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS BIGINT) AS q2
  FROM split GROUP BY event_type
),
scored AS (
  SELECT event_type, n1, n2,
         round({_BH_Z}, 6) AS z,
         {_BH_P} AS p_value
  FROM m
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tests FROM scored),
ranked AS (
  SELECT a.event_type, a.n1, a.n2, a.z, a.p_value,
         CAST(count(*) AS BIGINT) AS p_rank
  FROM scored a JOIN scored b
    ON b.p_value < a.p_value OR (b.p_value = a.p_value AND b.event_type <= a.event_type)
  GROUP BY a.event_type, a.n1, a.n2, a.z, a.p_value
),
cutoff AS (
  SELECT coalesce(max(CASE WHEN p_value * n_tests <= p_rank * {_BH_ALPHA}
                           THEN p_rank END), 0) AS max_rank
  FROM ranked, tot
)
SELECT r.event_type, r.n1, r.n2, r.z, r.p_value, r.p_rank,
       round(r.p_rank * {_BH_ALPHA} / t.n_tests, 6) AS bh_threshold,
       CAST(r.p_rank <= c.max_rank AS BOOLEAN) AS rejected
FROM ranked r, tot t, cutoff c
ORDER BY r.p_rank
"""


@register(
    "stats_multiple_testing_bh",
    _BH_ORACLE,
    doc="Benjamini-Hochberg FDR step-up over per-type A/B Welch z-tests",
)
def stats_multiple_testing_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg multiple-testing correction — run one Welch
    z-test per event type across the deterministic md5 A/B split, then
    the FDR step-up (reject all tests ranked ≤ max{i : p_i ≤ i·α/m},
    α = 0.05). THE guardrail for metric dashboards: five simultaneous
    A/B readouts at α=0.05 false-positive ~23% of the time uncorrected.
    The split is user-level A/A, but the z-test runs on EVENTS — at
    small fixture scales the user pool is tiny and intra-user value
    correlation makes some types reject, which is precisely the
    cluster-randomization bias this guardrail exists to surface (the
    unit test re-derives the step-up decisions rather than pinning a
    discovery count).

    Cross-engine p-values: Φ has no SQL builtin, so both engines
    evaluate the SAME Abramowitz-Stegun erfc polynomial (7.1.26, max
    error 1.5e-7) — one fixed IEEE expression whose single ``exp`` call
    is rounded away at 6 dp. Ranks come from a 5×5 self-join on the
    types grid, NOT a global window (the bounded-grid discipline);
    the step-up compare is cross-multiplied (p·m ≤ i·α).

    Scale: one data-scale conditional aggregate to the types×2 moment
    grid; everything after is k-row."""
    events = load(spark, sf_dir, "events")
    split = events.select(
        "event_type",
        (
            F.expr("CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 1), 16, 10) AS BIGINT)")
            % 2
        ).alias("grp"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    m = split.groupBy("event_type").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("long").alias("n2"),
        F.sum(F.when(F.col("grp") == 0, F.col("v")).otherwise(0)).cast("long").alias("s1"),
        F.sum(F.when(F.col("grp") == 1, F.col("v")).otherwise(0)).cast("long").alias("s2"),
        F.sum(
            F.when(F.col("grp") == 0, F.col("v").cast("decimal(38,0)") * F.col("v")).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        )
        .cast("long")
        .alias("q1"),
        F.sum(
            F.when(F.col("grp") == 1, F.col("v").cast("decimal(38,0)") * F.col("v")).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        )
        .cast("long")
        .alias("q2"),
    )
    scored = m.selectExpr(
        "event_type",
        "n1",
        "n2",
        f"round({_BH_Z}, 6) AS z",
        f"{_BH_P} AS p_value",
    ).persist(CKPT_LEVEL)
    tot = scored.agg(F.count(F.lit(1)).cast("long").alias("n_tests"))
    b = scored.select(
        F.col("p_value").alias("bp"), F.col("event_type").alias("bt")
    )
    ranked = (
        scored.join(
            F.broadcast(b),
            (F.col("bp") < F.col("p_value"))
            | ((F.col("bp") == F.col("p_value")) & (F.col("bt") <= F.col("event_type"))),
        )
        .groupBy("event_type", "n1", "n2", "z", "p_value")
        .agg(F.count(F.lit(1)).cast("long").alias("p_rank"))
        .persist(CKPT_LEVEL)
    )
    cutoff = ranked.crossJoin(F.broadcast(tot)).agg(
        F.coalesce(
            F.max(
                F.when(
                    F.expr(f"p_value * n_tests <= p_rank * {_BH_ALPHA}"), F.col("p_rank")
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("max_rank")
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(cutoff))
        .selectExpr(
            "event_type",
            "n1",
            "n2",
            "z",
            "p_value",
            "p_rank",
            f"round(p_rank * {_BH_ALPHA} / n_tests, 6) AS bh_threshold",
            "CAST(p_rank <= max_rank AS BOOLEAN) AS rejected",
        )
        .orderBy("p_rank")
    )


# --------------------------------------------------------------------------
# CUPED variance-reduced A/B readout (pre-period covariate adjustment)
# --------------------------------------------------------------------------

# Global moments (exact) -> theta = cov(X,Y)/var(X), all inlined as one
# fixed IEEE expression in BOTH engines. X = pre-period user value,
# Y = post-period user value, arms from the md5 user split (A/A here).
_CUPED_VARX = "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)"
_CUPED_COV = "(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)"
_CUPED_VARY = "(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)"
_CUPED_THETA = f"({_CUPED_COV} / {_CUPED_VARX})"

_CUPED_ORACLE = f"""
WITH bounds AS (
  SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS mid FROM events
),
per_user AS (
  SELECT user_id,
         CAST((strpos('0123456789abcdef',
                      substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) % 2 AS BIGINT)
           AS arm,
         CAST(sum(CASE WHEN epoch_us(e.ts) < b.mid
                       THEN CAST(round(e.value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
         CAST(sum(CASE WHEN epoch_us(e.ts) >= b.mid
                       THEN CAST(round(e.value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
  FROM events e, bounds b
  GROUP BY user_id
),
m AS (
  SELECT
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(sum(x) AS BIGINT) AS sx,
    CAST(sum(y) AS BIGINT) AS sy,
    CAST(sum(CAST(x AS HUGEINT) * x) AS BIGINT) AS sxx,
    CAST(sum(CAST(y AS HUGEINT) * y) AS BIGINT) AS syy,
    CAST(sum(CAST(x AS HUGEINT) * y) AS BIGINT) AS sxy,
    CAST(sum(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT) AS sx0,
    CAST(sum(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT) AS sx1,
    CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS sy0,
    CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS sy1
  FROM per_user
)
SELECT n, n0, n1,
  round({_CUPED_THETA}, 6) AS theta,
  round({_CUPED_COV} * {_CUPED_COV} / ({_CUPED_VARX} * {_CUPED_VARY}), 6) AS rho_sq,
  round((CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0) / 100.0, 4) AS diff_raw,
  round(((CAST(sy1 AS DOUBLE) / n1 - {_CUPED_THETA} * (CAST(sx1 AS DOUBLE) / n1))
       - (CAST(sy0 AS DOUBLE) / n0 - {_CUPED_THETA} * (CAST(sx0 AS DOUBLE) / n0))) / 100.0, 4)
    AS diff_cuped
FROM m
"""


@register(
    "events_ab_test_cuped",
    _CUPED_ORACLE,
    doc="CUPED variance-reduced A/B difference (pre-period covariate adjustment)",
)
def events_ab_test_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Deng et al., WSDM'13) — the industry-standard variance
    reduction for online experiments: adjust each user's post-period
    metric by theta times their PRE-period metric (theta = cov/var from
    the pooled pre/post moments), shrinking metric variance by rho² and
    cutting experiment runtimes proportionally. Reported: theta, rho²
    (the variance-reduction factor), and the raw vs CUPED-adjusted
    between-arm differences over the md5 A/A split — the adjusted diff
    should sit nearer 0 than the raw one on average.

    Exactness: per-user pre/post sums are exact integer cents off ONE
    user-grain aggregate (time midpoint = exact integer-microsecond
    mean); the five pooled moments and four per-arm sums ride
    HUGEINT/DECIMAL; theta, rho², and both diffs are single fixed IEEE
    expressions over them.

    Scale: one scan -> user-grain conditional aggregate -> one
    12-number moment row. Nothing else."""
    events = load(spark, sf_dir, "events")
    bounds = events.agg(
        F.expr("(unix_micros(min(ts)) + unix_micros(max(ts))) div 2").alias("mid")
    )
    per_user = (
        events.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.unix_micros("ts") < F.col("mid"),
                    F.round(F.col("value") * 100).cast("long"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("x"),
            F.sum(
                F.when(
                    F.unix_micros("ts") >= F.col("mid"),
                    F.round(F.col("value") * 100).cast("long"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("y"),
        )
        .select(
            (
                F.expr(
                    "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 1), 16, 10) AS BIGINT)"
                )
                % 2
            ).alias("arm"),
            "x",
            "y",
        )
    )
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    m = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(xd * F.col("x")).cast("long").alias("sxx"),
        F.sum(yd * F.col("y")).cast("long").alias("syy"),
        F.sum(xd * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.when(F.col("arm") == 0, F.col("x")).otherwise(0)).cast("long").alias("sx0"),
        F.sum(F.when(F.col("arm") == 1, F.col("x")).otherwise(0)).cast("long").alias("sx1"),
        F.sum(F.when(F.col("arm") == 0, F.col("y")).otherwise(0)).cast("long").alias("sy0"),
        F.sum(F.when(F.col("arm") == 1, F.col("y")).otherwise(0)).cast("long").alias("sy1"),
    )
    return m.selectExpr(
        "n",
        "n0",
        "n1",
        f"round({_CUPED_THETA}, 6) AS theta",
        f"round({_CUPED_COV} * {_CUPED_COV} / ({_CUPED_VARX} * {_CUPED_VARY}), 6) AS rho_sq",
        "round((CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0) / 100.0, 4) AS diff_raw",
        f"round(((CAST(sy1 AS DOUBLE) / n1 - {_CUPED_THETA} * (CAST(sx1 AS DOUBLE) / n1))"
        f" - (CAST(sy0 AS DOUBLE) / n0 - {_CUPED_THETA} * (CAST(sx0 AS DOUBLE) / n0)))"
        " / 100.0, 4) AS diff_cuped",
    )


# --------------------------------------------------------------------------
# A/B power analysis: required sample size per arm, from observed baselines
# --------------------------------------------------------------------------

# z_{0.975} and z_{0.80}: the standard alpha=0.05 two-sided / 80%-power
# constants, fixed literals in BOTH engines (no inverse-normal builtin).
_PWR_ZA = "1.959964"
_PWR_ZB = "0.841621"
_PWR_MDE_REL = "0.10"  # detect a +10% relative lift

_POWER_ORACLE = f"""
WITH rates AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_with,
         CAST(sum(count(*)) OVER () AS BIGINT) AS n_events
  FROM events GROUP BY event_type
)
SELECT event_type, n_with, n_events,
  round(CAST(n_with AS DOUBLE) / n_events, 6) AS baseline_rate,
  CAST(ceil(
    pow({_PWR_ZA} * sqrt(2.0 * (CAST(n_with AS DOUBLE) / n_events)
                         * (1.0 + {_PWR_MDE_REL} / 2.0)
                         * (1.0 - (CAST(n_with AS DOUBLE) / n_events)
                                  * (1.0 + {_PWR_MDE_REL} / 2.0)))
        + {_PWR_ZB} * sqrt((CAST(n_with AS DOUBLE) / n_events)
                           * (1.0 - CAST(n_with AS DOUBLE) / n_events)
                         + (CAST(n_with AS DOUBLE) / n_events) * (1.0 + {_PWR_MDE_REL})
                           * (1.0 - (CAST(n_with AS DOUBLE) / n_events)
                                    * (1.0 + {_PWR_MDE_REL}))), 2)
    / pow((CAST(n_with AS DOUBLE) / n_events) * {_PWR_MDE_REL}, 2)
  ) AS BIGINT) AS n_per_arm
FROM rates
ORDER BY event_type
"""


@register(
    "events_power_analysis",
    _POWER_ORACLE,
    doc="two-proportion power analysis: users/arm to detect +10% lift at 80% power",
)
def events_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power analysis from OBSERVED baselines: for each event
    type, its share of traffic and the samples-per-arm needed to detect
    a +10% relative lift at alpha = 0.05 (two-sided) / 80% power — the
    two-proportion sample-size formula
    n = (z_a*sqrt(2*pbar*(1-pbar)) + z_b*sqrt(p1 q1 + p2 q2))^2 / d^2
    with pbar the midpoint rate. The capacity question every experiment
    review starts with, sitting next to `events_ab_test` (the test),
    `events_ab_test_cuped` (variance reduction — divide this n by
    1 - rho^2), and `stats_multiple_testing_bh` (the correction).

    Exactness: reach counts are exact integers off one (user, type)
    grain pass; the z constants are fixed literals in both engines (SQL
    has no inverse normal); the whole formula is ONE IEEE expression
    whose ceil lands on an integer — deterministic cross-engine.

    Baselines are event SHARES (a multinomial mix, always interior —
    per-user reach saturates at 1.0 on the dense fixture, which makes
    p*(1+MDE) > 1 and the formula undefined; found by the DuckDB oracle
    refusing sqrt of a negative). n_events here counts samples = events.

    Scale: one types-sized aggregate; the share denominator comes from
    the same count table."""
    events = load(spark, sf_dir, "events")
    counts = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_with")
    )
    tot = counts.agg(F.sum("n_with").cast("long").alias("n_events"))
    rates = counts.crossJoin(F.broadcast(tot))
    return rates.selectExpr(
        "event_type",
        "n_with",
        "n_events",
        "round(CAST(n_with AS DOUBLE) / n_events, 6) AS baseline_rate",
        f"""CAST(ceil(
    pow({_PWR_ZA} * sqrt(2.0 * (CAST(n_with AS DOUBLE) / n_events)
                         * (1.0 + {_PWR_MDE_REL} / 2.0)
                         * (1.0 - (CAST(n_with AS DOUBLE) / n_events)
                                  * (1.0 + {_PWR_MDE_REL} / 2.0)))
        + {_PWR_ZB} * sqrt((CAST(n_with AS DOUBLE) / n_events)
                           * (1.0 - CAST(n_with AS DOUBLE) / n_events)
                         + (CAST(n_with AS DOUBLE) / n_events) * (1.0 + {_PWR_MDE_REL})
                           * (1.0 - (CAST(n_with AS DOUBLE) / n_events)
                                    * (1.0 + {_PWR_MDE_REL}))), 2)
    / pow((CAST(n_with AS DOUBLE) / n_events) * {_PWR_MDE_REL}, 2)
  ) AS BIGINT) AS n_per_arm""",
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Variance decomposition of document quality by source (ANOVA + ICC)
# --------------------------------------------------------------------------


def _icc_oracle() -> str:
    return f"""
WITH vals AS (
  SELECT source AS g, CAST(round(({_QUALITY_DUCK}) * 10000) AS BIGINT) AS v
  FROM documents
),
grp AS (
  SELECT g,
         CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum(v) AS BIGINT) AS s_g,
         CAST(sum(CAST(v AS HUGEINT) * v) AS BIGINT) AS q_g
  FROM vals GROUP BY g
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(n_g) AS BIGINT) AS n,
         CAST(sum(s_g) AS BIGINT) AS s,
         CAST(sum(q_g) AS BIGINT) AS q,
         CAST(sum(CAST(s_g AS HUGEINT) * s_g // n_g) AS BIGINT) AS ssbq,
         CAST(sum(CAST(n_g AS HUGEINT) * n_g) AS BIGINT) AS sn2
  FROM grp
)
SELECT k, n, s, q, ssbq,
  round(((CAST(ssbq AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (k - 1))
        / ((CAST(q AS DOUBLE) - ssbq) / (n - k)), 4) AS f_stat,
  round((CAST(ssbq AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
        / (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n), 6) AS eta_sq,
  round((((CAST(ssbq AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (k - 1))
         - ((CAST(q AS DOUBLE) - ssbq) / (n - k)))
        / (((CAST(ssbq AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (k - 1))
           + (((CAST(n AS DOUBLE) - CAST(sn2 AS DOUBLE) / n) / (k - 1)) - 1.0)
             * ((CAST(q AS DOUBLE) - ssbq) / (n - k))), 6) AS icc1
FROM m
"""


@register(
    "quality_variance_icc",
    _icc_oracle(),
    doc="variance decomposition of doc quality by source: ANOVA F, eta^2, ICC(1)",
)
def quality_variance_icc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much of document quality is a SOURCE property vs per-document
    noise: one-way ANOVA of the heuristic quality score by source plus
    the intraclass correlation ICC(1) = (MSB - MSW)/(MSB + (k0 - 1) MSW)
    with the unequal-group-size k0 = (N - sum n_g^2/N)/(k - 1). ICC is
    the sampling-design number: high ICC means curation should act on
    SOURCES (dropping/reweighting whole feeds), low ICC means per-doc
    filtering is the only lever — the quantitative justification for
    `corpus_mix_budget` vs `quality_quantile_filter_by_lang`.

    Exactness: the `stats_anova_oneway` moment recipe on the quantized
    quality score (q_int <= 1e4, so s_g^2 div n_g <= 1e8*n_g and the
    ssbq sum stays in int64 past 1e10 documents — bound documented);
    sum n_g^2 rides HUGEINT; F, eta^2, ICC are single IEEE expressions.

    Scale: one data-scale groupBy(source); everything after is
    source-dictionary-sized."""
    docs = load(spark, sf_dir, "documents")
    _, _, _, quality = _quality_parts()
    vals = docs.select(
        F.col("source").alias("g"), F.round(quality * 10000).cast("long").alias("v")
    )
    grp = vals.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("v").cast("long").alias("s_g"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v")).cast("long").alias("q_g"),
    )
    m = grp.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("q_g").cast("long").alias("q"),
        F.sum(F.expr("CAST(s_g AS DECIMAL(38,0)) * s_g div n_g")).cast("long").alias("ssbq"),
        F.sum(F.col("n_g").cast("decimal(38,0)") * F.col("n_g")).cast("long").alias("sn2"),
    )
    return m.selectExpr(
        "k",
        "n",
        "s",
        "q",
        "ssbq",
        "round(((CAST(ssbq AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (k - 1))"
        " / ((CAST(q AS DOUBLE) - ssbq) / (n - k)), 4) AS f_stat",
        "round((CAST(ssbq AS DOUBLE) - CAST(s AS DOUBLE) * s / n)"
        " / (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n), 6) AS eta_sq",
        "round((((CAST(ssbq AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (k - 1))"
        " - ((CAST(q AS DOUBLE) - ssbq) / (n - k)))"
        " / (((CAST(ssbq AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (k - 1))"
        " + (((CAST(n AS DOUBLE) - CAST(sn2 AS DOUBLE) / n) / (k - 1)) - 1.0)"
        " * ((CAST(q AS DOUBLE) - ssbq) / (n - k))), 6) AS icc1",
    )


# --------------------------------------------------------------------------
# Dunn's post-hoc: which type pairs differ, after Kruskal-Wallis rejects
# --------------------------------------------------------------------------

# Mean-rank difference over the pooled tie-corrected rank variance.
# R̄_g = r2_g/(2·n_g); σ² = N(N+1)/12 − T/(12(N−1)); one fixed IEEE
# expression over exact integers (r2_g, n_g, n, tie_t) in BOTH engines.
_DUNN_Z = (
    "((CAST(r2_a AS DOUBLE) / (2.0 * n_a) - CAST(r2_b AS DOUBLE) / (2.0 * n_b))"
    " / sqrt((CAST(n AS DOUBLE) * (n + 1) / 12.0"
    "         - CAST(tie_t AS DOUBLE) / (12.0 * (n - 1)))"
    "        * (1.0 / n_a + 1.0 / n_b)))"
)
_DUNN_P = _p_two_sided(f"abs({_DUNN_Z}) / sqrt(2.0)")

_DUNN_ORACLE = f"""
WITH {_KW_RANK_CTES},
pairs AS (
  SELECT a.g AS g_a, b.g AS g_b,
         a.n_g AS n_a, b.n_g AS n_b,
         a.r2_g AS r2_a, b.r2_g AS r2_b
  FROM per_g a JOIN per_g b ON a.g < b.g
),
scored AS (
  SELECT g_a, g_b, n_a, n_b,
         round({_DUNN_Z}, 6) AS z,
         {_DUNN_P} AS p_value
  FROM pairs, nn, ties
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tests FROM scored),
ranked_p AS (
  SELECT a.g_a, a.g_b, a.n_a, a.n_b, a.z, a.p_value,
         CAST(count(*) AS BIGINT) AS p_rank
  FROM scored a JOIN scored b
    ON b.p_value < a.p_value
    OR (b.p_value = a.p_value AND (b.g_a || '|' || b.g_b) <= (a.g_a || '|' || a.g_b))
  GROUP BY a.g_a, a.g_b, a.n_a, a.n_b, a.z, a.p_value
),
cutoff AS (
  SELECT coalesce(max(CASE WHEN p_value * n_tests <= p_rank * {_BH_ALPHA}
                           THEN p_rank END), 0) AS max_rank
  FROM ranked_p, tot
)
SELECT r.g_a, r.g_b, r.n_a, r.n_b, r.z, r.p_value, r.p_rank,
       CAST(r.p_rank <= c.max_rank AS BOOLEAN) AS rejected
FROM ranked_p r, tot t, cutoff c
ORDER BY r.g_a, r.g_b
"""


@register(
    "stats_dunn_posthoc",
    _DUNN_ORACLE,
    doc="Dunn's post-hoc pairwise z after Kruskal-Wallis, BH step-up at α=0.05",
)
def stats_dunn_posthoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHICH pairs differ, once `stats_kruskal_wallis` says SOME types
    do: Dunn's tie-corrected pairwise z on the pooled value ranks, with
    Benjamini-Hochberg FDR over the k(k−1)/2 comparisons — the standard
    follow-up every k-sample readout needs before acting on a specific
    pair.

    Exactness: rides the SAME per-group 2×rank-sum frames as KW
    (`_kw_rank_frames` / `_KW_RANK_CTES` — exact integers under ties);
    z is one fixed IEEE expression; the p-value is the shared
    Abramowitz-Stegun polynomial rounded at 6 dp; BH ranks come from a
    pair-grid self-join with a deterministic tie-break, and the step-up
    compare is cross-multiplied (`stats_multiple_testing_bh`'s
    discipline).

    Scale: one data-scale groupBy to the (type × cents) dictionary;
    pairs, ranks, and the step-up all live on the k²-bounded grid."""
    per_g, nn, ties = _kw_rank_frames(spark, sf_dir)
    a = per_g.select(
        F.col("g").alias("g_a"),
        F.col("n_g").alias("n_a"),
        F.col("r2_g").alias("r2_a"),
    )
    b = per_g.select(
        F.col("g").alias("g_b"),
        F.col("n_g").alias("n_b"),
        F.col("r2_g").alias("r2_b"),
    )
    scored = (
        a.join(F.broadcast(b), F.col("g_a") < F.col("g_b"))
        .crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(ties))
        .selectExpr(
            "g_a",
            "g_b",
            "n_a",
            "n_b",
            f"round({_DUNN_Z}, 6) AS z",
            f"{_DUNN_P} AS p_value",
        )
        .persist(CKPT_LEVEL)
    )
    tot = scored.agg(F.count(F.lit(1)).cast("long").alias("n_tests"))
    rhs = scored.select(
        F.col("p_value").alias("bp"),
        F.concat_ws("|", "g_a", "g_b").alias("bkey"),
    )
    ranked_p = (
        scored.withColumn("akey", F.concat_ws("|", "g_a", "g_b"))
        .join(
            F.broadcast(rhs),
            (F.col("bp") < F.col("p_value"))
            | ((F.col("bp") == F.col("p_value")) & (F.col("bkey") <= F.col("akey"))),
        )
        .groupBy("g_a", "g_b", "n_a", "n_b", "z", "p_value")
        .agg(F.count(F.lit(1)).cast("long").alias("p_rank"))
    )
    cutoff = ranked_p.crossJoin(F.broadcast(tot)).agg(
        F.coalesce(
            F.max(
                F.when(
                    F.expr(f"p_value * n_tests <= p_rank * {_BH_ALPHA}"), F.col("p_rank")
                )
            ),
            F.lit(0),
        ).alias("max_rank")
    )
    return (
        ranked_p.crossJoin(F.broadcast(cutoff))
        .selectExpr(
            "g_a",
            "g_b",
            "n_a",
            "n_b",
            "z",
            "p_value",
            "p_rank",
            "CAST(p_rank <= max_rank AS BOOLEAN) AS rejected",
        )
        .orderBy("g_a", "g_b")
    )


# --------------------------------------------------------------------------
# Friedman test: do event types rank consistently across days?
# --------------------------------------------------------------------------

_FRIEDMAN_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type AS g, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
days AS (SELECT DISTINCT day FROM daily),
types AS (SELECT DISTINCT g FROM daily),
grid AS (
  SELECT d.day, t.g, coalesce(x.c, 0) AS c
  FROM days d CROSS JOIN types t
  LEFT JOIN daily x ON x.day = d.day AND x.g = t.g
),
cells AS (SELECT day, c, CAST(count(*) AS BIGINT) AS n_v FROM grid GROUP BY day, c),
rankedv AS (
  SELECT day, c, n_v,
         CAST(sum(n_v) OVER (PARTITION BY day ORDER BY c
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM cells
),
r2 AS (
  SELECT g2.day, g2.g,
         CAST(2 * (rv.cum - rv.n_v) + rv.n_v + 1 AS BIGINT) AS r2
  FROM grid g2 JOIN rankedv rv ON rv.day = g2.day AND rv.c = g2.c
),
per_g AS (SELECT g, CAST(sum(r2) AS BIGINT) AS r2_g FROM r2 GROUP BY g),
consts AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM types) AS k,
         (SELECT CAST(count(*) AS BIGINT) FROM days) AS b
),
a2 AS (SELECT CAST(sum(CAST(r2 AS HUGEINT) * r2) AS BIGINT) AS sum_r2sq FROM r2),
num AS (
  SELECT CAST(sum(CAST(r2_g - b * (k + 1) AS HUGEINT) * (r2_g - b * (k + 1))) AS BIGINT) AS s2
  FROM per_g, consts
)
SELECT consts.k, consts.b, num.s2,
       CAST(a2.sum_r2sq - consts.b * consts.k * (consts.k + 1) * (consts.k + 1) AS BIGINT) AS d2,
       (consts.k - 1) * CAST(num.s2 AS DOUBLE)
         / (a2.sum_r2sq - consts.b * consts.k * (consts.k + 1) * (consts.k + 1)) AS chi2_f,
       ((consts.k - 1) * CAST(num.s2 AS DOUBLE)
         / (a2.sum_r2sq - consts.b * consts.k * (consts.k + 1) * (consts.k + 1)))
         / (CAST(consts.b AS DOUBLE) * (consts.k - 1)) AS kendall_w
FROM consts, a2, num
"""


@register(
    "stats_friedman_test",
    _FRIEDMAN_ORACLE,
    doc="Friedman test (days × event types, within-day rank of daily counts) + Kendall's W",
)
def stats_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do the event types keep the same popularity ORDER day after day?
    Friedman's rank test over the complete days×types grid (blocks =
    days, treatments = types, within-day average ranks of daily counts,
    zero-filled for absent combinations) plus Kendall's W concordance —
    the repeated-measures sibling of `stats_kruskal_wallis` that a
    monitoring pipeline runs before trusting any one day's type ranking.

    Exactness: with 2×ranks (integral under ties) BOTH the numerator
    Σ_j (R2_j − b(k+1))² and the tie-corrected denominator
    Σ r2² − b·k·(k+1)² are exact integers — the usual quarters cancel —
    so χ²_F = (k−1)·s2/d2 and W = χ²_F/(b(k−1)) are single IEEE
    divisions; s2/d2 ship as integer witnesses.

    Scale: one data-scale groupBy to the days×types grid (calendar ×
    type-vocabulary bounded); within-day ranks run on ≤k cells per day;
    everything downstream is grid-sized."""
    from pyspark.sql.window import Window

    events = load(spark, sf_dir, "events")
    daily = events.groupBy(
        F.col("ts").cast("date").alias("day"),
        F.col("event_type").alias("g"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    daily = daily.persist(CKPT_LEVEL)  # feeds days, types, and the grid join
    days = daily.select("day").distinct()
    types = daily.select("g").distinct()
    grid = (
        days.crossJoin(F.broadcast(types))
        .join(daily, ["day", "g"], "left")
        .select("day", "g", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"))
    )
    cells = grid.groupBy("day", "c").agg(F.count(F.lit(1)).cast("long").alias("n_v"))
    # ≤k cells per day: the per-day running rank is a bounded frame.
    w = Window.partitionBy("day").orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    rankedv = cells.withColumn("cum", F.sum("n_v").over(w).cast("long"))
    r2 = grid.join(rankedv, ["day", "c"]).select(
        "day",
        "g",
        (2 * (F.col("cum") - F.col("n_v")) + F.col("n_v") + 1).cast("long").alias("r2"),
    )
    r2 = r2.persist(CKPT_LEVEL)  # feeds per_g AND the Σr2² fold
    per_g = r2.groupBy("g").agg(F.sum("r2").cast("long").alias("r2_g"))
    consts = days.agg(F.count(F.lit(1)).cast("long").alias("b")).crossJoin(
        types.agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    a2 = r2.agg(
        F.sum(F.col("r2").cast("decimal(38,0)") * F.col("r2")).cast("long").alias("sum_r2sq")
    )
    num = (
        per_g.crossJoin(F.broadcast(consts))
        .agg(
            F.sum(
                F.expr(
                    "CAST(r2_g - b * (k + 1) AS DECIMAL(38,0)) * (r2_g - b * (k + 1))"
                )
            )
            .cast("long")
            .alias("s2")
        )
    )
    return (
        consts.crossJoin(F.broadcast(a2))
        .crossJoin(F.broadcast(num))
        .selectExpr(
            "k",
            "b",
            "s2",
            "CAST(sum_r2sq - b * k * (k + 1) * (k + 1) AS BIGINT) AS d2",
            "(k - 1) * CAST(s2 AS DOUBLE)"
            " / (sum_r2sq - b * k * (k + 1) * (k + 1)) AS chi2_f",
            "((k - 1) * CAST(s2 AS DOUBLE)"
            " / (sum_r2sq - b * k * (k + 1) * (k + 1)))"
            " / (CAST(b AS DOUBLE) * (k - 1)) AS kendall_w",
        )
    )


# --------------------------------------------------------------------------
# Partial correlation: tokens vs quality, controlling for doc length
# --------------------------------------------------------------------------

def _pearson_expr(sxy: str, sx: str, sy: str, qx: str, qy: str) -> str:
    """Pearson r as ONE IEEE expression over exact integer moments
    (n, Σx, Σy, Σxy, Σx², Σy²), rounded at 6 dp. Products are formed in
    DOUBLE (the integer moments are the exact part; n·Σx² would leave
    int64 at corpus scale)."""
    return (
        f"round((CAST(n AS DOUBLE) * {sxy} - CAST({sx} AS DOUBLE) * {sy})"
        f" / sqrt((CAST(n AS DOUBLE) * {qx} - CAST({sx} AS DOUBLE) * {sx})"
        f"      * (CAST(n AS DOUBLE) * {qy} - CAST({sy} AS DOUBLE) * {sy})), 6)"
    )


_PCORR_RXY = _pearson_expr("s_xy", "s_x", "s_y", "q_x", "q_y")
_PCORR_RXZ = _pearson_expr("s_xz", "s_x", "s_z", "q_x", "q_z")
_PCORR_RYZ = _pearson_expr("s_yz", "s_y", "s_z", "q_y", "q_z")
# First-order partial from the three (already 6-dp-rounded) marginals —
# deterministic cross-engine because every input is identical.
_PCORR_PARTIAL = (
    f"round(({_PCORR_RXY} - {_PCORR_RXZ} * {_PCORR_RYZ})"
    f" / sqrt((1.0 - {_PCORR_RXZ} * {_PCORR_RXZ})"
    f"      * (1.0 - {_PCORR_RYZ} * {_PCORR_RYZ})), 6)"
)


def _pcorr_oracle() -> str:
    return rf"""
WITH feat AS (
  SELECT {_WORD_COUNT_DUCK} AS x,
         CAST(round(({_QUALITY_DUCK}) * 10000) AS BIGINT) AS y,
         n_chars AS z
  FROM documents
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS s_x,
         CAST(sum(y) AS BIGINT) AS s_y,
         CAST(sum(z) AS BIGINT) AS s_z,
         CAST(sum(CAST(x AS HUGEINT) * x) AS BIGINT) AS q_x,
         CAST(sum(CAST(y AS HUGEINT) * y) AS BIGINT) AS q_y,
         CAST(sum(CAST(z AS HUGEINT) * z) AS BIGINT) AS q_z,
         CAST(sum(CAST(x AS HUGEINT) * y) AS BIGINT) AS s_xy,
         CAST(sum(CAST(x AS HUGEINT) * z) AS BIGINT) AS s_xz,
         CAST(sum(CAST(y AS HUGEINT) * z) AS BIGINT) AS s_yz
  FROM feat
)
SELECT n,
       {_PCORR_RXY} AS r_xy,
       {_PCORR_RXZ} AS r_xz,
       {_PCORR_RYZ} AS r_yz,
       {_PCORR_PARTIAL} AS r_xy_given_z
FROM m
"""


@register(
    "stats_partial_correlation",
    _pcorr_oracle(),
    doc="partial correlation of token count vs quality score controlling for doc length",
)
def stats_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is quality correlated with token count BEYOND what raw length
    explains? First-order partial correlation r(tokens, quality | chars)
    from the three Pearson marginals — the confounder check a curation
    team runs before treating a quality-length correlation as signal
    (long docs score differently for reasons that are pure length).

    Exactness: the 10 moment sums are exact integers (HUGEINT /
    DECIMAL(38,0) folds); each marginal r is one shared IEEE expression
    rounded at 6 dp, and the partial composes the ROUNDED marginals, so
    both engines see bit-identical inputs at every stage.

    Scale: a single map-side moment fold to one 10-column row; nothing
    shuffles but the partial aggregates."""
    docs = load(spark, sf_dir, "documents")
    _, _, _, quality = _quality_parts()
    feat = docs.select(
        word_count().alias("x"),
        F.round(quality * 10000).cast("long").alias("y"),
        F.col("n_chars").alias("z"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = feat.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s_x"),
        F.sum("y").cast("long").alias("s_y"),
        F.sum("z").cast("long").alias("s_z"),
        F.sum(dec("x") * F.col("x")).cast("long").alias("q_x"),
        F.sum(dec("y") * F.col("y")).cast("long").alias("q_y"),
        F.sum(dec("z") * F.col("z")).cast("long").alias("q_z"),
        F.sum(dec("x") * F.col("y")).cast("long").alias("s_xy"),
        F.sum(dec("x") * F.col("z")).cast("long").alias("s_xz"),
        F.sum(dec("y") * F.col("z")).cast("long").alias("s_yz"),
    )
    return m.selectExpr(
        "n",
        f"{_PCORR_RXY} AS r_xy",
        f"{_PCORR_RXZ} AS r_xz",
        f"{_PCORR_RYZ} AS r_yz",
        f"{_PCORR_PARTIAL} AS r_xy_given_z",
    )


# --------------------------------------------------------------------------
# Distribution-free median CI via order statistics (no resampling)
# --------------------------------------------------------------------------

_MCI_Z = "1.959964"  # two-sided 95% normal quantile, fixed literal text


def _median_ci_oracle() -> str:
    return f"""
WITH q AS (
  SELECT CAST(round(({_QUALITY_DUCK}) * 10000) AS BIGINT) AS v FROM documents
),
d AS (SELECT v, CAST(count(*) AS BIGINT) AS nv FROM q GROUP BY v),
r AS (
  SELECT v, nv,
         CAST(sum(nv) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM d
),
nn AS (SELECT CAST(sum(nv) AS BIGINT) AS n FROM d),
ranks AS (
  SELECT n,
         greatest(1, CAST(floor((n - {_MCI_Z} * sqrt(CAST(n AS DOUBLE))) / 2)
                          AS BIGINT)) AS lo_rank,
         least(n, CAST(ceil(1 + (n + {_MCI_Z} * sqrt(CAST(n AS DOUBLE))) / 2)
                       AS BIGINT)) AS hi_rank,
         (n + 1) // 2 AS med_rank
  FROM nn
)
SELECT ranks.n, ranks.lo_rank, ranks.med_rank, ranks.hi_rank,
       min(CASE WHEN r.cum >= ranks.lo_rank THEN r.v END)  AS ci_lo,
       min(CASE WHEN r.cum >= ranks.med_rank THEN r.v END) AS median_q,
       min(CASE WHEN r.cum >= ranks.hi_rank THEN r.v END)  AS ci_hi
FROM r, ranks
GROUP BY ranks.n, ranks.lo_rank, ranks.med_rank, ranks.hi_rank
"""


@register(
    "stats_median_ci_order",
    _median_ci_oracle(),
    doc="distribution-free 95% CI for the median quality score via order statistics",
)
def stats_median_ci_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A confidence interval for the median with NO distributional
    assumption and NO resampling: the binomial order-statistic bounds
    (ranks (n ± z√n)/2 — the classic sign-test inversion) select two
    actual data values that bracket the true median at 95%. The robust
    sibling of `orders_bootstrap_ci_poisson`: where the bootstrap
    resamples, this just reads two ranks — embarrassingly cheap at any
    scale, and the right uncertainty bar for a skewed quality
    distribution.

    Exactness: ranks come from exact integer arithmetic plus one sqrt
    (IEEE-exact) in identical expression text; each reported value is an
    ACTUAL data value selected by rank from the value dictionary (the
    discrete-percentile discipline — no interpolation).

    Scale: one data-scale groupBy to the quality-score dictionary; the
    running rank uses the range-partitioned machinery; the three rank
    probes are conditional aggregates over the dictionary."""
    docs = load(spark, sf_dir, "documents")
    _, _, _, quality = _quality_parts()
    d = (
        docs.select(F.round(quality * 10000).cast("long").alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("nv"))
    )
    r = grouped_running_sums(d, [], ["v"], [("nv", "cum")]).withColumnRenamed("cum_total", "n")
    return (
        r.selectExpr(
            "v",
            "cum",
            "n",
            f"greatest(1, CAST(floor((n - {_MCI_Z} * sqrt(CAST(n AS DOUBLE))) / 2)"
            " AS BIGINT)) AS lo_rank",
            f"least(n, CAST(ceil(1 + (n + {_MCI_Z} * sqrt(CAST(n AS DOUBLE))) / 2)"
            " AS BIGINT)) AS hi_rank",
            "(n + 1) DIV 2 AS med_rank",
        )
        .groupBy("n", "lo_rank", "med_rank", "hi_rank")
        .agg(
            F.min(F.when(F.col("cum") >= F.col("lo_rank"), F.col("v"))).alias("ci_lo"),
            F.min(F.when(F.col("cum") >= F.col("med_rank"), F.col("v"))).alias("median_q"),
            F.min(F.when(F.col("cum") >= F.col("hi_rank"), F.col("v"))).alias("ci_hi"),
        )
        .select("n", "lo_rank", "med_rank", "hi_rank", "ci_lo", "median_q", "ci_hi")
    )


# --------------------------------------------------------------------------
# Brown-Forsythe test (median-based Levene): variance homogeneity across types
# --------------------------------------------------------------------------

_BF_ORACLE = """
WITH vals AS (
  SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v FROM events
),
cells AS (
  SELECT g, v, CAST(count(*) AS BIGINT) AS n_gv FROM vals GROUP BY g, v
),
cum AS (
  SELECT g, v, n_gv,
         CAST(sum(n_gv) OVER (PARTITION BY g ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM cells
),
gn AS (SELECT g, CAST(sum(n_gv) AS BIGINT) AS n_g FROM cells GROUP BY g),
med AS (
  SELECT cum.g, min(CASE WHEN cum.cum >= (gn.n_g + 1) // 2 THEN cum.v END) AS m
  FROM cum JOIN gn ON gn.g = cum.g GROUP BY cum.g
),
z AS (
  SELECT cells.g, abs(cells.v - med.m) AS z, cells.n_gv
  FROM cells JOIN med ON med.g = cells.g
),
grp AS (
  SELECT g,
         CAST(sum(n_gv) AS BIGINT) AS n_g,
         CAST(sum(n_gv * z) AS BIGINT) AS s_g,
         CAST(sum(CAST(n_gv AS HUGEINT) * z * z) AS BIGINT) AS q_g
  FROM z GROUP BY g
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(n_g) AS BIGINT)  AS n,
         CAST(sum(s_g) AS BIGINT)  AS s,
         CAST(sum(q_g) AS BIGINT)  AS q,
         CAST(sum(CAST(s_g AS HUGEINT) * s_g // n_g) AS BIGINT) AS ssbq
  FROM grp
)
SELECT k, n, s, q, ssbq,
       round(((CAST(ssbq AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (k - 1))
         / ((CAST(q AS DOUBLE) - ssbq) / (n - k)), 6) AS f_stat
FROM m
"""


@register(
    "stats_levene_bf",
    _BF_ORACLE,
    doc="Brown-Forsythe (median-based Levene) variance-homogeneity F across event types",
)
def stats_levene_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Are the event-value VARIANCES equal across types? Brown-Forsythe:
    one-way ANOVA on |x − median_g| — the robust Levene variant, and the
    assumption check `stats_anova_oneway` itself rests on (a significant
    F here says the ANOVA's pooled-variance denominator is fiction and
    Welch corrections apply).

    Exactness: values quantize to integer cents; each group's LOWER
    median comes off the per-group value dictionary by integer rank
    (the `stats_median_ci_order` discipline — no interpolation), so the
    absolute deviations are exact integers; the ANOVA moments over them
    follow `stats_anova_oneway` exactly (Σ s_g²/n_g floor-quantized per
    group, HUGEINT/DECIMAL(38,0) intermediates); F is one shared IEEE
    expression rounded at 6 dp.

    Scale: ONE data-scale groupBy to the (type × cent-value) dictionary;
    medians, deviations, and moments all live on the dictionary —
    deviations reweight the EXISTING cells (z carries n_gv), so the
    corpus is never re-scanned."""
    events = load(spark, sf_dir, "events")
    cells = (
        events.select(
            F.col("event_type").alias("g"),
            F.round(F.col("value") * 100).cast("long").alias("v"),
        )
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("n_gv"))
        .persist(CKPT_LEVEL)  # feeds cum and the z fold
    )
    cum = grouped_running_sums(cells, ["g"], ["v"], [("n_gv", "cum")]).withColumnRenamed(
        "cum_total", "n_g"
    )
    med = (
        cum.groupBy("g")
        .agg(
            F.min(
                F.when(F.col("cum") >= F.expr("(n_g + 1) div 2"), F.col("v")).otherwise(None)
            ).alias("m")
        )
    )
    z = cells.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("v") - F.col("m")).alias("z"), "n_gv"
    )
    grp = z.groupBy("g").agg(
        F.sum("n_gv").cast("long").alias("n_g"),
        F.sum(F.col("n_gv") * F.col("z")).cast("long").alias("s_g"),
        F.sum(F.col("n_gv").cast("decimal(38,0)") * F.col("z") * F.col("z"))
        .cast("long")
        .alias("q_g"),
    )
    m = grp.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("q_g").cast("long").alias("q"),
        F.sum(F.expr("CAST(s_g AS DECIMAL(38,0)) * s_g div n_g")).cast("long").alias("ssbq"),
    )
    return m.selectExpr(
        "k",
        "n",
        "s",
        "q",
        "ssbq",
        "round(((CAST(ssbq AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (k - 1))"
        " / ((CAST(q AS DOUBLE) - ssbq) / (n - k)), 6) AS f_stat",
    )


# --------------------------------------------------------------------------
# McNemar's test: do two document filters disagree more than chance?
# --------------------------------------------------------------------------
#
# The paired-classifier question a curation pipeline actually asks before
# swapping filters: filter A = the Gopher rule battery (all six rules,
# text.py's shared definition), filter B = the composite quality score at
# a fixed cut. McNemar's χ² (with continuity correction) tests whether
# the DISCORDANT decisions (A keeps, B drops vs B keeps, A drops) are
# symmetric — the concordant documents carry no information about which
# filter is stricter, so the test isolates exactly the swap's effect.

_MCN_Q_CUT = 4300  # composite-quality keep threshold, 1e4-scaled int


def _mcnemar_oracle() -> str:
    return f"""
WITH {gopher_feat_rules_sql(f"CAST(floor(({_QUALITY_DUCK}) * 10000 + 0.5) AS BIGINT) AS q10k", "q10k")},
d AS (
  SELECT r_wc * r_mwl * r_sym * r_bullet * r_alpha * r_stop AS a,
         CASE WHEN q10k >= {_MCN_Q_CUT} THEN 1 ELSE 0 END AS b
  FROM rules
)
SELECT
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(a * b) AS BIGINT) AS both_keep,
  CAST(sum(a * (1 - b)) AS BIGINT) AS rules_only,
  CAST(sum((1 - a) * b) AS BIGINT) AS score_only,
  CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS both_drop,
  CAST((sum(a * b) + sum((1 - a) * (1 - b))) * 1000000 // count(*) AS BIGINT) AS agree_ppm,
  CASE WHEN sum(a * (1 - b)) + sum((1 - a) * b) = 0 THEN 0.0
       ELSE round(CAST((abs(sum(a * (1 - b)) - sum((1 - a) * b)) - 1)
                  * (abs(sum(a * (1 - b)) - sum((1 - a) * b)) - 1) AS DOUBLE)
             / (sum(a * (1 - b)) + sum((1 - a) * b)), 6) END AS mcnemar_chi2
FROM d
"""


@register(
    "stats_mcnemar_filters",
    _mcnemar_oracle(),
    doc="McNemar paired test: Gopher rule battery vs composite-quality cut on the same documents",
)
def stats_mcnemar_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test over the 2×2 paired-decision table of two document
    filters — A = the six-rule Gopher battery (text.py's shared
    ``gopher_rule_cols``), B = the composite quality score ≥ 0.43 (the
    shared ``text._quality_parts`` composite on its 1e4 integer grid). Output
    is the full contingency (both_keep / rules_only / score_only /
    both_drop), an exact agreement ppm, and the continuity-corrected
    χ² = (|b−c|−1)²/(b+c) — the numerator is a pure integer, so the
    statistic is ONE integer division in doubles, identical cross-engine.

    Scale: both predicates are row-local projections inside the one
    documents scan; the whole table reduces to a single 4-counter
    aggregate — the same plan at 100 TB."""
    docs = load(spark, sf_dir, "documents")
    rules = gopher_rule_cols()
    a = rules["r_wc"] * rules["r_mwl"] * rules["r_sym"] * rules["r_bullet"] * rules["r_alpha"] * rules["r_stop"]
    len_score, stop_ratio, punct_ratio, _ = _quality_parts()
    q10k = F.floor(
        (0.5 * len_score + 0.4 * stop_ratio + 0.1 * (1.0 - punct_ratio)) * 10000 + 0.5
    ).cast("long")
    d = docs.select(
        a.alias("a"), F.when(q10k >= _MCN_Q_CUT, 1).otherwise(0).alias("b")
    )
    return d.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("both_keep"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("long").alias("rules_only"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("long").alias("score_only"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("long").alias("both_drop"),
    ).selectExpr(
        "n_docs",
        "both_keep",
        "rules_only",
        "score_only",
        "both_drop",
        "CAST((both_keep + both_drop) * 1000000 div n_docs AS BIGINT) AS agree_ppm",
        "CASE WHEN rules_only + score_only = 0 THEN 0.0D"
        " ELSE round(CAST((abs(rules_only - score_only) - 1)"
        " * (abs(rules_only - score_only) - 1) AS DOUBLE)"
        " / (rules_only + score_only), 6) END AS mcnemar_chi2",
    )


# --------------------------------------------------------------------------
# Cochran's Q: are the six Gopher rules equally strict?
# --------------------------------------------------------------------------
#
# The k-treatment generalization of McNemar (k = the six rules, subjects
# = documents, outcome = pass/fail): a battery whose rules fail at wildly
# different rates is dominated by its strictest rule — Q localizes
# whether the battery is balanced before anyone tunes thresholds.
# Q = (k−1)·(k·ΣC_j² − T²) / (k·T − ΣR_i²) where C_j = per-rule pass
# count, R_i = per-document pass count, T = ΣC_j = ΣR_i — every moment
# is an exact integer, so the statistic is ONE integer division in
# doubles, identical cross-engine.


def _cochran_oracle() -> str:
    rules = ["r_wc", "r_mwl", "r_sym", "r_bullet", "r_alpha", "r_stop"]
    k = len(rules)
    cj = ", ".join(f"CAST(sum({r}) AS BIGINT) AS c_{r[2:]}" for r in rules)
    sum_cj_sq = " + ".join(f"CAST(sum({r}) AS HUGEINT) * sum({r})" for r in rules)
    ri = " + ".join(rules)
    return f"""
WITH {gopher_feat_rules_sql("doc_id")},
m AS (
  SELECT
    CAST(count(*) AS BIGINT) AS n_docs,
    {cj},
    CAST(sum({ri}) AS BIGINT) AS t_total,
    CAST({sum_cj_sq} AS BIGINT) AS sum_cj_sq,
    CAST(sum(CAST({ri} AS HUGEINT) * ({ri})) AS BIGINT) AS sum_ri_sq
  FROM rules
)
SELECT n_docs, c_wc, c_mwl, c_sym, c_bullet, c_alpha, c_stop,
       t_total, sum_cj_sq, sum_ri_sq,
       CASE WHEN {k} * t_total - sum_ri_sq = 0 THEN 0.0
            ELSE round(CAST({k - 1} AS DOUBLE)
                       * ({k} * sum_cj_sq - CAST(t_total AS HUGEINT) * t_total)
                       / ({k} * t_total - sum_ri_sq), 6) END AS cochran_q
FROM m
"""


@register(
    "stats_cochran_q",
    _cochran_oracle(),
    doc="Cochran's Q over the six Gopher rules: is the battery balanced? (exact integer moments)",
)
def stats_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q test across the six Gopher pass/fail rules (subjects =
    documents): per-rule pass counts C_j, per-document pass counts R_i,
    and Q = (k−1)(kΣC_j² − T²)/(kT − ΣR_i²). The denominator is zero only
    when every document passes all-or-none — reported as 0.0 rather than
    a division error (same guard both engines).

    Scale: the rule predicates are row-local projections in ONE documents
    scan; everything reduces to a single moment row (ΣR_i² rides
    DECIMAL(38) partials). Same plan at 100 TB."""
    rules = gopher_rule_cols()
    names = list(rules)
    k = len(names)
    docs = load(spark, sf_dir, "documents")
    per_doc = docs.select(*[c.cast("long").alias(n) for n, c in rules.items()])
    ri = sum((F.col(n) for n in names[1:]), F.col(names[0]))
    m = per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        *[F.sum(n).cast("long").alias(f"c_{n[2:]}") for n in names],
        F.sum(ri).cast("long").alias("t_total"),
        F.sum(ri.cast("decimal(38,0)") * ri).cast("long").alias("sum_ri_sq"),
    ).withColumn(
        "sum_cj_sq",
        sum(
            (F.col(f"c_{n[2:]}").cast("decimal(38,0)") * F.col(f"c_{n[2:]}") for n in names[1:]),
            F.col(f"c_{names[0][2:]}").cast("decimal(38,0)") * F.col(f"c_{names[0][2:]}"),
        ).cast("long"),
    )
    return m.selectExpr(
        "n_docs", "c_wc", "c_mwl", "c_sym", "c_bullet", "c_alpha", "c_stop",
        "t_total", "sum_cj_sq", "sum_ri_sq",
        f"CASE WHEN {k} * t_total - sum_ri_sq = 0 THEN 0.0D"
        f" ELSE round(CAST({k - 1} AS DOUBLE)"
        f" * ({k} * sum_cj_sq - CAST(t_total AS DECIMAL(38,0)) * t_total)"
        f" / ({k} * t_total - sum_ri_sq), 6) END AS cochran_q",
    )
