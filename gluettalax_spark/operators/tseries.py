"""Time-series diagnostics over the order-date calendar grid.

Complements the existing forecasting/seasonality family
(`orders_forecast_holt`, `orders_seasonality_weekday`,
`events_periodogram_dft`, `events_changepoint_cusum`) with the two
classical checks a pipeline runs BEFORE trusting any of them:
Ljung-Box (is there autocorrelation at all — if not, forecasting is
noise-fitting) and the Theil-Sen robust trend (the median-of-slopes
estimator that ignores outlier months OLS would chase).

Scale shape shared by both: ONE data-scale groupBy collapses the fact
table onto the calendar grid (days or months between min and max order
date — bounded by the calendar, not the data; ~2,500 days / ~80 months
at every SF), and everything downstream runs on that bounded grid.
Deviations/products accumulate exactly in DECIMAL(38,0) (DuckDB
HUGEINT); every reported statistic is ONE fixed IEEE expression over
exact sums, rounded for display — the repo-wide cross-engine recipe.
"""

from __future__ import annotations

from gluettalax_spark.memory import CKPT_LEVEL

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gluettalax_spark.registry import register
from gluettalax_spark.tables import load

# --------------------------------------------------------------------------
# Ljung-Box autocorrelation test on daily order counts
# --------------------------------------------------------------------------

_LB_LAGS = 7

# acf_k inlined identically in both engines (one IEEE division each).
_LB_ACF = {k: f"(CAST(num_{k} AS DOUBLE) / CAST(den AS DOUBLE))" for k in range(1, _LB_LAGS + 1)}

_LB_Q = (
    "round(CAST(n_days AS DOUBLE) * (n_days + 2) * ("
    + " + ".join(f"{_LB_ACF[k]} * {_LB_ACF[k]} / (n_days - {k})" for k in range(1, _LB_LAGS + 1))
    + "), 4) AS q_stat"
)

_LB_FINAL_COLS = (
    ["n_days", "total_orders"]
    + [f"round({_LB_ACF[k]}, 6) AS acf_{k}" for k in range(1, _LB_LAGS + 1)]
    + [_LB_Q]
)

_LJUNG_BOX_ORACLE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
  FROM orders GROUP BY 1
),
bounds AS (
  SELECT min(day) AS d0, CAST(date_diff('day', min(day), max(day)) AS BIGINT) AS span
  FROM daily
),
grid AS (
  SELECT t, coalesce(daily.x, 0) AS x
  FROM (SELECT unnest(range(0, span + 1)) AS t, d0 FROM bounds) g
  LEFT JOIN daily ON daily.day = g.d0 + g.t * INTERVAL 1 DAY
),
tot AS (
  SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(x) AS HUGEINT) AS s FROM grid
),
dev AS (
  SELECT t, CAST(tot.n * x - tot.s AS HUGEINT) AS d FROM grid, tot
),
den_t AS (
  SELECT CAST(sum(d * d) AS HUGEINT) AS den FROM dev
),
nums AS (
  SELECT k, CAST(sum(a.d * b.d) AS HUGEINT) AS num
  FROM (SELECT unnest(range(1, {_LB_LAGS} + 1)) AS k) lags
  JOIN dev a ON true
  JOIN dev b ON b.t = a.t + k
  GROUP BY k
),
piv AS (
  SELECT
    {", ".join(f"max(CASE WHEN k = {k} THEN num END) AS num_{k}" for k in range(1, _LB_LAGS + 1))}
  FROM nums
),
m AS (
  SELECT CAST(tot.n AS BIGINT) AS n_days, CAST(tot.s AS BIGINT) AS total_orders,
         den_t.den AS den, piv.*
  FROM tot, den_t, piv
)
SELECT {", ".join(_LB_FINAL_COLS)}
FROM m
"""


@register(
    "stats_ljung_box",
    _LJUNG_BOX_ORACLE,
    doc=f"Ljung-Box autocorrelation test (lags 1..{_LB_LAGS}) on daily order counts",
)
def stats_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test: is the daily order-count series
    autocorrelated at lags 1..7? Q = n(n+2)·Σ_k r_k²/(n−k) — the
    standard pre-flight for `orders_forecast_holt` (no autocorrelation ⇒
    nothing to forecast) and the residual-whiteness check after it.
    TPC-H order dates are near-uniform, so the unit test pins the
    weekday-free calibration: |acf_k| small, Q moderate.

    Exactness: the grid is DENSE (idle days count 0 — the sparse form
    biases every lag product); deviations use the n²-scaling trick
    d_t = n·x_t − S so no float mean ever forms, and all lag products
    accumulate in DECIMAL(38,0)/HUGEINT. Each acf_k is one IEEE
    division; Q is one fixed expression with the k-terms in lag order.

    Scale: one data-scale groupBy(day) to the calendar grid (~2,500
    rows at ANY corpus size); the 7 lag joins run grid×7 — bounded,
    broadcast-planned. Magnitude bound documented: |d_t| ≤ n·max_day +
    S ≈ 10⁹ at SF100, d² ≈ 10¹⁸, Σ ≈ 10²¹·lags ≪ 10³⁸."""
    orders = load(spark, sf_dir, "orders")
    daily = (
        orders.select(F.col("o_orderdate").cast("date").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
        .persist(CKPT_LEVEL)
    )
    bounds = daily.agg(
        F.min("day").alias("d0"),
        F.datediff(F.max("day"), F.min("day")).cast("long").alias("span"),
    )
    grid = (
        bounds.select("d0", F.explode(F.sequence(F.lit(0).cast("long"), F.col("span"))).alias("t"))
        .join(
            daily.withColumnRenamed("day", "dday"),
            F.expr("dday = date_add(d0, CAST(t AS INT))"),
            "left",
        )
        .select("t", F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x"))
        .persist(CKPT_LEVEL)
    )
    tot = grid.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("s"),
    )
    dev = grid.crossJoin(F.broadcast(tot)).select(
        "t", (F.col("n") * F.col("x") - F.col("s")).cast("decimal(38,0)").alias("d")
    ).persist(CKPT_LEVEL)
    den_df = dev.agg(F.sum(F.col("d") * F.col("d")).cast("decimal(38,0)").alias("den"))
    lags = spark.range(1, _LB_LAGS + 1).select(F.col("id").alias("k"))
    b = dev.select(F.col("t").alias("bt"), F.col("d").alias("bd"))
    nums = (
        dev.crossJoin(F.broadcast(lags))
        .join(F.broadcast(b), F.expr("bt = t + k"))
        .groupBy("k")
        .agg(F.sum(F.col("d") * F.col("bd")).cast("decimal(38,0)").alias("num"))
    )
    piv = nums.agg(
        *[
            F.max(F.when(F.col("k") == k, F.col("num"))).alias(f"num_{k}")
            for k in range(1, _LB_LAGS + 1)
        ]
    )
    tot_out = grid.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("total_orders"),
    )
    m = tot_out.crossJoin(F.broadcast(den_df)).crossJoin(F.broadcast(piv))
    return m.selectExpr(*_LB_FINAL_COLS)


# --------------------------------------------------------------------------
# Theil-Sen robust trend on monthly revenue
# --------------------------------------------------------------------------

_THEIL_SEN_ORACLE = """
WITH monthly AS (
  SELECT CAST(date_diff('month', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS m,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS r
  FROM orders GROUP BY 1
),
pairs AS (
  SELECT CAST(floor(1000000.0 * (CAST(b.r - a.r AS DOUBLE) / (b.m - a.m))) AS BIGINT)
           AS slope_q
  FROM monthly a JOIN monthly b ON b.m > a.m
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs, list_sort(list(slope_q)) AS ls FROM pairs
),
mm AS (SELECT CAST(count(*) AS BIGINT) AS n_months FROM monthly)
SELECT mm.n_months, s.n_pairs,
       ls[CAST((n_pairs + 1) // 2 AS BIGINT)] AS sen_slope_micro,
       round(CAST(ls[CAST((n_pairs + 1) // 2 AS BIGINT)] AS DOUBLE) / 1000000.0 / 100.0, 4)
         AS sen_slope_dollars
FROM s, mm
"""


@register(
    "stats_theil_sen",
    _THEIL_SEN_ORACLE,
    doc="Theil-Sen robust trend (median pairwise slope) of monthly revenue",
)
def stats_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen estimator: the median of all pairwise slopes of monthly
    revenue — up to 29.3% contamination-proof where `orders_price_trend_ols`
    chases outliers; the robust-trend rung of the forecasting family.

    Exactness: monthly revenue is an exact integer-cents aggregate; each
    pairwise slope is ONE IEEE division floor-quantized to micro-cents
    (floor on a double is deterministic cross-engine — signed integer
    ``div`` is NOT: Spark and DuckDB disagree on negative quotients,
    truncation vs truncation-toward-zero, so the float-floor form is the
    safe one for signed slopes). The median is the LOWER median
    (element ⌈n/2⌉ of the sorted list) — deterministic for even counts.

    Scale: one data-scale groupBy to the month grid (~80 rows at any
    SF); the pair self-join is grid×grid (~3,200 rows — calendar-bounded,
    NOT data-bounded), sorted in one bounded array."""
    orders = load(spark, sf_dir, "orders")
    monthly = (
        orders.select(
            (
                (F.year("o_orderdate") - F.lit(1992)) * 12 + (F.month("o_orderdate") - 1)
            )
            .cast("long")
            .alias("m"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("m")
        .agg(F.sum("cents").cast("long").alias("r"))
        .persist(CKPT_LEVEL)
    )
    b = monthly.select(F.col("m").alias("bm"), F.col("r").alias("br"))
    pairs = monthly.join(F.broadcast(b), F.expr("bm > m")).selectExpr(
        "CAST(floor(1000000.0 * (CAST(br - r AS DOUBLE) / (bm - m))) AS BIGINT) AS slope_q"
    )
    s = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sort_array(F.collect_list("slope_q")).alias("ls"),
    )
    mm = monthly.agg(F.count(F.lit(1)).cast("long").alias("n_months"))
    return s.crossJoin(F.broadcast(mm)).selectExpr(
        "n_months",
        "n_pairs",
        "element_at(ls, CAST((n_pairs + 1) div 2 AS INT)) AS sen_slope_micro",
        "round(CAST(element_at(ls, CAST((n_pairs + 1) div 2 AS INT)) AS DOUBLE)"
        " / 1000000.0 / 100.0, 4) AS sen_slope_dollars",
    )


# --------------------------------------------------------------------------
# Hurst exponent via rescaled-range (R/S) analysis of daily revenue
# --------------------------------------------------------------------------

_HURST_WS = (8, 16, 32, 64)  # window sizes; log2 = 3, 4, 5, 6

# Fixed-x OLS: with x = log2(w) = (3,4,5,6), slope = sum((x-4.5)*y)/5.
_HURST_COEF = {8: "-1.5", 16: "-0.5", 32: "0.5", 64: "1.5"}
_HURST_LY = {
    w: f"(ln(CAST(rs_{w} AS DOUBLE) / cnt_{w} / 1000000.0) / ln(2.0))" for w in _HURST_WS
}
_HURST_H = (
    "round(("
    + " + ".join(f"{_HURST_COEF[w]} * {_HURST_LY[w]}" for w in _HURST_WS)
    + ") / 5.0, 6) AS hurst_h"
)
_HURST_FINAL = (
    [f"cnt_{w}" for w in _HURST_WS]
    + [f"rs_{w}" for w in _HURST_WS]
    + [f"round({_HURST_LY[w]}, 6) AS log2_rs_{w}" for w in _HURST_WS]
    + [_HURST_H]
)

_HURST_ORACLE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
  FROM orders GROUP BY 1
),
bounds AS (
  SELECT min(day) AS d0, CAST(date_diff('day', min(day), max(day)) AS BIGINT) AS span
  FROM daily
),
grid AS MATERIALIZED (
  SELECT t, coalesce(daily.x, 0) AS x
  FROM (SELECT unnest(range(0, span + 1)) AS t, d0 FROM bounds) g
  LEFT JOIN daily ON daily.day = g.d0 + g.t * INTERVAL 1 DAY
),
tagged AS MATERIALIZED (
  SELECT w, t // w AS win, t, CAST(x AS HUGEINT) AS x
  FROM grid, (SELECT unnest([{", ".join(str(w) for w in _HURST_WS)}]) AS w)
),
full_wins AS MATERIALIZED (
  SELECT w, win, CAST(sum(x) AS HUGEINT) AS s_w, CAST(sum(x * x) AS HUGEINT) AS q_w
  FROM tagged GROUP BY w, win HAVING count(*) = w
),
dev AS (
  SELECT g.w, g.win, g.t, CAST(g.w * g.x - f.s_w AS HUGEINT) AS d,
         f.s_w, f.q_w
  FROM tagged g JOIN full_wins f ON f.w = g.w AND f.win = g.win
),
cum AS (
  SELECT w, win, s_w, q_w,
         CAST(sum(d) OVER (PARTITION BY w, win ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS z
  FROM dev
),
win_stats AS (
  SELECT w, win,
         CAST(max(z) - min(z) AS HUGEINT) AS rng,
         CAST(any_value(w) * any_value(q_w)
              - any_value(s_w) * any_value(s_w) AS HUGEINT) AS varterm
  FROM cum GROUP BY w, win
),
per_win AS (
  -- R/S = (max Z - min Z) / sqrt(w*Q - S^2); both exact HUGEINTs, one
  -- IEEE division, floor-quantized to 1e-6 before averaging windows.
  -- Zero-variance (all-idle) windows have no defined R/S — excluded
  -- (also: Spark 4 ANSI raises on ANY division by zero).
  SELECT w, win,
         CAST(floor(1000000.0 * (CAST(rng AS DOUBLE)
              / sqrt(CAST(varterm AS DOUBLE)))) AS BIGINT) AS rs_e6
  FROM win_stats WHERE varterm > 0
),
piv AS (
  SELECT
    {", ".join(f"CAST(sum(CASE WHEN w = {w} THEN 1 ELSE 0 END) AS BIGINT) AS cnt_{w}, CAST(sum(CASE WHEN w = {w} THEN rs_e6 END) AS BIGINT) AS rs_{w}" for w in _HURST_WS)}
  FROM per_win
)
SELECT {", ".join(_HURST_FINAL)}
FROM piv
"""


@register(
    "stats_hurst_exponent",
    _HURST_ORACLE,
    doc="Hurst exponent (rescaled-range analysis) of daily revenue",
)
def stats_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by classic R/S (rescaled-range) analysis on the
    daily-revenue series: chunk the dense calendar grid into windows of
    8/16/32/64 days, compute each window's rescaled range R/S, average
    per size, and fit log2(R/S) against log2(w). H around 0.5 means a
    memoryless series; persistent trends push H toward 1 — the
    long-memory diagnostic next to `stats_ljung_box`'s short-lag test.

    Exactness: within a window, deviations use the w-scaling trick
    d_i = w*x_i - S (no float mean); the cumulative walk Z and the range
    max(Z)-min(Z) are exact integers, and R/S = range / sqrt(w*Q - S^2)
    is ONE IEEE expression floor-quantized to 1e-6 BEFORE the
    across-windows average (a float mean over windows would be
    accumulation-order-dependent). The final fit needs no ranks: x =
    log2(w) is the CONSTANT vector (3,4,5,6), so the OLS slope collapses
    to a fixed linear combination sum((x-4.5)*ln(mean RS)/ln 2)/5 — one
    deterministic expression.

    Scale: one data-scale groupBy(day); the grid, the window tagging
    (4x grid rows), the running walk (partitioned by (w, window) — each
    partition is at most 64 rows), and the 4-row pivot are all
    calendar-bounded."""
    orders = load(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.col("o_orderdate").cast("date").alias("day"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").cast("long").alias("x"))
        .persist(CKPT_LEVEL)
    )
    bounds = daily.agg(
        F.min("day").alias("d0"),
        F.datediff(F.max("day"), F.min("day")).cast("long").alias("span"),
    )
    grid = (
        bounds.select("d0", F.explode(F.sequence(F.lit(0).cast("long"), F.col("span"))).alias("t"))
        .join(
            daily.withColumnRenamed("day", "dday"),
            F.expr("dday = date_add(d0, CAST(t AS INT))"),
            "left",
        )
        .select("t", F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x"))
        .persist(CKPT_LEVEL)
    )
    ws = spark.createDataFrame([(w,) for w in _HURST_WS], "w long")
    tagged = grid.crossJoin(F.broadcast(ws)).select(
        "w", F.expr("t div w").alias("win"), "t", F.col("x").cast("decimal(38,0)").alias("x")
    )
    full_wins = (
        tagged.groupBy("w", "win")
        .agg(
            F.count(F.lit(1)).alias("n_in_win"),
            F.sum("x").cast("decimal(38,0)").alias("s_w"),
            F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("q_w"),
        )
        .filter(F.col("n_in_win") == F.col("w"))
        .drop("n_in_win")
    )
    dev = tagged.join(full_wins, ["w", "win"]).select(
        "w",
        "win",
        "t",
        (F.col("w") * F.col("x") - F.col("s_w")).cast("decimal(38,0)").alias("d"),
        "s_w",
        "q_w",
    )
    from pyspark.sql.window import Window as _W

    cum_w = _W.partitionBy("w", "win").orderBy("t").rowsBetween(_W.unboundedPreceding, 0)
    cum = dev.withColumn("z", F.sum("d").over(cum_w))
    win_stats = cum.groupBy("w", "win").agg(
        (F.max("z") - F.min("z")).cast("decimal(38,0)").alias("rng"),
        F.expr(
            "CAST(any_value(w) * any_value(q_w)"
            " - any_value(s_w) * any_value(s_w) AS DECIMAL(38,0))"
        ).alias("varterm"),
    )
    # zero-variance (all-idle) windows carry no defined R/S — excluded
    # (and Spark 4 ANSI raises on any division by zero)
    per_win = win_stats.filter(F.col("varterm") > 0).select(
        "w",
        "win",
        F.expr(
            "CAST(floor(1000000.0 * (CAST(rng AS DOUBLE)"
            " / sqrt(CAST(varterm AS DOUBLE)))) AS BIGINT)"
        ).alias("rs_e6"),
    )
    piv = per_win.agg(
        *[
            c
            for w in _HURST_WS
            for c in (
                F.sum(F.when(F.col("w") == w, 1).otherwise(0)).cast("long").alias(f"cnt_{w}"),
                F.sum(F.when(F.col("w") == w, F.col("rs_e6"))).cast("long").alias(f"rs_{w}"),
            )
        ]
    )
    return piv.selectExpr(*_HURST_FINAL)


# --------------------------------------------------------------------------
# Wald-Wolfowitz runs test for randomness of daily revenue
# --------------------------------------------------------------------------

# mu and sigma of the run count under H0, inlined identically both
# engines (single IEEE expressions over the exact integers).
# The leading CAST makes the whole expression DOUBLE in BOTH engines —
# Spark parses a bare 2.0 literal as DECIMAL (the stats_multiple_testing
# lesson) and decimal arithmetic would ride through the output dtype.
_RUNS_MU = "(2.0 * CAST(n1 AS DOUBLE) * n2 / n + 1.0)"
_RUNS_SIG = (
    "sqrt((2.0 * CAST(n1 AS DOUBLE) * n2) * (2.0 * CAST(n1 AS DOUBLE) * n2 - n)"
    " / (CAST(n AS DOUBLE) * n * (n - 1)))"
)

_RUNS_ORACLE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
  FROM orders GROUP BY 1
),
bounds AS (
  SELECT min(day) AS d0, CAST(date_diff('day', min(day), max(day)) AS BIGINT) AS span
  FROM daily
),
grid AS MATERIALIZED (
  SELECT t, coalesce(daily.x, 0) AS x
  FROM (SELECT unnest(range(0, span + 1)) AS t, d0 FROM bounds) g
  LEFT JOIN daily ON daily.day = g.d0 + g.t * INTERVAL 1 DAY
),
med AS (
  SELECT ls[CAST((n + 1) // 2 AS BIGINT)] AS m
  FROM (SELECT list_sort(list(x)) AS ls, count(*) AS n FROM grid)
),
signs AS MATERIALIZED (
  SELECT t, CASE WHEN x > med.m THEN 1 ELSE 0 END AS s FROM grid, med
),
changes AS (
  SELECT CAST(sum(CASE WHEN a.s <> b.s THEN 1 ELSE 0 END) AS BIGINT) AS n_changes
  FROM signs a JOIN signs b ON b.t = a.t - 1
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(s) AS BIGINT) AS n1,
         CAST(count(*) - sum(s) AS BIGINT) AS n2
  FROM signs
)
SELECT m.n, m.n1, m.n2,
       CAST(c.n_changes + 1 AS BIGINT) AS n_runs,
       round({_RUNS_MU}, 4) AS mu_runs,
       round((CAST(c.n_changes + 1 AS DOUBLE) - {_RUNS_MU}) / {_RUNS_SIG}, 6) AS z
FROM m, changes c
"""


@register(
    "stats_runs_test",
    _RUNS_ORACLE,
    doc="Wald-Wolfowitz runs test (above/below median) on daily revenue",
)
def stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test: is the daily-revenue series random
    around its median, or do above/below stretches cluster (trend,
    regime) / alternate (over-dispersion)? The non-parametric
    complement of `stats_ljung_box` — it sees ANY dependence that
    changes run structure, with no moment assumptions.

    Conventions (identical both engines, documented as the spec): the
    reference level is the LOWER median of the dense grid; days equal
    to the median count as "below" (no tie-dropping — deterministic);
    runs = sign changes on the t-ordered grid + 1.

    Exactness: the median comes off a bounded sorted array (the
    `stats_theil_sen` shape); run counting is an exact integer sum over
    the grid's adjacent-day self-join (the `stats_ljung_box` lag shape,
    never a global window); mu/sigma/z are single IEEE expressions over
    (n, n1, n2, runs).

    Scale: one data-scale groupBy(day); everything else is
    calendar-bounded."""
    orders = load(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.col("o_orderdate").cast("date").alias("day"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").cast("long").alias("x"))
        .persist(CKPT_LEVEL)
    )
    bounds = daily.agg(
        F.min("day").alias("d0"),
        F.datediff(F.max("day"), F.min("day")).cast("long").alias("span"),
    )
    grid = (
        bounds.select("d0", F.explode(F.sequence(F.lit(0).cast("long"), F.col("span"))).alias("t"))
        .join(
            daily.withColumnRenamed("day", "dday"),
            F.expr("dday = date_add(d0, CAST(t AS INT))"),
            "left",
        )
        .select("t", F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x"))
        .persist(CKPT_LEVEL)
    )
    med = grid.agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sort_array(F.collect_list("x")).alias("ls"),
    ).selectExpr("element_at(ls, CAST((ng + 1) div 2 AS INT)) AS m")
    signs = (
        grid.crossJoin(F.broadcast(med))
        .select("t", F.when(F.col("x") > F.col("m"), 1).otherwise(0).alias("s"))
        .persist(CKPT_LEVEL)
    )
    b = signs.select(F.col("t").alias("bt"), F.col("s").alias("bs"))
    changes = signs.join(F.broadcast(b), F.expr("bt = t - 1")).agg(
        F.sum(F.when(F.col("s") != F.col("bs"), 1).otherwise(0)).cast("long").alias("n_changes")
    )
    m = signs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("s").cast("long").alias("n1"),
        (F.count(F.lit(1)) - F.sum("s")).cast("long").alias("n2"),
    )
    return m.crossJoin(F.broadcast(changes)).selectExpr(
        "n",
        "n1",
        "n2",
        "CAST(n_changes + 1 AS BIGINT) AS n_runs",
        f"round({_RUNS_MU}, 4) AS mu_runs",
        f"round((CAST(n_changes + 1 AS DOUBLE) - {_RUNS_MU}) / {_RUNS_SIG}, 6) AS z",
    )


# --------------------------------------------------------------------------
# Weekday-seasonality strength: one-way ANOVA of daily revenue by weekday
# --------------------------------------------------------------------------

# Fixed 7-bucket pivot: wd = t mod 7 (grid-day index — engine-independent,
# no dayofweek numbering mismatch). With the buckets pivoted into ONE row,
# the between-group sum evaluates in FIXED bucket order as a single IEEE
# expression over exact integers — no per-group integer division (whose
# BIGINT result overflows for revenue-sized s_g^2; found at sf0.01).
_SA_SSB = "(" + " + ".join(
    f"CAST(s_{w} AS DOUBLE) * s_{w} / n_{w}" for w in range(7)
) + ")"
_SA_CM = "(CAST(s_tot AS DOUBLE) * s_tot / n_tot)"

_SEASON_ANOVA_ORACLE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
  FROM orders GROUP BY 1
),
bounds AS (
  SELECT min(day) AS d0, CAST(date_diff('day', min(day), max(day)) AS BIGINT) AS span
  FROM daily
),
grid AS (
  SELECT g.t % 7 AS wd, coalesce(daily.x, 0) AS x
  FROM (SELECT unnest(range(0, span + 1)) AS t, d0 FROM bounds) g
  LEFT JOIN daily ON daily.day = g.d0 + g.t * INTERVAL 1 DAY
),
piv AS (
  SELECT
    {", ".join(f"CAST(sum(CASE WHEN wd = {w} THEN 1 ELSE 0 END) AS BIGINT) AS n_{w}, CAST(sum(CASE WHEN wd = {w} THEN x ELSE 0 END) AS BIGINT) AS s_{w}" for w in range(7))},
    CAST(count(*) AS BIGINT) AS n_tot,
    CAST(sum(x) AS BIGINT) AS s_tot,
    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q_tot
  FROM grid
)
SELECT n_tot AS n, CAST(7 AS BIGINT) AS k,
  round(({_SA_SSB} - {_SA_CM}) / (CAST(q_tot AS DOUBLE) - {_SA_CM}), 6) AS eta_sq,
  round((({_SA_SSB} - {_SA_CM}) / 6.0)
        / ((CAST(q_tot AS DOUBLE) - {_SA_SSB}) / (n_tot - 7)), 4) AS f_stat
FROM piv
"""


@register(
    "orders_seasonality_anova",
    _SEASON_ANOVA_ORACLE,
    doc="weekday-seasonality strength: one-way ANOVA (eta^2, F) of daily revenue",
)
def orders_seasonality_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality STRENGTH, not just shape: one-way ANOVA of daily
    revenue grouped by weekday — eta² is the fraction of daily variance
    the weekday explains (the "seasonality strength" STL reports), and F
    is its significance. The inferential counterpart of
    `orders_seasonality_weekday` (which reports index levels) and a
    consistency check on `events_periodogram_dft` (a 7-day period spike
    must show up here as eta² > 0).

    Exactness: weekday = grid-day-index mod 7 (engine-independent — no
    dayofweek numbering mismatch); the 7 bucket moments pivot into ONE
    row so the between-group sum evaluates in FIXED bucket order as a
    single IEEE expression over exact integers. No per-group integer
    division: the `stats_anova_oneway` recipe's ``s_g² div n_g`` wraps
    BIGINT for revenue-sized sums (found at sf0.01) — the pivot form
    needs none.

    Scale: one data-scale groupBy(day); the grid and the 17-number
    pivot are calendar-bounded."""
    orders = load(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.col("o_orderdate").cast("date").alias("day"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").cast("long").alias("x"))
        .persist(CKPT_LEVEL)
    )
    bounds = daily.agg(
        F.min("day").alias("d0"),
        F.datediff(F.max("day"), F.min("day")).cast("long").alias("span"),
    )
    grid = (
        bounds.select("d0", F.explode(F.sequence(F.lit(0).cast("long"), F.col("span"))).alias("t"))
        .join(
            daily.withColumnRenamed("day", "dday"),
            F.expr("dday = date_add(d0, CAST(t AS INT))"),
            "left",
        )
        .select(
            (F.col("t") % 7).alias("wd"),
            F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x"),
        )
    )
    piv = grid.agg(
        *[
            c
            for w in range(7)
            for c in (
                F.sum(F.when(F.col("wd") == w, 1).otherwise(0)).cast("long").alias(f"n_{w}"),
                F.sum(F.when(F.col("wd") == w, F.col("x")).otherwise(0))
                .cast("long")
                .alias(f"s_{w}"),
            )
        ],
        F.count(F.lit(1)).cast("long").alias("n_tot"),
        F.sum("x").cast("long").alias("s_tot"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).cast("decimal(38,0)").alias("q_tot"),
    )
    return piv.selectExpr(
        "n_tot AS n",
        "CAST(7 AS BIGINT) AS k",
        f"round(({_SA_SSB} - {_SA_CM}) / (CAST(q_tot AS DOUBLE) - {_SA_CM}), 6) AS eta_sq",
        f"round((({_SA_SSB} - {_SA_CM}) / 6.0)"
        f" / ((CAST(q_tot AS DOUBLE) - {_SA_SSB}) / (n_tot - 7)), 4) AS f_stat",
    )


# --------------------------------------------------------------------------
# Churn-risk buckets: users by days since last activity
# --------------------------------------------------------------------------

# Edges sized to the fixture's short event window (idle spread 0..2
# days at every SF); a production deployment re-edges to 7/30/90 —
# the CASE is the operator, the constants are the config.
_CHURN_BUCKET = """CASE WHEN idle_days <= 0 THEN '0-same-day'
            WHEN idle_days <= 1 THEN '1-yesterday'
            WHEN idle_days <= 7 THEN '2-this-week'
            ELSE '3-stale' END"""

_CHURN_ORACLE = f"""
WITH asof_d AS (SELECT CAST(max(ts) AS DATE) AS d FROM events),
per_user AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(max(ts) AS DATE) AS last_day
  FROM events GROUP BY user_id
),
aged AS (
  SELECT user_id, n_events,
         CAST(date_diff('day', last_day, asof_d.d) AS BIGINT) AS idle_days
  FROM per_user, asof_d
),
b AS (SELECT {_CHURN_BUCKET} AS bucket, n_events, idle_days FROM aged),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM aged)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(count(*) * 1000000 // max(tot.n_total) AS BIGINT) AS share_ppm,
       CAST(sum(n_events) AS BIGINT) AS total_events,
       CAST(max(idle_days) AS BIGINT) AS max_idle_days
FROM b, tot
GROUP BY bucket
ORDER BY bucket
"""


@register(
    "events_churn_risk_buckets",
    _CHURN_ORACLE,
    doc="users bucketed by days since last activity (active/cooling/at-risk/churned)",
)
def events_churn_risk_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retention dashboard's headline table: every user bucketed by
    days since their LAST event as-of the stream's end — same-day,
    yesterday, this-week, stale — with user share and the
    event mass each cohort still represents. The stock-level complement
    of `events_cohort_retention` (flows) and `events_survival_km`
    (hazard): what does the user base look like RIGHT NOW.

    Exactness: integer day differences against one as-of date; bucket
    edges are the same CASE text in both engines; shares are integer
    ppm of the 1-row user total.

    Scale: one data-scale groupBy(user_id) (the unavoidable shuffle),
    then the bucket fold lands on a 4-row grid; the as-of and total
    aggregates broadcast."""
    events = load(spark, sf_dir, "events")
    asof = events.agg(F.max("ts").cast("date").alias("d"))
    per_user = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.max("ts").cast("date").alias("last_day"),
    )
    aged = per_user.crossJoin(F.broadcast(asof)).select(
        "n_events",
        F.datediff(F.col("d"), F.col("last_day")).cast("long").alias("idle_days"),
    )
    aged = aged.persist(CKPT_LEVEL)  # feeds the total AND the fold
    tot = aged.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    return (
        aged.selectExpr(f"{_CHURN_BUCKET} AS bucket", "n_events", "idle_days")
        .crossJoin(F.broadcast(tot))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.expr("CAST(count(*) * 1000000 DIV max(n_total) AS BIGINT)").alias("share_ppm"),
            F.sum("n_events").cast("long").alias("total_events"),
            F.max("idle_days").cast("long").alias("max_idle_days"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# Day-of-week × hour activity profile
# --------------------------------------------------------------------------

# Day-of-week as pure epoch arithmetic — (days since 1970-01-01) mod 7,
# 0 = Thursday — because the builtin differs across engines (DuckDB
# dayofweek is 0-based-Sunday, Spark's 1-based-Sunday: the round-9 trap).
# Both engines evaluate THIS integer expression identically.
_DOW_EXPR = "CAST((epoch_us // 86400000000) % 7 AS BIGINT)"

_DOW_HOUR_ORACLE = f"""
WITH e AS (
  SELECT epoch_us(ts) AS epoch_us, CAST(hour(ts) AS BIGINT) AS hr FROM events
),
g AS (
  SELECT {_DOW_EXPR} AS dow_thu0, hr, CAST(count(*) AS BIGINT) AS n_events
  FROM e GROUP BY 1, 2
),
t AS (SELECT CAST(sum(n_events) AS BIGINT) AS total FROM g)
SELECT g.dow_thu0, g.hr, g.n_events,
       CAST(g.n_events * 1000000 // t.total AS BIGINT) AS share_ppm
FROM g, t
ORDER BY g.dow_thu0, g.hr
"""


@register(
    "events_dow_hour_profile",
    _DOW_HOUR_ORACLE,
    doc="day-of-week × hour activity heatmap (epoch-arithmetic dow, 0=Thursday)",
)
def events_dow_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capacity-planning heatmap: event volume on the (day-of-week ×
    hour) grid with ppm shares — when to schedule compaction, when the
    ingestion peak lands. Day-of-week is computed as (epoch days) mod 7
    (0 = Thursday) rather than either engine's builtin, because the
    builtins disagree on the base (the documented cross-engine trap);
    the session timezone is UTC on both sides.

    Exactness: pure integer arithmetic throughout; shares are integer
    ppm of the 1-row total.

    Scale: one scan partial-aggregates map-side onto the ≤168-cell
    grid; the total broadcasts back."""
    events = load(spark, sf_dir, "events")
    e = events.select(
        F.unix_micros("ts").alias("epoch_us"),
        F.hour("ts").cast("long").alias("hr"),
    )
    g = e.selectExpr(
        "CAST((epoch_us div 86400000000) % 7 AS BIGINT) AS dow_thu0", "hr"
    ).groupBy("dow_thu0", "hr").agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    g = g.persist(CKPT_LEVEL)  # feeds the total AND the share projection
    t = g.agg(F.sum("n_events").cast("long").alias("total"))
    return (
        g.crossJoin(F.broadcast(t))
        .selectExpr(
            "dow_thu0",
            "hr",
            "n_events",
            "CAST(n_events * 1000000 DIV total AS BIGINT) AS share_ppm",
        )
        .orderBy("dow_thu0", "hr")
    )


# --------------------------------------------------------------------------
# Autocorrelation function of daily revenue (lags 1..7, exact integer core)
# --------------------------------------------------------------------------

_ACF_MAX_LAG = 7

_ACF_ORACLE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
  FROM orders GROUP BY 1
),
bounds AS (
  SELECT min(day) AS d0, CAST(date_diff('day', min(day), max(day)) AS BIGINT) AS span
  FROM daily
),
grid AS MATERIALIZED (
  SELECT t, coalesce(daily.x, 0) AS x
  FROM (SELECT unnest(range(0, span + 1)) AS t, d0 FROM bounds) g
  LEFT JOIN daily ON daily.day = g.d0 + g.t * INTERVAL 1 DAY
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS s,
         sum(CAST(x AS HUGEINT) * x) AS q
  FROM grid
),
pairs AS (
  SELECT k.lag AS lag,
         CAST(count(*) AS BIGINT) AS n_pairs,
         sum(CAST(a.x AS HUGEINT) * b.x) AS p_xy,
         CAST(sum(a.x) AS BIGINT) AS h_sum,
         CAST(sum(b.x) AS BIGINT) AS t_sum
  FROM (SELECT unnest(range(1, {_ACF_MAX_LAG} + 1)) AS lag) k
  JOIN grid a ON true
  JOIN grid b ON b.t = a.t + k.lag
  GROUP BY k.lag
)
SELECT p.lag, tot.n, p.n_pairs,
       round(CAST(CAST(tot.n AS HUGEINT) * tot.n * p.p_xy
                  - CAST(tot.n AS HUGEINT) * tot.s * (p.h_sum + p.t_sum)
                  + CAST(p.n_pairs AS HUGEINT) * tot.s * tot.s AS DOUBLE)
             / CAST(CAST(tot.n AS HUGEINT) * tot.n * tot.q
                  - CAST(tot.n AS HUGEINT) * tot.s * tot.s AS DOUBLE), 6) AS acf
FROM pairs p, tot
ORDER BY p.lag
"""


@register(
    "stats_autocorrelation",
    _ACF_ORACLE,
    doc=f"daily-revenue autocorrelation function, lags 1..{_ACF_MAX_LAG} (exact integer core)",
)
def stats_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACF of the dense daily-revenue series at lags 1..7 — the
    memory diagnostic behind every forecasting choice: a spike at lag 7
    is weekly seasonality (`orders_seasonality_weekday`'s time-domain
    twin), slow geometric decay says smooth trends (`orders_forecast_holt`
    applies), all-near-zero says the series is noise and any forecast
    beyond the mean is overfit. `stats_ljung_box` aggregates these same
    correlations into one portmanteau statistic; this op shows the lags.

    Exactness: the series is integer cents on the zero-filled dense
    calendar grid (the `stats_runs_test` construction); for each lag the
    cross-products, head/tail sums, and totals are exact HUGEINT /
    DECIMAL(38,0) integers, algebraically combined so the ONLY float is
    the final ratio — acf_k = (n²·P_k − n·S·(H_k+T_k) + (n−k)·S²) /
    (n²·Q − n·S²), one shared IEEE division rounded at 6 dp. (Mean
    centering happens inside the integer algebra: multiplying through by
    n² clears the rational mean S/n without ever materializing it.)

    Scale: one data-scale groupBy(day); the grid is calendar-bounded, the
    lag join is 7 shifted equi-joins on the day index, and the result is
    7 rows. At 100 TB the day dictionary still fits in one partition —
    the scan dominates, as it should."""
    orders = load(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.col("o_orderdate").cast("date").alias("day"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").cast("long").alias("x"))
        .persist(CKPT_LEVEL)
    )
    bounds = daily.agg(
        F.min("day").alias("d0"),
        F.datediff(F.max("day"), F.min("day")).cast("long").alias("span"),
    )
    grid = (
        bounds.select("d0", F.explode(F.sequence(F.lit(0).cast("long"), F.col("span"))).alias("t"))
        .join(
            daily.withColumnRenamed("day", "dday"),
            F.expr("dday = date_add(d0, CAST(t AS INT))"),
            "left",
        )
        .select("t", F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x"))
        .persist(CKPT_LEVEL)  # feeds totals AND both join sides
    )
    tot = grid.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("q"),
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(F.col("id").cast("long").alias("lag"))
    a = grid.crossJoin(F.broadcast(lags)).select(
        "lag", F.col("x").alias("xa"), (F.col("t") + F.col("lag")).alias("tb")
    )
    b = grid.select(F.col("t").alias("tb"), F.col("x").alias("xb"))
    pairs = (
        a.join(b, "tb")
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.col("xa").cast("decimal(38,0)") * F.col("xb")).alias("p_xy"),
            F.sum("xa").cast("long").alias("h_sum"),
            F.sum("xb").cast("long").alias("t_sum"),
        )
    )
    return (
        pairs.crossJoin(F.broadcast(tot))
        .selectExpr(
            "lag",
            "n",
            "n_pairs",
            "round(CAST(CAST(n AS DECIMAL(38,0)) * n * p_xy"
            " - CAST(n AS DECIMAL(38,0)) * s * (h_sum + t_sum)"
            " + CAST(n_pairs AS DECIMAL(38,0)) * s * s AS DOUBLE)"
            " / CAST(CAST(n AS DECIMAL(38,0)) * n * q"
            " - CAST(n AS DECIMAL(38,0)) * s * s AS DOUBLE), 6) AS acf",
        )
        .orderBy("lag")
    )


# --------------------------------------------------------------------------
# Inter-purchase gap distribution (per-customer consecutive-order spacing)
# --------------------------------------------------------------------------

_IPG_ORACLE = """
WITH seq AS (
  SELECT o_custkey AS c, o_orderdate AS d,
         lag(o_orderdate) OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS prev_d
  FROM orders
),
gaps AS (
  SELECT c, CAST(date_diff('day', prev_d, d) AS BIGINT) AS gap
  FROM seq WHERE prev_d IS NOT NULL
),
dict AS (SELECT gap, CAST(count(*) AS BIGINT) AS ng FROM gaps GROUP BY gap),
r AS (
  SELECT gap, ng,
         CAST(sum(ng) OVER (ORDER BY gap
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM dict
),
tot AS (
  SELECT CAST(sum(ng) AS BIGINT) AS n_gaps,
         CAST(sum(CAST(gap AS HUGEINT) * ng) AS BIGINT) AS s_gap,
         (SELECT CAST(count(DISTINCT c) AS BIGINT) FROM gaps) AS n_repeat_customers
  FROM dict
)
SELECT tot.n_repeat_customers, tot.n_gaps,
       min(CASE WHEN r.cum >= (tot.n_gaps * 25 + 99) // 100 THEN r.gap END) AS p25_days,
       min(CASE WHEN r.cum >= (tot.n_gaps * 50 + 99) // 100 THEN r.gap END) AS p50_days,
       min(CASE WHEN r.cum >= (tot.n_gaps * 75 + 99) // 100 THEN r.gap END) AS p75_days,
       min(CASE WHEN r.cum >= (tot.n_gaps * 90 + 99) // 100 THEN r.gap END) AS p90_days,
       CAST(max(tot.s_gap) * 1000 // max(tot.n_gaps) AS BIGINT) AS mean_gap_milli
FROM r, tot
GROUP BY tot.n_repeat_customers, tot.n_gaps
"""


@register(
    "orders_interpurchase_gaps",
    _IPG_ORACLE,
    doc="inter-purchase gap distribution: exact integer-day percentiles + milli-day mean",
)
def orders_interpurchase_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How long do customers wait between orders? The gap distribution
    between each customer's consecutive orders — p25/p50/p75/p90 plus
    the mean — the replenishment-cycle constant behind churn windows
    (`events_churn_risk_buckets`), campaign cadence, and the Croston
    intermittency model (`orders_croston_intermittent`); the order-table
    sibling of `events_interarrival_by_type`.

    Conventions: consecutive = ordered by (o_orderdate, o_orderkey)
    within customer (same-day pairs gap 0, deterministic under ties);
    percentile rank = ceil(n·p/100), value = smallest gap whose
    cumulative count reaches it (an ACTUAL gap, no interpolation).

    Exactness: gaps are exact integer days; percentiles come off the
    gap dictionary by integer rank; the mean is one integer
    milli-division.

    Scale: the lag window partitions by customer — per-customer order
    counts are a data-model constant, so no task sees unbounded rows —
    then one groupBy to the gap dictionary (day-span-bounded);
    percentile probes are conditional aggregates over it."""
    from pyspark.sql.window import Window

    from gluettalax_spark.operators.rank import grouped_running_sums

    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.select(
            F.col("o_custkey").alias("c"),
            F.col("o_orderdate").alias("d"),
            F.lag("o_orderdate").over(w).alias("prev_d"),
        )
        .filter(F.col("prev_d").isNotNull())
        .select("c", F.datediff("d", "prev_d").cast("long").alias("gap"))
        .persist(CKPT_LEVEL)  # feeds the dictionary AND n_repeat
    )
    dict_df = gaps.groupBy("gap").agg(F.count(F.lit(1)).cast("long").alias("ng"))
    r = grouped_running_sums(dict_df, [], ["gap"], [("ng", "cum")]).select(
        "gap", "ng", "cum", F.col("cum_total").alias("n_gaps")
    )
    n_repeat = gaps.agg(F.countDistinct("c").cast("long").alias("n_repeat_customers"))
    return (
        r.crossJoin(F.broadcast(n_repeat))
        .groupBy("n_repeat_customers", "n_gaps")
        .agg(
            F.min(
                F.when(F.col("cum") >= F.expr("(n_gaps * 25 + 99) div 100"), F.col("gap"))
            ).alias("p25_days"),
            F.min(
                F.when(F.col("cum") >= F.expr("(n_gaps * 50 + 99) div 100"), F.col("gap"))
            ).alias("p50_days"),
            F.min(
                F.when(F.col("cum") >= F.expr("(n_gaps * 75 + 99) div 100"), F.col("gap"))
            ).alias("p75_days"),
            F.min(
                F.when(F.col("cum") >= F.expr("(n_gaps * 90 + 99) div 100"), F.col("gap"))
            ).alias("p90_days"),
            F.expr(
                "CAST(CAST(sum(CAST(gap AS DECIMAL(38,0)) * ng) AS BIGINT) * 1000"
                " div n_gaps AS BIGINT)"
            ).alias("mean_gap_milli"),
        )
        .select(
            "n_repeat_customers", "n_gaps",
            "p25_days", "p50_days", "p75_days", "p90_days", "mean_gap_milli",
        )
    )


# --------------------------------------------------------------------------
# Grubbs outlier test on daily revenue (max studentized deviation)
# --------------------------------------------------------------------------

_GRUBBS_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
  FROM orders GROUP BY 1
),
bounds AS (
  SELECT min(day) AS d0, CAST(date_diff('day', min(day), max(day)) AS BIGINT) AS span
  FROM daily
),
grid AS MATERIALIZED (
  SELECT t, coalesce(daily.x, 0) AS x
  FROM (SELECT unnest(range(0, span + 1)) AS t, d0 FROM bounds) g
  LEFT JOIN daily ON daily.day = g.d0 + g.t * INTERVAL 1 DAY
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS s,
         sum(CAST(x AS HUGEINT) * x) AS q
  FROM grid
),
dev AS (
  SELECT t, x, abs(CAST(tot.n AS HUGEINT) * x - tot.s) AS d FROM grid, tot
),
dmax AS (SELECT max(d) AS dm FROM dev),
pick AS (
  SELECT min(t) AS outlier_t FROM dev, dmax WHERE dev.d = dmax.dm
)
SELECT tot.n, pick.outlier_t, dev.x AS x_outlier,
       CAST(dmax.dm AS BIGINT) AS d_max,
       round((CAST(dmax.dm AS DOUBLE) / tot.n)
             / sqrt((CAST(tot.q AS DOUBLE) - CAST(tot.s AS DOUBLE) * tot.s / tot.n)
                    / (tot.n - 1)), 6) AS g_stat
FROM pick
JOIN dev ON dev.t = pick.outlier_t, dmax, tot
"""


@register(
    "stats_grubbs_test",
    _GRUBBS_ORACLE,
    doc="Grubbs max-studentized-deviation outlier test on daily revenue (integer argmax)",
)
def stats_grubbs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' test: is the single most extreme day a statistical
    outlier? G = max|x − x̄| / s over the dense daily-revenue grid, plus
    WHICH day it is — the one-shot outlier check behind incident
    review ("was Black Friday real or an ingestion bug?"), complementing
    the per-window `events_outlier_mad` (distributional) with a single
    corpus-level verdict on the worst day. Deliberate sibling of
    `stats_grubbs_daily` (r9): that one screens EVENT COUNTS on the
    sparse observed-day table (latest-day tiebreak); this one screens
    REVENUE on the zero-filled calendar grid (earliest-day tiebreak) —
    idle days count as zeros here because a missing revenue day IS the
    anomaly this screen exists to catch.

    Exactness: the argmax is INTEGER — |n·x_t − S| maximizes exactly
    where |x_t − S/n| does, so the outlier day, its value, and d_max
    are exact (HUGEINT/DECIMAL(38,0)); ties break to the earliest day
    identically in both engines; G is one shared IEEE expression over
    (d_max, n, S, Q) rounded at 6 dp.

    Scale: one data-scale groupBy(day); everything else is
    calendar-bounded arithmetic on the grid."""
    orders = load(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.col("o_orderdate").cast("date").alias("day"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").cast("long").alias("x"))
        .persist(CKPT_LEVEL)
    )
    bounds = daily.agg(
        F.min("day").alias("d0"),
        F.datediff(F.max("day"), F.min("day")).cast("long").alias("span"),
    )
    grid = (
        bounds.select("d0", F.explode(F.sequence(F.lit(0).cast("long"), F.col("span"))).alias("t"))
        .join(
            daily.withColumnRenamed("day", "dday"),
            F.expr("dday = date_add(d0, CAST(t AS INT))"),
            "left",
        )
        .select("t", F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x"))
        .persist(CKPT_LEVEL)  # feeds totals, deviations, and the pick
    )
    tot = grid.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("q"),
    )
    dev = grid.crossJoin(F.broadcast(tot)).select(
        "t",
        "x",
        F.abs(F.col("n").cast("decimal(38,0)") * F.col("x") - F.col("s")).alias("d"),
    ).persist(CKPT_LEVEL)
    dmax = dev.agg(F.max("d").alias("dm"))
    pick = (
        dev.crossJoin(F.broadcast(dmax))
        .filter(F.col("d") == F.col("dm"))
        .agg(F.min("t").alias("outlier_t"))
    )
    return (
        pick.join(dev, pick.outlier_t == dev.t)
        .crossJoin(F.broadcast(dmax))
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "n",
            "outlier_t",
            "x AS x_outlier",
            "CAST(dm AS BIGINT) AS d_max",
            "round((CAST(dm AS DOUBLE) / n)"
            " / sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)), 6) AS g_stat",
        )
    )
