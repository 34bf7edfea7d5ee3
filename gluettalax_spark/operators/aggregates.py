"""Aggregation operators: grouped aggs, rollup/cube, distinct counts,
percentiles, and the reference's max-display-width aggregate (D10,
gluettalax.py:385,391).

All hash aggregations get a map-side partial aggregate from Catalyst, so
only one row per (group × partition) shuffles — the shape that survives a
100× scale-up. Double-typed sums are rounded identically on both engines
(see relational.py note on ulp drift).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gluettalax_spark.registry import register
from gluettalax_spark.tables import load

# --------------------------------------------------------------------------
# Grouped aggregation with mixed agg functions
# --------------------------------------------------------------------------

_AGG_GROUP_ORACLE = """
SELECT
  o_orderpriority,
  count(*)                                  AS n_orders,
  round(sum(o_totalprice), 2)               AS sum_price,
  round(avg(o_totalprice), 4)               AS avg_price,
  round(min(o_totalprice), 2)               AS min_price,
  round(max(o_totalprice), 2)               AS max_price,
  count(DISTINCT o_custkey)                 AS n_customers,
  strftime(min(o_orderdate), '%Y-%m-%d')    AS first_order_day
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("agg_group", _AGG_GROUP_ORACLE, doc="groupBy + mixed aggregate functions")
def agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_order_day"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# ROLLUP / CUBE (grouping sets)
# --------------------------------------------------------------------------

_ROLLUP_ORACLE = """
SELECT
  CAST(year(o_orderdate) AS INTEGER)  AS order_year,
  CAST(month(o_orderdate) AS INTEGER) AS order_month,
  count(*)                            AS n_orders,
  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
FROM orders
GROUP BY ROLLUP (order_year, order_month)
ORDER BY order_year NULLS FIRST, order_month NULLS FIRST
"""


@register("agg_rollup_daily", _ROLLUP_ORACLE, doc="ROLLUP over (year, month)")
def agg_rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals: (year, month) → (year) → (). One shuffle;
    Catalyst expands the grouping sets before the exchange.

    Exactness: the () grouping set folds the whole table's prices, where
    float accumulation order crosses the 2-decimal rounding boundary at
    sf1.0 — integer-cents sums keep every grouping set exact."""
    orders = load(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        orders.withColumn("order_year", F.year("o_orderdate"))
        .withColumn("order_month", F.month("o_orderdate"))
        .withColumn("_cents", cents)
        .rollup("order_year", "order_month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum("_cents").cast("double") / 100.0).alias("sum_price"),
        )
        .orderBy(F.col("order_year").asc_nulls_first(), F.col("order_month").asc_nulls_first())
    )


_CUBE_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  count(*)                    AS n_items,
  round(sum(l_quantity), 2)   AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


@register("agg_cube", _CUBE_ORACLE, doc="CUBE over (returnflag, linestatus)")
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy(F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first())
    )


# --------------------------------------------------------------------------
# Exact and approximate distinct counts
# --------------------------------------------------------------------------

_DISTINCT_COUNTS_ORACLE = """
SELECT
  count(DISTINCT l_partkey) AS n_parts,
  count(DISTINCT l_suppkey) AS n_suppliers,
  count(DISTINCT l_orderkey) AS n_orders
FROM lineitem
"""


@register("agg_count_distinct", _DISTINCT_COUNTS_ORACLE, doc="exact multi-column COUNT DISTINCT")
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalyst plans multi-distinct via expand + two-phase aggregation —
    each distinct column shuffles once on its own hash, no cross-product."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@register(
    "agg_approx_count_distinct",
    None,  # HLL sketches are engine-specific — rows-only check by design.
    doc="approx_count_distinct (HyperLogLog++); the 100 TB path for distincts",
    witness=("exact_n_orders", "exact_n_parts", "rel_err_orders", "rel_err_parts"),
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At 100 TB an exact distinct over a high-cardinality key shuffles the
    full key set; the HLL sketch is constant-size per partition and merges
    on the driver. rsd=0.01 keeps the estimate within ~1%.

    Self-verifying rows-only contract: the exact counts and the relative
    errors ride along in the output, so the driver's rows-only check
    carries its own accuracy witness (tests pin rel_err ≤ 2·rsd). The
    exact twin costs the full key shuffle — fixture-scale
    instrumentation; at 100 TB you'd sample or drop those columns."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_n_orders"),
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_n_parts"),
        F.countDistinct("l_orderkey").alias("exact_n_orders"),
        F.countDistinct("l_partkey").alias("exact_n_parts"),
    ).select(
        "approx_n_orders",
        "approx_n_parts",
        "exact_n_orders",
        "exact_n_parts",
        F.round(
            F.abs(F.col("approx_n_orders") - F.col("exact_n_orders"))
            / F.col("exact_n_orders"),
            6,
        ).alias("rel_err_orders"),
        F.round(
            F.abs(F.col("approx_n_parts") - F.col("exact_n_parts")) / F.col("exact_n_parts"),
            6,
        ).alias("rel_err_parts"),
    )


# --------------------------------------------------------------------------
# Percentiles / statistical aggregates
# --------------------------------------------------------------------------

_PERCENTILE_ORACLE = """
WITH ranked AS (
  SELECT
    l_returnflag,
    l_extendedprice,
    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
    count(*)    OVER (PARTITION BY l_returnflag) AS cnt
  FROM lineitem
)
SELECT
  l_returnflag,
  round(max(CASE WHEN rn = ceil(cnt * 0.5)  THEN l_extendedprice END), 2) AS median_price,
  round(max(CASE WHEN rn = ceil(cnt * 0.95) THEN l_extendedprice END), 2) AS p95_price,
  round(stddev_samp(l_extendedprice), 2)                                  AS std_price
FROM ranked
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_percentiles", _PERCENTILE_ORACLE, doc="discrete percentiles (row_number) + stddev")
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete percentiles: value at rank ceil(p·n) in sorted order.

    Deliberately NOT linear interpolation — the midpoint of two 2-decimal
    prices is routinely an exact .xx5, where Spark's and DuckDB's
    interpolation differ in the last ulp and round() diverges. Picking an
    actual data value is cross-engine exact. At 100 TB prefer
    `percentile_approx` (see agg_percentiles_approx)."""
    li = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
    wc = Window.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("cnt"),
    )
    return (
        ranked.groupBy("l_returnflag")
        .agg(
            F.round(
                F.max(F.when(F.col("rn") == F.ceil(F.col("cnt") * 0.5), F.col("l_extendedprice"))), 2
            ).alias("median_price"),
            F.round(
                F.max(F.when(F.col("rn") == F.ceil(F.col("cnt") * 0.95), F.col("l_extendedprice"))), 2
            ).alias("p95_price"),
            F.round(F.stddev_samp("l_extendedprice"), 2).alias("std_price"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_percentiles_approx",
    None,  # t-digest/GK sketch — engine-specific, rows-only check.
    doc="percentile_approx — the mergeable-sketch percentile for 100 TB",
    witness=("p50_exact", "p95_exact", "rel_err_p50", "rel_err_p95"),
)
def agg_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-verifying rows-only contract: the exact percentiles and the
    relative errors ride along, so the output embeds its own accuracy
    witness (tests pin rel_err against the sketch's accuracy parameter).
    The exact twin is a per-group sort — fixture-scale instrumentation;
    the sketch column alone is the 100 TB path."""
    li = load(spark, sf_dir, "lineitem")
    # Scalar columns (not array<double>): the driver's rows-only canonicalizer
    # hashes cell values and chokes on unhashable lists.
    pcts = F.percentile_approx("l_extendedprice", [0.5, 0.95], 10000)
    exact = F.expr("percentile(l_extendedprice, array(0.5, 0.95))")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.element_at(pcts, 1).alias("p50_approx"),
            F.element_at(pcts, 2).alias("p95_approx"),
            F.element_at(exact, 1).alias("p50_exact"),
            F.element_at(exact, 2).alias("p95_exact"),
        )
        .select(
            "l_returnflag",
            "p50_approx",
            "p95_approx",
            "p50_exact",
            "p95_exact",
            F.round(F.abs(F.col("p50_approx") - F.col("p50_exact")) / F.col("p50_exact"), 6)
            .alias("rel_err_p50"),
            F.round(F.abs(F.col("p95_approx") - F.col("p95_exact")) / F.col("p95_exact"), 6)
            .alias("rel_err_p95"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# D10: per-column max display width (the reference's formatting aggregate)
# --------------------------------------------------------------------------

_WIDTH_ORACLE = """
SELECT
  max(length(CAST(n_nationkey AS VARCHAR))) AS w_nationkey,
  max(length(n_name))                       AS w_name,
  max(length(CAST(n_regionkey AS VARCHAR))) AS w_regionkey
FROM nation
"""


@register("agg_max_width", _WIDTH_ORACLE, doc="per-column max display width (D10)")
def agg_max_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference: running max of len(str(v)) per column while iterating
    pages (gluettalax.py:385,391). One-pass aggregate, no shuffle of data
    rows — just one max per column per partition."""
    nation = load(spark, sf_dir, "nation")
    # Spark length() yields int32, DuckDB bigint — cast long for schema parity.
    return nation.agg(
        F.max(F.length(F.col("n_nationkey").cast("string"))).cast("long").alias("w_nationkey"),
        F.max(F.length("n_name")).cast("long").alias("w_name"),
        F.max(F.length(F.col("n_regionkey").cast("string"))).cast("long").alias("w_regionkey"),
    )


# --------------------------------------------------------------------------
# Deterministic mode (most frequent value per group, ties broken by value)
# --------------------------------------------------------------------------

_MODE_ORACLE = """
WITH counts AS (
  SELECT user_id, event_type, count(*) AS n
  FROM events GROUP BY user_id, event_type
),
ranked AS (
  SELECT user_id, event_type, n,
         row_number() OVER (PARTITION BY user_id ORDER BY n DESC, event_type) AS rn
  FROM counts
)
SELECT user_id, event_type AS mode_event, n AS n_occurrences
FROM ranked WHERE rn = 1
ORDER BY user_id
"""


@register("agg_mode_deterministic", _MODE_ORACLE, doc="per-group mode with deterministic tie-break")
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in `mode()` is tie-arbitrary (worthless for reproducible
    pipelines); the deterministic form is count + rank-1 window with a
    value tie-break. Two shuffles — the count's map-side combine means
    the window only sees (group, value, n) triples, not raw rows."""
    events = load(spark, sf_dir, "events")
    counts = events.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc(), F.col("event_type"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_event"), F.col("n").alias("n_occurrences"))
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Exact weighted median (running-weight crossing, no single-task sort)
# --------------------------------------------------------------------------

_WMEDIAN_ORACLE = """
WITH pts AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
         CAST(l_quantity AS BIGINT) AS w
  FROM lineitem
),
g AS (SELECT v, CAST(sum(w) AS BIGINT) AS w FROM pts GROUP BY v),
r AS (
  SELECT v, w,
         CAST(sum(w) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cw,
         CAST(sum(w) OVER () AS BIGINT) AS tw
  FROM g
)
SELECT CAST(max(tw) AS BIGINT) AS total_weight,
       CAST(min(CASE WHEN cw * 2 >= tw THEN v END) AS BIGINT) AS wmedian_cents,
       CAST(min(CASE WHEN cw * 4 >= tw THEN v END) AS BIGINT) AS wp25_cents,
       CAST(min(CASE WHEN cw * 4 >= tw * 3 THEN v END) AS BIGINT) AS wp75_cents
FROM r
"""


@register(
    "agg_weighted_median",
    _WMEDIAN_ORACLE,
    doc="exact quantity-weighted median/quartiles of price (running-weight crossing)",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED median and quartiles — price weighted by quantity,
    the 'typical unit price' a revenue team means when an unweighted
    median over-represents one-unit line items. Spark has no weighted
    percentile built-in, and the textbook sort-and-scan is inherently
    sequential; the distributable identity is: the weighted q-quantile
    is the smallest value whose RUNNING weight crosses q of the total.

    Exactness: values quantize to cents, weights are integer
    quantities, and the crossing tests (cw*2 >= tw, cw*4 >= tw,
    cw*4 >= 3*tw) are pure integer comparisons — the lower weighted
    median definition, no interpolation, no floats.

    Scale shape: duplicate values collapse in ONE map-side-partial
    groupBy first (the value axis is far smaller than the fact table);
    the running weight and its total ride `grouped_running_sums` over
    one global group (range shuffle + metadata offsets — never an
    unpartitioned window); the crossing fold is one bounded aggregate."""
    from gluettalax_spark.operators.rank import grouped_running_sums

    li = load(spark, sf_dir, "lineitem")
    g = (
        li.select(
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("v"),
            F.col("l_quantity").cast("long").alias("w"),
        )
        .groupBy("v")
        .agg(F.sum("w").cast("long").alias("w"))
    )
    r = grouped_running_sums(g, [], [F.col("v")], [("w", "cw")]).withColumnRenamed("cw_total", "tw")
    return r.agg(
        F.max("tw").cast("long").alias("total_weight"),
        F.min(F.when(F.col("cw") * 2 >= F.col("tw"), F.col("v"))).cast("long").alias("wmedian_cents"),
        F.min(F.when(F.col("cw") * 4 >= F.col("tw"), F.col("v"))).cast("long").alias("wp25_cents"),
        F.min(F.when(F.col("cw") * 4 >= F.col("tw") * 3, F.col("v"))).cast("long").alias("wp75_cents"),
    )
