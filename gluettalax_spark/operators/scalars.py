"""Scalar-function surface as queries: string/date/math expressions,
JSON extraction from ``events.props``, and array ops over
``embeddings.embedding``.

The reference's scalar layer is tiny (duration format gluettalax.py:91-119,
isoformat :350, split :424, args-map flatten :351); its real scalar surface
lives inside Glue job scripts. Everything here is built-in
``pyspark.sql.functions`` — JVM-side, codegen'd, no Python in the row loop.
"""

from __future__ import annotations

from gluettalax_spark.memory import CKPT_LEVEL

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gluettalax_spark.operators.dedup import _WS_TOKENS_DUCK, ws_tokens_sql
from gluettalax_spark.registry import register
from gluettalax_spark.tables import load

# --------------------------------------------------------------------------
# String / date / math scalar expressions
# --------------------------------------------------------------------------

_SCALARS_ORACLE = """
SELECT
  o_orderkey,
  upper(o_orderpriority)                                  AS priority_upper,
  substr(o_orderpriority, 1, 1)                           AS priority_code,
  concat(o_orderstatus, '/', o_orderpriority)             AS status_priority,
  length(o_orderpriority)                                 AS priority_len,
  CAST(year(o_orderdate) AS INTEGER)                      AS order_year,
  CAST(month(o_orderdate) AS INTEGER)                     AS order_month,
  CAST(dayofmonth(o_orderdate) AS INTEGER)                AS order_day,
  strftime(o_orderdate, '%Y-%m-%d')                       AS order_date_str,
  date_diff('day', o_orderdate, TIMESTAMP '2000-01-01 00:00:00') AS days_to_y2k,
  round(sqrt(o_totalprice), 4)                            AS price_sqrt,
  round(ln(o_totalprice), 4)                              AS price_ln,
  CAST(round(o_totalprice) AS BIGINT) % 7                 AS price_mod7,
  abs(o_totalprice - 50000)                               AS price_dist_50k
FROM orders
WHERE o_orderkey <= 200
ORDER BY o_orderkey
"""


@register("scalar_string_date_math", _SCALARS_ORACLE, doc="string/date/math scalar functions")
def scalar_string_date_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure projection — narrow scan (4 columns), predicate pushed to
    parquet, zero shuffles; whole-stage codegen evaluates every expression
    in one pass."""
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 200)
    return orders.select(
        "o_orderkey",
        F.upper("o_orderpriority").alias("priority_upper"),
        F.substring("o_orderpriority", 1, 1).alias("priority_code"),
        F.concat_ws("/", "o_orderstatus", "o_orderpriority").alias("status_priority"),
        F.length("o_orderpriority").cast("long").alias("priority_len"),
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date_str"),
        F.datediff(F.lit("2000-01-01").cast("date"), F.col("o_orderdate").cast("date"))
        .cast("long")
        .alias("days_to_y2k"),
        F.round(F.sqrt("o_totalprice"), 4).alias("price_sqrt"),
        F.round(F.log("o_totalprice"), 4).alias("price_ln"),
        (F.round("o_totalprice").cast("long") % 7).alias("price_mod7"),
        F.abs(F.col("o_totalprice") - 50000).alias("price_dist_50k"),
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# JSON extraction from events.props (§2.F array/map/json row)
# --------------------------------------------------------------------------

_JSON_ORACLE = """
SELECT
  event_type,
  count(*)                                                       AS n_events,
  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
  round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4)       AS avg_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("json_extract_props", _JSON_ORACLE, doc="JSON extraction + aggregate over events.props")
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``get_json_object`` parses in the JVM per row; for repeated keys at
    scale, ``from_json`` with an explicit schema (one parse, many fields)
    is the bulk path — both stay out of Python."""
    events = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(k).alias("sum_k"),
            F.round(F.avg(k), 4).alias("avg_k"),
        )
        .orderBy("event_type")
    )


_MAP_ORACLE = """
SELECT
  event_id,
  event_type,
  CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
  CAST(len(json_keys(props)) AS INTEGER)            AS n_keys
FROM events
WHERE event_id <= 100
ORDER BY event_id
"""


@register("json_to_map", _MAP_ORACLE, doc="from_json → MapType + map functions")
def json_to_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """props JSON → MapType(String,String): one parse yields all keys
    (map_keys/size/element access) — the fan-out-friendly shape."""
    events = load(spark, sf_dir, "events").filter(F.col("event_id") <= 100)
    m = F.from_json("props", "map<string,string>")
    return events.select(
        "event_id",
        "event_type",
        m.getItem("k").cast("long").alias("prop_k"),
        F.size(F.map_keys(m)).alias("n_keys"),
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# Array ops over embeddings.embedding (array<float>, 64-dim)
# --------------------------------------------------------------------------

_ARRAY_ORACLE = """
SELECT
  vec_id,
  CAST(len(embedding) AS INTEGER)  AS dim,
  round(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm,
  round(CAST(list_max(embedding) AS DOUBLE), 4) AS max_val,
  round(CAST(list_min(embedding) AS DOUBLE), 4) AS min_val
FROM embeddings
WHERE vec_id <= 100
ORDER BY vec_id
"""


@register("array_ops_embeddings", _ARRAY_ORACLE, doc="higher-order array functions on embeddings")
def array_ops_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norm via aggregate() (higher-order fold) — stays in the JVM,
    no UDF; this is the primitive the similarity operators build on."""
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") <= 100)
    sq_sum = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.sqrt(sq_sum), 4).alias("l2_norm"),
        F.round(F.array_max("embedding").cast("double"), 4).alias("max_val"),
        F.round(F.array_min("embedding").cast("double"), 4).alias("min_val"),
    ).orderBy("vec_id")


# --------------------------------------------------------------------------
# JSON key histogram (schema discovery over semi-structured columns)
# --------------------------------------------------------------------------

_JSON_KEYS_ORACLE = """
SELECT k AS prop_key, count(*) AS n_events
FROM (SELECT unnest(json_keys(props)) AS k FROM events)
GROUP BY k
ORDER BY n_events DESC, prop_key
"""


@register("json_keys_histogram", _JSON_KEYS_ORACLE, doc="key-frequency histogram over JSON props")
def json_keys_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema discovery for semi-structured data: which keys exist, how
    often — the first query anyone runs on a JSON column before designing
    extraction. json_object_keys is JVM-side; explode + count is one
    map-side-combined shuffle of (key, partial_count)."""
    events = load(spark, sf_dir, "events")
    return (
        events.select(F.explode(F.json_object_keys("props")).alias("prop_key"))
        .groupBy("prop_key")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.col("n_events").desc(), F.col("prop_key"))
    )


# --------------------------------------------------------------------------
# Null-semantics gallery (coalesce / nullif / null-aware counts)
# --------------------------------------------------------------------------

_NULLS_ORACLE = """
WITH base AS (
  SELECT
    o_orderpriority,
    nullif(o_orderstatus, 'P') AS status_or_null,
    o_totalprice
  FROM orders
)
SELECT
  o_orderpriority,
  count(*)                            AS n_rows,
  count(status_or_null)               AS n_nonnull,
  count(*) - count(status_or_null)    AS n_nulls,
  count(DISTINCT status_or_null)      AS n_distinct_nonnull,
  round(sum(CASE WHEN status_or_null IS NULL THEN o_totalprice ELSE 0 END), 2)
                                      AS nulled_price,
  coalesce(min(status_or_null), '-')  AS min_status
FROM base
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("scalar_null_semantics", _NULLS_ORACLE, doc="nullif/coalesce/null-aware aggregate semantics")
def scalar_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null semantics pinned cross-engine: count(col) skips nulls,
    count(*) doesn't, DISTINCT ignores nulls, min/max skip them, coalesce
    backstops — the exact rules every aggregate in this engine relies on,
    stated once as a checkable query."""
    orders = load(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderpriority",
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status_or_null"),
        "o_totalprice",
    )
    return (
        base.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("status_or_null").alias("n_nonnull"),
            (F.count(F.lit(1)) - F.count("status_or_null")).alias("n_nulls"),
            F.countDistinct("status_or_null").alias("n_distinct_nonnull"),
            F.round(
                F.sum(
                    F.when(F.col("status_or_null").isNull(), F.col("o_totalprice")).otherwise(0.0)
                ),
                2,
            ).alias("nulled_price"),
            F.coalesce(F.min("status_or_null"), F.lit("-")).alias("min_status"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# VariantType (Spark 4 semi-structured) over events.props
# --------------------------------------------------------------------------

_VARIANT_ORACLE = """
SELECT
  event_type,
  count(*) AS n_events,
  CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
  CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
  round(median(CAST(json_extract_string(props, '$.k') AS BIGINT)), 1)    AS median_k,
  count(CASE WHEN json_type(props) = 'OBJECT' THEN 1 END)                AS n_obj
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "variant_props_stats",
    _VARIANT_ORACLE,
    doc="VariantType path: parse_json → try_variant_get/schema_of_variant",
)
def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics on Spark 4's VARIANT type: ``parse_json``
    builds the binary variant ONCE per row (vs re-parsing per
    ``get_json_object`` call), ``try_variant_get`` does typed, null-safe
    path extraction, and ``schema_of_variant`` powers shape observability
    — all JVM-side, schema-on-read without a fixed ``from_json`` schema.
    This is the bulk path for ragged/evolving JSON at scale: the variant
    encoding shuffles smaller than the source text and field access is
    O(fields-touched), not O(document)."""
    events = load(spark, sf_dir, "events")
    v = F.parse_json("props")
    tagged = events.select(
        "event_type",
        F.try_variant_get(v, "$.k", "long").alias("k"),
        F.schema_of_variant(v).alias("sv"),
    )
    return (
        tagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.round(F.expr("percentile(k, 0.5)"), 1).alias("median_k"),
            F.count(F.when(F.col("sv").startswith("OBJECT"), 1)).alias("n_obj"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# SQL UDFs (Spark 4 CREATE FUNCTION — Catalyst-inlined, codegen-resident)
# --------------------------------------------------------------------------

_SQL_UDF_ORACLE = f"""
SELECT
  source,
  CAST(count(*) AS BIGINT) AS n_docs,
  round(avg(len({_WS_TOKENS_DUCK})), 4) AS avg_tokens,
  round(avg(CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
            / nullif(length(text), 0)), 4) AS avg_punct
FROM documents
GROUP BY source
ORDER BY source
"""


@register(
    "sql_udf_text_metrics",
    _SQL_UDF_ORACLE,
    doc="per-source text metrics through Spark 4 SQL UDFs (CREATE FUNCTION, inlined into codegen)",
)
def sql_udf_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reusable scalar logic as Spark 4 **SQL UDFs** (`CREATE FUNCTION …
    RETURNS … RETURN expr`): token counting and punctuation ratio are
    defined once and called like built-ins. Unlike Python UDFs, Catalyst
    INLINES the function body into the plan — the expressions stay
    inside WholeStageCodegen with zero serialization boundary (pinned in
    test_plans.py: no BatchEvalPython/ArrowEvalPython node exists), so
    the "UDF" costs exactly what writing the expression inline would.
    That's the right default for shareable scalar logic at 100 TB; the
    Python/pandas UDF families remain for logic SQL can't express.

    The DuckDB oracle computes the same metrics with the function bodies
    inlined (single-statement oracle contract — no macros needed)."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION gx_tok_count(s STRING) RETURNS INT "
        f"RETURN size({ws_tokens_sql('s')})"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION gx_punct_ratio(t STRING) RETURNS DOUBLE "
        # nullif guard: empty text must be NULL (excluded by avg) in BOTH
        # engines — DuckDB's IEEE x/0 yields inf and would poison avg_punct.
        "RETURN CAST(length(t) - length(regexp_replace(t, '[.,;:!?]', '')) AS DOUBLE) / nullif(length(t), 0)"
    )
    return spark.sql(
        f"""
        SELECT
          source,
          count(*) AS n_docs,
          round(avg(gx_tok_count(text)), 4) AS avg_tokens,
          round(avg(gx_punct_ratio(text)), 4) AS avg_punct
        FROM parquet.`{sf_dir}/documents.parquet`
        GROUP BY source
        ORDER BY source
        """
    )


# --------------------------------------------------------------------------
# Spark 4 SQL pipe syntax (|>) — engine-capability op
# --------------------------------------------------------------------------

_PIPE_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
            AS BIGINT) AS revenue_cents,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY revenue_cents DESC, l_returnflag, l_linestatus
LIMIT 5
"""


@register(
    "sql_pipe_syntax",
    _PIPE_ORACLE,
    doc="Spark 4 SQL pipe syntax (|>): filter |> aggregate |> order |> limit",
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's SQL pipe syntax (SIGMOD'24 'SQL Has Problems' /
    GoogleSQL pipes): each |> stage names one operator in execution
    order, composing like the DataFrame API while staying pure SQL.
    Catalyst parses pipes into the SAME logical plan as the classic
    form — the oracle here IS that classic form, so the hash match
    certifies plan equivalence end to end (the engine-feature sibling
    of `sql_recursive_reach` and `sql_udf_text_metrics`).

    Revenue uses the shared integer-cents quantization, so the
    aggregate is exact and the ORDER/LIMIT cut can't ride a float ulp.
    Scale shape: identical to the classic q1 family — filter pushed to
    the scan, map-side partial agg, TakeOrderedAndProject for the
    top-k."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("gx_pipe_lineitem")
    return spark.sql(
        """
        FROM gx_pipe_lineitem
        |> WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |> AGGREGATE
             CAST(count(*) AS BIGINT) AS n_items,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
                  AS BIGINT) AS revenue_cents,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
           GROUP BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, n_items, revenue_cents, total_qty
        |> ORDER BY revenue_cents DESC, l_returnflag, l_linestatus
        |> LIMIT 5
        """
    )


# --------------------------------------------------------------------------
# JSON schema drift (key-presence rates, early vs late half)
# --------------------------------------------------------------------------

_SCHEMA_DRIFT_ORACLE = """
WITH bounds AS (
  SELECT epoch_us(min(ts)) AS t0,
         (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS mid
  FROM events
),
tagged AS (
  SELECT CASE WHEN epoch_us(e.ts) < b.mid THEN 0 ELSE 1 END AS half, e.props
  FROM events e, bounds b
),
halves AS (
  SELECT half, CAST(count(*) AS BIGINT) AS n FROM tagged GROUP BY half
),
keyed AS (
  SELECT half, k, CAST(count(*) AS BIGINT) AS n_with
  FROM (SELECT half, unnest(json_keys(props)) AS k FROM tagged)
  GROUP BY half, k
),
grid AS (
  SELECT k.k,
         coalesce(max(CASE WHEN keyed.half = 0 THEN n_with END), 0) AS early_n,
         coalesce(max(CASE WHEN keyed.half = 1 THEN n_with END), 0) AS late_n
  FROM (SELECT DISTINCT k FROM keyed) k
  LEFT JOIN keyed ON keyed.k = k.k
  GROUP BY k.k
)
SELECT g.k AS prop_key,
       CAST(g.early_n AS BIGINT) AS early_n,
       CAST(g.late_n AS BIGINT) AS late_n,
       CAST(CAST(g.early_n AS HUGEINT) * 1000000
            // (SELECT n FROM halves WHERE half = 0) AS BIGINT) AS early_ppm,
       CAST(CAST(g.late_n AS HUGEINT) * 1000000
            // (SELECT n FROM halves WHERE half = 1) AS BIGINT) AS late_ppm,
       CAST(CAST(g.late_n AS HUGEINT) * 1000000
            // (SELECT n FROM halves WHERE half = 1)
          - CAST(g.early_n AS HUGEINT) * 1000000
            // (SELECT n FROM halves WHERE half = 0) AS BIGINT) AS drift_ppm
FROM grid g
ORDER BY abs(CAST(g.late_n AS HUGEINT) * 1000000
             // (SELECT n FROM halves WHERE half = 1)
           - CAST(g.early_n AS HUGEINT) * 1000000
             // (SELECT n FROM halves WHERE half = 0)) DESC, prop_key
"""


@register(
    "json_schema_drift",
    _SCHEMA_DRIFT_ORACLE,
    doc="JSON key-presence drift between the early and late time halves",
)
def json_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema drift for semi-structured columns: per JSON key, the
    presence rate in the EARLY half of the time range vs the LATE half
    and the signed drift — the alert that catches producers silently
    adding, dropping, or renaming fields (the schema-evolution
    counterpart of `events_drift_psi`'s value-mix monitor, and what you
    check before trusting `json_keys_histogram`'s aggregate view).

    Exactness: the time midpoint is an exact integer-microsecond mean;
    presence rates are single floor divisions in ppm; the drift column
    is a difference of those exact integers; ordering ties break on the
    exact |drift| then key.

    Scale: one scan tags each row's half (the bounds are a broadcast
    1-row aggregate); key explode partial-aggregates to the (key x 2)
    grid; everything after is key-dictionary-sized."""
    events = load(spark, sf_dir, "events")
    bounds = events.agg(
        F.expr("(unix_micros(min(ts)) + unix_micros(max(ts))) div 2").alias("mid")
    )
    tagged = events.crossJoin(F.broadcast(bounds)).select(
        F.when(F.unix_micros("ts") < F.col("mid"), 0).otherwise(1).alias("half"), "props"
    ).persist(CKPT_LEVEL)
    halves = tagged.groupBy("half").agg(F.count(F.lit(1)).cast("long").alias("n"))
    h = halves.agg(
        F.max(F.when(F.col("half") == 0, F.col("n"))).cast("long").alias("n_early"),
        F.max(F.when(F.col("half") == 1, F.col("n"))).cast("long").alias("n_late"),
    )
    keyed = (
        tagged.select("half", F.explode(F.json_object_keys("props")).alias("k"))
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).cast("long").alias("early_n"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).cast("long").alias("late_n"),
        )
    )
    return (
        keyed.crossJoin(F.broadcast(h))
        .selectExpr(
            "k AS prop_key",
            "early_n",
            "late_n",
            "CAST(CAST(early_n AS DECIMAL(38,0)) * 1000000 div n_early AS BIGINT) AS early_ppm",
            "CAST(CAST(late_n AS DECIMAL(38,0)) * 1000000 div n_late AS BIGINT) AS late_ppm",
            "CAST(CAST(late_n AS DECIMAL(38,0)) * 1000000 div n_late"
            " - CAST(early_n AS DECIMAL(38,0)) * 1000000 div n_early AS BIGINT) AS drift_ppm",
        )
        .orderBy(F.abs(F.col("drift_ppm")).desc(), "prop_key")
    )
