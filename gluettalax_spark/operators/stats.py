"""Statistical aggregates: dispersion and correlation moments.

All of these are single-pass distributed aggregates in Spark (partial
moments per partition, merged exactly — Welford/Chan style under the
hood), so one shuffle regardless of data size. Skewness/kurtosis are NOT
oracle-compared: Spark computes population (g1/g2) moments while DuckDB
computes sample-corrected (G1/G2) — definitionally different numbers;
they're covered by a unit test against numpy instead.
"""

from __future__ import annotations

from gluettalax_spark.memory import CKPT_LEVEL

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gluettalax_spark.operators.dedup import _duck_hex_int
from gluettalax_spark.registry import register
from gluettalax_spark.tables import load

_MOMENTS_ORACLE = """
SELECT
  l_returnflag,
  round(avg(l_quantity), 4)                          AS mean_qty,
  round(stddev_samp(l_quantity), 4)                  AS sd_qty,
  round(var_samp(l_quantity), 4)                     AS var_qty,
  round(stddev_pop(l_quantity), 4)                   AS sd_pop_qty,
  round(corr(l_quantity, l_extendedprice), 4)        AS corr_qty_price,
  round(covar_samp(l_quantity, l_extendedprice), 2)  AS covar_qty_price,
  round(covar_pop(l_quantity, l_extendedprice), 2)   AS covar_pop_qty_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_stats_moments", _MOMENTS_ORACLE, doc="stddev/variance/corr/covar per group, one pass")
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.avg("l_quantity"), 4).alias("mean_qty"),
            F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
            F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
            F.round(F.stddev_pop("l_quantity"), 4).alias("sd_pop_qty"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("covar_qty_price"),
            F.round(F.covar_pop("l_quantity", "l_extendedprice"), 2).alias("covar_pop_qty_price"),
        )
        .orderBy("l_returnflag")
    )


def higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness/kurtosis per return flag (population moments, Spark
    definition) — unit-tested against numpy, not the SQL oracle (see
    module docstring)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.skewness("l_quantity").alias("skew_qty"),
            F.kurtosis("l_quantity").alias("kurt_qty"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Equal-width histogram (fixed bucket formula on both engines)
# --------------------------------------------------------------------------

_HISTOGRAM_ORACLE = """
SELECT
  CAST(least(floor(o_totalprice / 50000), 11) AS BIGINT) AS bucket,
  count(*)                                               AS n,
  round(min(o_totalprice), 2)                            AS lo,
  round(max(o_totalprice), 2)                            AS hi
FROM orders
GROUP BY 1
ORDER BY bucket
"""


@register("agg_histogram", _HISTOGRAM_ORACLE, doc="equal-width histogram (12 buckets) in one pass")
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram = bucket-id projection + hash aggregate: one shuffle of
    (bucket, partial-count) pairs, independent of row count. The bucket
    formula is written out identically on both engines (a builtin
    width_bucket can differ at edge semantics across engines)."""
    orders = load(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / 50000), F.lit(11)).cast("long")
    return (
        orders.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# HLL sketch columns (mergeable pre-aggregation, the 100 TB distinct path)
# --------------------------------------------------------------------------


@register(
    "agg_hll_sketch_union",
    None,
    doc="per-month HLL sketches, unioned to a global estimate (rows-only)",
    witness=("exact_distinct_custs", "rel_err"),
)
def agg_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch-column pattern: build an HLL sketch of distinct
    customers PER MONTH (cheap, mergeable, constant-size state), then
    union the sketches for the global estimate — never re-scanning raw
    data. At 100 TB the monthly sketch table is what you persist;
    arbitrary date-range distinct counts become sketch unions, each a
    few KB per group. Driver-side binary sketches aren't SQL-comparable,
    so this is rows-only; tests/test_ann.py bounds the estimate error
    against the exact count."""
    orders = load(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(
            F.hll_sketch_agg("o_custkey").alias("sketch"),
            # Self-verifying rows-only contract: exact distinct + relative
            # error ride along per group, so the driver's rows-only check
            # carries its own accuracy witness (tests pin rel_err ≤ 5%).
            F.countDistinct("o_custkey").alias("exact_distinct_custs"),
        )
    )
    err = F.round(
        F.abs(F.col("est_distinct_custs") - F.col("exact_distinct_custs"))
        / F.col("exact_distinct_custs"),
        6,
    ).alias("rel_err")
    per_month = monthly.select(
        F.date_format("month", "yyyy-MM").alias("month"),
        F.hll_sketch_estimate("sketch").alias("est_distinct_custs"),
        "exact_distinct_custs",
    ).select("month", "est_distinct_custs", "exact_distinct_custs", err)
    total = (
        monthly.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est_distinct_custs")
        )
        .crossJoin(
            F.broadcast(orders.agg(F.countDistinct("o_custkey").alias("exact_distinct_custs")))
        )
        .select(F.lit("TOTAL").alias("month"), "est_distinct_custs", "exact_distinct_custs", err)
    )
    return per_month.unionByName(total).orderBy("month")


# --------------------------------------------------------------------------
# Outlier counts (3σ rule per group — the monitoring aggregate)
# --------------------------------------------------------------------------

_OUTLIER_ORACLE = """
WITH stats AS (
  SELECT event_type,
         avg(value) AS mu,
         stddev_samp(value) AS sigma
  FROM events GROUP BY event_type
)
SELECT
  e.event_type,
  count(*) AS n_events,
  count(CASE WHEN abs(e.value - s.mu) > 3 * s.sigma THEN 1 END) AS n_outliers
FROM events e JOIN stats s ON e.event_type = s.event_type
GROUP BY e.event_type
ORDER BY e.event_type
"""


@register("events_outlier_counts", _OUTLIER_ORACLE, doc="3-sigma outlier counts per event type")
def events_outlier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass outlier detection: per-group moments (tiny — broadcast),
    re-join the stream, count |v−μ| > 3σ. The stats side is group-count
    sized regardless of data scale; the second pass is a map-side filter.
    (The single-pass alternative — windowed μ/σ — shuffles all rows; the
    broadcast re-join only shuffles the aggregate.)"""
    events = load(spark, sf_dir, "events")
    stats = events.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    return (
        events.join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(
                F.when(F.abs(F.col("value") - F.col("mu")) > 3 * F.col("sigma"), 1)
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


@register(
    "events_wau_hll",
    None,
    doc="rolling 7-day distinct users via windowed HLL union (rows-only)",
    witness=("wau_exact", "rel_err"),
)
def events_wau_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-window distinct (WAU): per-day HLL sketches, unioned over a
    7-day ROWS frame — rolling COUNT DISTINCT without re-scanning seven
    days of raw events per day. The window operates on day-level rows
    (365/year), so the frame merge is sketch-sized work regardless of
    event volume. Engine-specific sketch bytes ⇒ rows-only; accuracy is
    bounded in tests/test_ann.py."""
    events = load(spark, sf_dir, "events")
    daily = events.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sketch"),
        F.countDistinct("user_id").alias("dau_exact"),
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    est = daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "dau_exact",
        F.hll_sketch_estimate(F.hll_union_agg("sketch").over(w)).alias("wau_estimate"),
    )
    # Self-verifying rows-only contract: the exact rolling distinct (the
    # oracle-checked events_wau_exact twin) joins in per day with the
    # relative error, so the output embeds its accuracy witness (tests
    # pin rel_err ≤ 5%). Fixture-scale instrumentation — the sketch
    # column alone is the 100 TB path.
    exact = events_wau_exact(spark, sf_dir).withColumnRenamed("wau", "wau_exact")
    return (
        est.join(exact, "day")
        .select(
            "day",
            "dau_exact",
            "wau_estimate",
            "wau_exact",
            F.round(
                F.abs(F.col("wau_estimate") - F.col("wau_exact")) / F.col("wau_exact"), 6
            ).alias("rel_err"),
        )
        .orderBy("day")
    )


_WAU_EXACT_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
),
days AS (SELECT DISTINCT day FROM pairs)
SELECT strftime(d.day, '%Y-%m-%d') AS day,
       CAST(count(DISTINCT p.user_id) AS BIGINT) AS wau
FROM days d
JOIN pairs p ON p.day >= d.day - INTERVAL 6 DAY AND p.day <= d.day
GROUP BY d.day
ORDER BY day
"""


@register("events_wau_exact", _WAU_EXACT_ORACLE, doc="exact rolling 7-day distinct users (oracle twin of events_wau_hll)")
def events_wau_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT rolling 7-day distinct users — the oracle-checked twin of
    :func:`events_wau_hll` (which trades exactness for sketch-sized
    window state).

    Scale shape: the naive form is a range join (every day joins 7 days
    of raw events — re-scanning event volume per output day). Instead:
    dedupe to (day, user) pairs FIRST (one shuffle; output is bounded by
    days × active users, far below event count), then each pair
    *forward-contributes* to the 7 calendar days it makes active — an
    explode to ≤7 rows per pair — and a count-distinct per target day.
    Phantom target days past the data's edge are dropped with a
    broadcast semi-join against the (tiny) distinct-day set. No range
    join, no re-scan of raw events, every shuffle keyed."""
    events = load(spark, sf_dir, "events")
    pairs = events.select(F.date_trunc("day", "ts").alias("day"), "user_id").distinct()
    days = pairs.select("day").distinct()
    contrib = pairs.select(
        F.explode(
            F.sequence(
                F.col("day"),
                F.col("day") + F.expr("INTERVAL 6 DAYS"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day"),
        "user_id",
    )
    return (
        contrib.join(F.broadcast(days), "day", "semi")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), "wau")
        .orderBy("day")
    )


_DAU_BITMAP_ORACLE = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       CAST(count(DISTINCT user_id) AS BIGINT)     AS dau
FROM events
GROUP BY date_trunc('day', ts)
ORDER BY day
"""


@register(
    "events_dau_bitmap",
    _DAU_BITMAP_ORACLE,
    doc="EXACT daily distinct users via bitmap aggregation (bitmap_construct_agg)",
)
def events_dau_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT DISTINCT at scale without count-distinct's expand:
    user ids map to (bucket, bit-position); per (day, bucket) the ids
    collapse into a fixed 4 KB bitmap via ``bitmap_construct_agg`` (a
    map-side partial aggregate — the shuffle carries at most one bitmap
    per bucket per partition, not one row per id); summed
    ``bitmap_count`` per day is the exact distinct. Unlike HLL this is
    EXACT — hence oracle-checked — and unlike ``countDistinct`` its
    shuffle width is bounded by id-range/32k bitmaps instead of the
    distinct-id row count. The same bitmaps also union across arbitrary
    re-aggregations (``bitmap_or_agg``) — the cube/rollup-friendly
    exact-distinct representation."""
    events = load(spark, sf_dir, "events")
    daily = events.select(
        F.date_trunc("day", "ts").alias("day"),
        F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
        F.expr("bitmap_bit_position(user_id)").alias("pos"),
    )
    per_bucket = daily.groupBy("day", "bucket").agg(
        F.expr("bitmap_construct_agg(pos)").alias("bm")
    )
    return (
        per_bucket.groupBy("day")
        .agg(F.sum(F.expr("bitmap_count(bm)")).alias("dau"))
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), "dau")
        .orderBy("day")
    )


_MAD_ORACLE = """
WITH med AS (
  SELECT event_type, median(value) AS med FROM events GROUP BY event_type
),
mad AS (
  SELECT e.event_type, median(abs(e.value - m.med)) AS mad
  FROM events e JOIN med m USING (event_type) GROUP BY e.event_type
)
SELECT
  e.event_type,
  count(*) AS n_events,
  round(max(m.med), 4) AS median_value,
  round(max(d.mad), 4) AS mad_value,
  count(CASE WHEN abs(e.value - m.med) > 3 * 1.4826 * d.mad THEN 1 END) AS n_robust_outliers
FROM events e
JOIN med m USING (event_type)
JOIN mad d USING (event_type)
GROUP BY e.event_type
ORDER BY e.event_type
"""


@register("events_outlier_mad", _MAD_ORACLE, doc="robust (median/MAD) outlier counts per event type")
def events_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust twin of :func:`events_outlier_counts`: median/MAD instead of
    μ/σ — a single wild value cannot move the threshold (3σ breaks down
    exactly when outliers are present). Three passes, but the re-joined
    side is ALWAYS the group-count-sized aggregate (broadcast): pass 1
    exact per-group median, pass 2 median absolute deviation, pass 3 the
    outlier count at 3·1.4826·MAD (the normal-consistency constant).
    Spark's ``median`` is the exact continuous-interpolation percentile —
    same definition as the oracle's."""
    events = load(spark, sf_dir, "events")
    med = events.groupBy("event_type").agg(F.median("value").alias("med"))
    with_med = events.join(F.broadcast(med), "event_type")
    mad = with_med.groupBy("event_type").agg(
        F.median(F.abs(F.col("value") - F.col("med"))).alias("mad")
    )
    return (
        with_med.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.max("med"), 4).alias("median_value"),
            F.round(F.max("mad"), 4).alias("mad_value"),
            F.count(
                F.when(
                    F.abs(F.col("value") - F.col("med")) > 3 * 1.4826 * F.col("mad"), 1
                )
            ).alias("n_robust_outliers"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Heavy hitters via approx_top_k sketch
# --------------------------------------------------------------------------

_HH_K = 20
# Sketch capacity. At fixture scale this exceeds the distinct-user count,
# so the sketch degenerates to an exact histogram and the query is
# oracle-checkable; at 100 TB the same plan runs with capacity << distinct
# users in O(capacity) memory per partition and becomes approximate (the
# documented sketch trade-off, like agg_approx_count_distinct).
_HH_CAPACITY = 100_000
_HH_FETCH = 10_000  # items pulled from the sketch before the exact re-rank

_HH_ORACLE = f"""
WITH counts AS (
  SELECT user_id, count(*) AS n_events
  FROM events GROUP BY user_id
)
SELECT CAST(user_id AS BIGINT) AS user_id, CAST(n_events AS BIGINT) AS n_events
FROM counts
ORDER BY n_events DESC, user_id ASC
LIMIT {_HH_K}
"""


@register(
    "events_heavy_hitters_sketch",
    _HH_ORACLE,
    doc=f"top-{_HH_K} users by event count via the approx_top_k sketch (capacity-exact at fixture scale)",
)
def events_heavy_hitters_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters through Spark 4's ``approx_top_k`` sketch: one
    partial-aggregated sketch pass over events (each task keeps at most
    ``capacity`` counters — bounded memory no matter how many distinct
    users), explode the sketch's top items, then a deterministic re-rank
    (count desc, user_id asc) to the final top-20.

    Contrast with the naive groupBy(user_id) + global sort: the sketch
    never materializes the full per-user histogram in the shuffle — at
    100 TB the histogram is billions of rows, the sketch is one
    ``capacity``-bounded state merged tree-wise. The fetch width (10k)
    over-covers the final k (20) so boundary ties cannot be clipped by
    the sketch's internal, unspecified tie order."""
    ev = load(spark, sf_dir, "events")
    sk = ev.agg(
        F.expr(f"approx_top_k(user_id, {_HH_FETCH}, {_HH_CAPACITY})").alias("topk")
    )
    return (
        sk.select(F.explode("topk").alias("e"))
        .select(
            F.col("e.item").cast("bigint").alias("user_id"),
            F.col("e.count").cast("bigint").alias("n_events"),
        )
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(_HH_K)
    )


# --------------------------------------------------------------------------
# Count-min sketch frequency estimation (bounded-memory, SQL-replayable)
# --------------------------------------------------------------------------

_CMS_D = 4  # depth: independent hash rows
_CMS_W = 256  # width: counters per row


_CMS_ORACLE = f"""
WITH hh AS (
  SELECT user_id, {_duck_hex_int(1)} AS h1, {_duck_hex_int(9)} AS h2
  FROM (SELECT DISTINCT user_id, md5(CAST(user_id AS VARCHAR)) AS m FROM events)
),
cms AS (
  SELECT i, (h1 + i * h2) % {_CMS_W} AS pos, CAST(count(*) AS BIGINT) AS cnt
  FROM events e JOIN hh USING (user_id), UNNEST(range(0, {_CMS_D})) AS t(i)
  GROUP BY 1, 2
),
top AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_exact
  FROM events GROUP BY user_id
  ORDER BY n_exact DESC, user_id LIMIT 10
),
probe AS (
  SELECT t.user_id, t.n_exact, i, (h1 + i * h2) % {_CMS_W} AS pos
  FROM top t JOIN hh USING (user_id), UNNEST(range(0, {_CMS_D})) AS u(i)
)
SELECT p.user_id, p.n_exact,
       min(c.cnt) AS n_est,
       min(c.cnt) - p.n_exact AS overcount
FROM probe p JOIN cms c USING (i, pos)
GROUP BY p.user_id, p.n_exact
ORDER BY n_exact DESC, user_id
"""


def _cms_hash_cols(df: DataFrame) -> DataFrame:
    """(…, h1, h2) — Kirsch-Mitzenmacher bases from the two 32-bit halves
    of md5(user_id); row i probes position (h1 + i·h2) mod width."""
    return df.withColumn("m", F.md5(F.col("user_id").cast("string"))).select(
        df["*"],
        F.expr("CAST(conv(substr(m, 1, 8), 16, 10) AS BIGINT)").alias("h1"),
        F.expr("CAST(conv(substr(m, 9, 8), 16, 10) AS BIGINT)").alias("h2"),
    )


def _cms_positions() -> Column:
    """array<struct<i,pos>> of the D probe cells for (h1, h2)."""
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                F.pmod(F.col("h1") + F.lit(i) * F.col("h2"), F.lit(_CMS_W)).alias("pos"),
            )
            for i in range(_CMS_D)
        ]
    )


@register(
    "events_freq_cms",
    _CMS_ORACLE,
    doc=f"count-min sketch ({_CMS_D}×{_CMS_W}) user-frequency estimates vs exact, top-10 users",
)
def events_freq_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation, built and probed entirely
    with deterministic integer SQL so the DuckDB oracle replays the
    sketch bit-exactly (no RNG): every event fans out map-side to its
    D=4 (row, position) cells; the sketch is a groupBy over a keyspace
    of AT MOST D×W = 1024 counters — partial aggregation means the
    shuffle carries ≤1024 rows per task no matter how many events or
    distinct users exist, which is the entire point of the sketch at
    100 TB (the per-user histogram it replaces is billions of rows wide).
    Estimates are the classic min over the D cells — always ≥ exact;
    the report joins them against the exact top-10 (TakeOrderedAndProject,
    no global sort) so the overcount is visible and testable.
    """
    ev = load(spark, sf_dir, "events").select("user_id")

    cms = (
        _cms_hash_cols(ev)
        .select(F.explode(_cms_positions()).alias("ip"))
        .select("ip.i", "ip.pos")
        .groupBy("i", "pos")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )

    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("user_id"))
        .limit(10)
    )
    # Hash bases inlined as ONE projection (md5 evaluated twice on 10
    # rows): a shared-md5 intermediate splits into two Projects that
    # CollapseProject won't merge, and that pushed-through-limit pair
    # breaks the Limit(Project(Sort)) pattern TakeOrderedAndProject needs.
    probe = (
        top.select(
            "user_id",
            "n_exact",
            F.expr(
                "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"
            ).alias("h1"),
            F.expr(
                "CAST(conv(substr(md5(CAST(user_id AS STRING)), 9, 8), 16, 10) AS BIGINT)"
            ).alias("h2"),
        )
        .select("user_id", "n_exact", F.explode(_cms_positions()).alias("ip"))
        .select("user_id", "n_exact", "ip.i", "ip.pos")
    )

    # The sketch is a constant-size (≤1024-row) table: broadcast it so the
    # probe never shuffles.
    est = (
        probe.join(F.broadcast(cms), ["i", "pos"])
        .groupBy("user_id", "n_exact")
        .agg(F.min("cnt").alias("n_est"))
    )
    return est.select(
        "user_id",
        "n_exact",
        "n_est",
        (F.col("n_est") - F.col("n_exact")).alias("overcount"),
    ).orderBy(F.desc("n_exact"), F.asc("user_id"))


# --------------------------------------------------------------------------
# Equi-depth histogram (exact deciles via the distributed rank path)
# --------------------------------------------------------------------------

_EQUIDEPTH_K = 10

_EQUIDEPTH_ORACLE = f"""
WITH ranked AS (
  SELECT l_extendedprice AS v,
         ntile({_EQUIDEPTH_K}) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber)
           AS decile
  FROM lineitem
)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(min(v), 2) AS lo,
       round(max(v), 2) AS hi
FROM ranked
GROUP BY decile
ORDER BY decile
"""


@register(
    "agg_histogram_equidepth",
    _EQUIDEPTH_ORACLE,
    doc=f"exact equi-depth ({_EQUIDEPTH_K}-bucket) price histogram via distributed rank",
)
def agg_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram — the complement of `agg_histogram`'s
    equal-WIDTH buckets: every decile holds the same row count and the
    boundaries fall where the data is dense (the histogram an optimizer
    or a data-quality monitor actually wants for a skewed money column).

    Scale shape (rewritten r13, guide §2.1 — decide on the value
    DICTIONARY, never rank the fact rows): the output only needs each
    decile's row count (closed-form from n — ANSI sizes are n//k + 1
    for the first n%k tiles) and min/max price. Rows sharing a price
    are CONTIGUOUS in the (v, orderkey, linenumber) total order, so a
    price's rank span is (cum − c_v, cum] off the per-price counts —
    the tiebreak columns can never split it. One map-side-combining
    groupBy collapses the fact table to the price dictionary, ONE
    dictionary-scale `grouped_running_sums` ranks it, and each price
    explodes to the deciles its span touches (≤ dict + k rows). The r12
    form ranked every FACT row (`exact_global_rank` on the full table:
    a 3-column range exchange + a per-run localCheckpoint
    materialization of the whole table + a broadcast join onto every
    row) — the driver's 3rd-slowest key at 3.46 s. The oracle replays
    ANSI ntile directly; `ntile_from_rank` matches it exactly
    (property-tested in test_rank.py for arbitrary (n, k))."""
    from gluettalax_spark.operators.rank import grouped_running_sums, ntile_from_rank

    li = load(spark, sf_dir, "lineitem").select(F.col("l_extendedprice").alias("v"))
    d = li.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("nv"))
    r = grouped_running_sums(d, [], ["v"], [("nv", "cum")]).withColumnRenamed("cum_total", "_n")
    spans = r.select(
        "v",
        "_n",
        ntile_from_rank(F.col("cum") - F.col("nv") + 1, F.col("_n"), _EQUIDEPTH_K).alias("d1"),
        ntile_from_rank(F.col("cum"), F.col("_n"), _EQUIDEPTH_K).alias("d2"),
    )
    # ANSI tile sizes, closed form: the first n % k tiles hold n//k + 1.
    n_rows = (
        F.floor(F.col("_n") / _EQUIDEPTH_K)
        + F.when(F.col("decile") <= F.col("_n") % _EQUIDEPTH_K, 1).otherwise(0)
    ).cast("long")
    return (
        spans.select("v", "_n", F.explode(F.sequence("d1", "d2")).alias("decile"))
        .groupBy("decile")
        .agg(
            F.first("_n").alias("_n"),
            F.round(F.min("v"), 2).alias("lo"),
            F.round(F.max("v"), 2).alias("hi"),
        )
        .select("decile", n_rows.alias("n_rows"), "lo", "hi")
        .orderBy("decile")
    )


# --------------------------------------------------------------------------
# One-pass table profile (the ANALYZE/data-quality surface)
# --------------------------------------------------------------------------

_PROFILE_ORACLE = """
SELECT * FROM (
  SELECT 'o_custkey' AS column_name, count(*) AS n_rows,
         count(*) - count(o_custkey) AS n_null,
         count(DISTINCT o_custkey) AS n_distinct,
         CAST(min(o_custkey) AS VARCHAR) AS min_val,
         CAST(max(o_custkey) AS VARCHAR) AS max_val
  FROM orders
  UNION ALL
  SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
         count(DISTINCT o_orderdate),
         strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S'),
         strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S')
  FROM orders
  UNION ALL
  SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
         count(DISTINCT o_orderpriority),
         min(o_orderpriority), max(o_orderpriority)
  FROM orders
  UNION ALL
  SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
         count(DISTINCT o_orderstatus),
         min(o_orderstatus), max(o_orderstatus)
  FROM orders
  UNION ALL
  SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
         count(DISTINCT o_totalprice),
         CAST(round(min(o_totalprice), 2) AS VARCHAR),
         CAST(round(max(o_totalprice), 2) AS VARCHAR)
  FROM orders
)
ORDER BY column_name
"""


@register(
    "table_profile_orders",
    _PROFILE_ORACLE,
    doc="one-pass column profile of orders: rows/nulls/exact distinct/min/max per column",
)
def table_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANALYZE / data-quality profile: per-column row count, null
    count, EXACT distinct count, and min/max — for five columns of
    ``orders`` in ONE scan. Spark plans the multi-column exact distinct
    as a single Expand (rows × #profiled columns) feeding one aggregate:
    one pass over the data, not one scan per column (the oracle's
    UNION-ALL form is the semantic spec, not the plan). At 100 TB you'd
    swap the exact distincts for HLL sketches (`agg_hll_sketch_union`
    shows the sketch path) — the Expand cost is the price of exactness,
    and it's the one knob this op documents.

    Min/max are normalized to strings per type (timestamps via a fixed
    format, doubles rounded) so one long-format result covers
    heterogeneous columns — the same shape ANALYZE tables and profiling
    dashboards use."""
    orders = load(spark, sf_dir, "orders")
    prof = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            c
            for name, mn, mx in [
                ("o_custkey", F.min("o_custkey").cast("string"), F.max("o_custkey").cast("string")),
                (
                    "o_orderdate",
                    F.date_format(F.min("o_orderdate"), "yyyy-MM-dd HH:mm:ss"),
                    F.date_format(F.max("o_orderdate"), "yyyy-MM-dd HH:mm:ss"),
                ),
                ("o_orderpriority", F.min("o_orderpriority"), F.max("o_orderpriority")),
                ("o_orderstatus", F.min("o_orderstatus"), F.max("o_orderstatus")),
                (
                    "o_totalprice",
                    F.round(F.min("o_totalprice"), 2).cast("string"),
                    F.round(F.max("o_totalprice"), 2).cast("string"),
                ),
            ]
            for c in (
                F.count(name).alias(f"cnt_{name}"),
                F.countDistinct(name).alias(f"nd_{name}"),
                mn.alias(f"min_{name}"),
                mx.alias(f"max_{name}"),
            )
        ],
    )
    cols = ["o_custkey", "o_orderdate", "o_orderpriority", "o_orderstatus", "o_totalprice"]
    stack_args = ", ".join(
        f"'{c}', n_rows - cnt_{c}, nd_{c}, min_{c}, max_{c}" for c in cols
    )
    return (
        prof.select(
            "n_rows",
            F.expr(
                f"stack({len(cols)}, {stack_args}) AS (column_name, n_null, n_distinct, min_val, max_val)"
            ),
        )
        .select("column_name", "n_rows", "n_null", "n_distinct", "min_val", "max_val")
        .orderBy("column_name")
    )


# --------------------------------------------------------------------------
# Exact distributed OLS (integer-moment accumulation)
# --------------------------------------------------------------------------

_OLS_ORACLE = """
WITH pts AS (
  SELECT o_orderpriority,
         CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
         CAST(round(o_totalprice * 100) AS BIGINT) AS y
  FROM orders
),
moments AS (
  SELECT o_orderpriority,
         CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx,
         CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(x * x) AS HUGEINT) AS sxx,
         CAST(sum(x * y) AS HUGEINT) AS sxy
  FROM pts GROUP BY o_orderpriority
)
SELECT o_orderpriority,
       CAST(n AS BIGINT) AS n_orders,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0, 6) AS slope_per_day,
       round((CAST(sy AS DOUBLE)
              - (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE))
                * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE) / 100.0, 4) AS intercept,
       round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 4) AS mean_price
FROM moments
ORDER BY o_orderpriority
"""


@register(
    "orders_price_trend_ols",
    _OLS_ORACLE,
    doc="per-priority OLS price trend via exact integer moment sums",
)
def orders_price_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed least-squares trend (price vs order day, per priority)
    from FIVE moment sums — the classic single-pass OLS a monitoring
    pipeline runs. The float pitfall: sum-of-products accumulation order
    differs across engines, so slopes disagree in the last ulp and a
    bit-exact compare fails. Fix: prices quantize to integer cents and
    days to integers, the moments accumulate as DECIMAL(38,0) (exact,
    mergeable, overflow-safe past int64 — DuckDB mirrors with HUGEINT),
    and the closed-form slope/intercept is evaluated on the exact sums.
    One partial-aggregated shuffle of 5 numbers per group at any scale;
    same trick family as the micro-nat perplexity fold. (Spark 3.5 has
    regr_slope/regr_intercept — float-path, order-dependent; this form
    is what you use when results must be reproducible run-to-run.)"""
    orders = load(spark, sf_dir, "orders")
    pts = orders.select(
        "o_orderpriority",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date"))
        .cast("decimal(38,0)")
        .alias("x"),
        F.round(F.col("o_totalprice") * 100).cast("decimal(38,0)").alias("y"),
    )
    m = pts.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope_raw = num / den
    return m.select(
        "o_orderpriority",
        F.col("n").cast("long").alias("n_orders"),
        F.round(slope_raw / 100.0, 6).alias("slope_per_day"),
        F.round(
            (F.col("sy").cast("double") - slope_raw * F.col("sx").cast("double"))
            / F.col("n").cast("double")
            / 100.0,
            4,
        ).alias("intercept"),
        F.round(F.col("sy").cast("double") / F.col("n").cast("double") / 100.0, 4).alias(
            "mean_price"
        ),
    ).orderBy("o_orderpriority")


_CUMULATIVE_DISTINCT_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
),
days AS (SELECT DISTINCT day FROM pairs)
SELECT strftime(d.day, '%Y-%m-%d') AS day,
       CAST(count(DISTINCT CASE WHEN p.day = d.day THEN p.user_id END) AS BIGINT) AS dau,
       CAST(count(DISTINCT p.user_id) AS BIGINT) AS users_to_date
FROM days d JOIN pairs p ON p.day <= d.day
GROUP BY d.day
ORDER BY day
"""


@register(
    "events_cumulative_distinct_users",
    _CUMULATIVE_DISTINCT_ORACLE,
    doc="exact users-to-date per day via cumulative bitmap OR (mergeable exact distinct)",
)
def events_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cumulative distinct users per day — the growth-accounting
    twin of `events_dau_bitmap`, and the query that shows WHY the bitmap
    representation matters: a naive users-to-date needs one
    count-distinct per day over an ever-growing prefix (O(days × events)
    re-scans), while bitmaps are MERGEABLE — the per-(day, bucket)
    bitmaps the DAU pass already produces roll forward with a cumulative
    ``bitmap_or_agg`` window per bucket, and ``bitmap_count`` of the
    running OR is the exact distinct-to-date.

    Scale shape: events collapse to one 4 KB bitmap per (day, bucket) in
    a single map-side-partial aggregate; the cumulative window partitions
    on bucket (bounded rows per partition: one per day — calendar-bounded,
    not volume-bounded) so no single task ever sees more than
    days × 4 KB; the final per-day sum is a bounded aggregate. Everything
    is exact, hence oracle-checked — the HLL route trades this exactness
    for smaller state."""
    events = load(spark, sf_dir, "events")
    per_bucket = (
        events.select(
            F.date_trunc("day", "ts").alias("day"),
            F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
            F.expr("bitmap_bit_position(user_id)").alias("pos"),
        )
        .groupBy("day", "bucket")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    # A bucket idle on day D would otherwise contribute no row for D and
    # its carried-forward bitmap would vanish from that day's sum — so the
    # window rolls over the DENSE (day × bucket) grid. Both dimensions are
    # metadata-scale (calendar days × id-range/32k buckets), which is what
    # justifies the broadcast cross join.
    days = per_bucket.select("day").distinct()
    buckets = per_bucket.select("bucket").distinct()
    grid = days.crossJoin(F.broadcast(buckets))
    dense = grid.join(per_bucket, ["day", "bucket"], "left")
    w_cum = (
        Window.partitionBy("bucket")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rolled = dense.select(
        "day",
        F.coalesce(F.expr("bitmap_count(bm)"), F.lit(0)).alias("daily_bits"),
        F.coalesce(
            F.bitmap_count(F.expr("bitmap_or_agg(bm)").over(w_cum)), F.lit(0)
        ).alias("cum_bits"),
    )
    return (
        rolled.groupBy("day")
        .agg(
            F.sum("daily_bits").alias("dau"),
            F.sum("cum_bits").alias("users_to_date"),
        )
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), "dau", "users_to_date")
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# Distribution drift: PSI over the event-type mix (early vs late half)
# --------------------------------------------------------------------------

PSI_Q = 100_000_000  # PSI terms quantized to 1e-8 so the total is an int sum

_PSI_ORACLE = f"""
WITH b AS (
  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid FROM events
),
c AS (
  SELECT event_type,
         CAST(count(CASE WHEN epoch_us(ts) <= b.mid THEN 1 END) AS BIGINT) AS c_ref,
         CAST(count(CASE WHEN epoch_us(ts) >  b.mid THEN 1 END) AS BIGINT) AS c_cur
  FROM events CROSS JOIN b
  GROUP BY event_type
),
t AS (
  SELECT CAST(sum(c_ref) AS BIGINT) AS n_ref, CAST(sum(c_cur) AS BIGINT) AS n_cur,
         CAST(count(*) AS BIGINT) AS k
  FROM c
),
terms AS (
  SELECT c.event_type, c.c_ref, c.c_cur,
         CAST(floor(
           ((CAST(c.c_ref + 1 AS DOUBLE) / (t.n_ref + t.k)) - (CAST(c.c_cur + 1 AS DOUBLE) / (t.n_cur + t.k)))
           * ln((CAST(c.c_ref + 1 AS DOUBLE) / (t.n_ref + t.k)) / (CAST(c.c_cur + 1 AS DOUBLE) / (t.n_cur + t.k)))
           * {PSI_Q}
         ) AS BIGINT) AS term_e8
  FROM c CROSS JOIN t
)
SELECT event_type, c_ref, c_cur, term_e8,
       CAST((SELECT sum(term_e8) FROM terms) AS BIGINT) AS psi_e8_total
FROM terms
ORDER BY event_type
"""


@register(
    "events_drift_psi",
    _PSI_ORACLE,
    doc="population-stability-index drift of the event-type mix, early vs late half",
)
def events_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the earlier and later halves of
    the event stream — the standard production monitor for "did the
    category mix drift" (PSI > 0.1 investigate, > 0.25 alarm), applied to
    event_type with Laplace (+1) smoothing so a category vanishing from
    one half contributes a finite term instead of infinity.

    Exactness: the split point is integer epoch-microsecond arithmetic,
    the per-(half, type) counts are integers, and each PSI term is
    quantized to 1e-8 (floor) BEFORE the total — so the corpus-level PSI
    is an exact integer sum, not a float fold whose addend order could
    differ across engines (ln itself is the one libm call, same accepted
    precedent as the perplexity ops).

    Scale shape: ONE scan of events — the half-assignment is a map-side
    comparison against the broadcast 1-row min/max aggregate, the counts
    are one (event_type)-keyed aggregate carrying both halves as
    conditional counts, and everything after is metadata-scale (k rows).
    """
    events = load(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("us"), "event_type"
    )
    # integer `div`, matching the oracle's //: double-division-then-cast is
    # exact only while min+max < 2^53, a silent precision cliff.
    b = events.agg(F.expr("(min(us) + max(us)) div 2").alias("mid"))
    c = (
        events.join(F.broadcast(b))
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.col("us") <= F.col("mid"), 1)).alias("c_ref"),
            F.count(F.when(F.col("us") > F.col("mid"), 1)).alias("c_cur"),
        )
    )
    t = c.agg(
        F.sum("c_ref").cast("long").alias("n_ref"),
        F.sum("c_cur").cast("long").alias("n_cur"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    p = (F.col("c_ref") + 1).cast("double") / (F.col("n_ref") + F.col("k"))
    q = (F.col("c_cur") + 1).cast("double") / (F.col("n_cur") + F.col("k"))
    terms = (
        c.join(F.broadcast(t))
        .select(
            "event_type",
            "c_ref",
            "c_cur",
            F.floor((p - q) * F.log(p / q) * PSI_Q).cast("long").alias("term_e8"),
        )
    )
    total = terms.agg(F.sum("term_e8").cast("long").alias("psi_e8_total"))
    return (
        terms.join(F.broadcast(total))
        .select("event_type", "c_ref", "c_cur", "term_e8", "psi_e8_total")
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Content checksum audit (order/partition-independent table fingerprints)
# --------------------------------------------------------------------------

_CKSUM_MOD = 1 << 61

# Canonical row renderings. Integers print identically on both engines;
# doubles do NOT (formatting differs), so o_totalprice goes through the
# same round-to-cents integer as the OLS op; timestamps render as dates.
_CKSUM_SPARK = {
    "orders": (
        "concat_ws('|', o_orderkey, o_custkey, o_orderstatus, "
        "CAST(round(o_totalprice * 100) AS BIGINT), "
        "date_format(o_orderdate, 'yyyy-MM-dd'), o_orderpriority)"
    ),
    "customer": "concat_ws('|', c_custkey, c_name, c_nationkey)",
    "documents": "concat_ws('|', doc_id, lang, source, n_chars, md5(text))",
}

_CKSUM_DUCK = {
    "orders": (
        "concat_ws('|', o_orderkey, o_custkey, o_orderstatus, "
        "CAST(round(o_totalprice * 100) AS BIGINT), "
        "strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority)"
    ),
    "customer": "concat_ws('|', c_custkey, c_name, c_nationkey)",
    "documents": "concat_ws('|', doc_id, lang, source, n_chars, md5(text))",
}


def _cksum_oracle() -> str:
    parts = []
    for t, canon in _CKSUM_DUCK.items():
        parts.append(
            f"""
SELECT '{t}' AS table_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(w) % {_CKSUM_MOD} AS BIGINT) AS checksum
FROM (
  SELECT {_duck_hex_int(1, 15)} + {_duck_hex_int(17, 15)} AS w
  FROM (SELECT md5({canon}) AS m FROM {t})
)"""
        )
    return " UNION ALL ".join(parts) + " ORDER BY table_name"


@register(
    "table_checksum_audit",
    _cksum_oracle(),
    doc="order-independent content checksums per table (data-integrity audit)",
)
def table_checksum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints for pipeline data-integrity audits: does the
    copied / migrated / re-partitioned table still hold EXACTLY the same
    rows? Each row renders to a canonical string (integers and dates
    only — float formatting differs across engines, so money goes
    through the same round-to-cents integer as the OLS op; document text
    contributes via its md5, so the checksum covers content without
    shipping it), hashes to two 60-bit md5 words, and the table checksum
    is their SUM modulo 2^61 — commutative, so the result is independent
    of row order, partitioning, and parallelism, and two tables can be
    compared across engines, file layouts, or clusters by two numbers.

    Scale shape: pure map-side hashing plus one partial-aggregated
    1-row-per-table sum (exact DECIMAL(38,0); DuckDB mirrors with
    HUGEINT) — no shuffle wider than the number of audited tables. An
    incremental audit maintains the same sum under inserts/deletes by
    adding/subtracting row words (mergeable by construction)."""
    outs = []
    for t, canon in _CKSUM_SPARK.items():
        rows = load(spark, sf_dir, t).select(F.expr(f"md5({canon})").alias("m"))
        w = rows.select(
            (
                F.expr("CAST(conv(substr(m, 1, 15), 16, 10) AS BIGINT)")
                + F.expr("CAST(conv(substr(m, 17, 15), 16, 10) AS BIGINT)")
            )
            .cast("decimal(38,0)")
            .alias("w")
        )
        outs.append(
            w.agg(
                F.lit(t).alias("table_name"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.expr(f"CAST(sum(w) % {_CKSUM_MOD} AS BIGINT)").alias("checksum"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("table_name")


# --------------------------------------------------------------------------
# Holt linear-trend forecast (exact linear-recurrence closed form)
# --------------------------------------------------------------------------

HOLT_M = 8  # trailing months in the fit window


def _holt_weights() -> tuple[int, list[int], list[int]]:
    """Exact position weights for Holt double exponential smoothing with
    alpha = beta = 1/2 over a window of HOLT_M values (v_1 oldest):
    l_1 = v_1, b_1 = v_2 - v_1, then l_i = (v_i + l + b)/2,
    b_i = (l_i - l)/2 + b/2. The recursion is LINEAR in the inputs, so
    level and trend are fixed rational combinations of v_1..v_m — scaled
    by the common denominator they become integer weight vectors, and the
    whole fit is exact integer arithmetic in any engine. Verified in
    tests: a constant series gives trend exactly 0, a linear series
    recovers its slope exactly."""
    import math
    from fractions import Fraction as Fr

    m = HOLT_M
    lv = [Fr(0)] * m
    bv = [Fr(0)] * m
    lv[0] = Fr(1)
    bv[0], bv[1] = Fr(-1), Fr(1)
    for i in range(1, m):
        nl = [(lv[j] + bv[j]) / 2 for j in range(m)]
        nl[i] += Fr(1, 2)
        nb = [(nl[j] - lv[j]) / 2 + bv[j] / 2 for j in range(m)]
        lv, bv = nl, nb
    d = 1
    for f in lv + bv:
        d = d * f.denominator // math.gcd(d, f.denominator)
    return d, [int(f * d) for f in lv], [int(f * d) for f in bv]


_HOLT_D, _HOLT_WL, _HOLT_WB = _holt_weights()


def _holt_oracle() -> str:
    wl = ", ".join(map(str, _HOLT_WL))
    wb = ", ".join(map(str, _HOLT_WB))
    return f"""
WITH monthly AS (
  SELECT o_orderpriority AS pri,
         date_trunc('month', o_orderdate) AS mon,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS HUGEINT) AS cents
  FROM orders GROUP BY 1, 2
),
ranked AS (
  SELECT pri, mon, cents,
         row_number() OVER (PARTITION BY pri ORDER BY mon DESC) AS rn
  FROM monthly
),
win AS (
  SELECT pri, cents, {HOLT_M} + 1 - rn AS pos,
         max(CASE WHEN rn = 1 THEN mon END) OVER (PARTITION BY pri) AS last_mon
  FROM ranked WHERE rn <= {HOLT_M}
),
fit AS (
  SELECT pri, strftime(max(last_mon), '%Y-%m') AS last_month,
         sum(cents * ([{wl}])[pos]) AS sl,
         sum(cents * ([{wb}])[pos]) AS sb
  FROM win GROUP BY pri HAVING count(*) = {HOLT_M}
)
SELECT pri AS o_orderpriority, last_month,
       round(CAST(sl AS DOUBLE) / {_HOLT_D} / 100, 2) AS level,
       round(CAST(sb AS DOUBLE) / {_HOLT_D} / 100, 2) AS trend,
       round(CAST(sl + sb AS DOUBLE) / {_HOLT_D} / 100, 2) AS forecast_next
FROM fit
ORDER BY o_orderpriority
"""


@register(
    "orders_forecast_holt",
    _holt_oracle(),
    doc=f"Holt linear-trend next-month revenue forecast per priority (exact {HOLT_M}-month closed form)",
)
def orders_forecast_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-month revenue forecast per order priority by Holt double
    exponential smoothing (level + trend) over the trailing ``HOLT_M``
    months. A sequential fit looks un-SQL-able, but with dyadic smoothing
    constants the recursion is a LINEAR map — level and trend collapse to
    fixed integer weight vectors over the window (precomputed once with
    exact rational arithmetic, shared verbatim by the DuckDB oracle), so
    the distributed fit is two exact integer dot products per group and
    the forecast is reproducible bit-for-bit run-to-run; the only floats
    are final display divisions. Same closed-form trick family as
    `events_user_ewma`, one model rung up.

    Scale shape: one partial-aggregated (priority, month) rollup; a
    priority-partitioned rank window prunes to the trailing window
    BEFORE the fit aggregate; per-group state is ``HOLT_M`` rows no
    matter the history length."""
    wl = F.array(*[F.lit(w) for w in _HOLT_WL])
    wb = F.array(*[F.lit(w) for w in _HOLT_WB])
    orders = load(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.date_trunc("month", "o_orderdate").alias("mon"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("decimal(38,0)")
        .alias("cents")
    )
    w_rank = Window.partitionBy("pri").orderBy(F.desc("mon"))
    win = (
        monthly.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= HOLT_M)
        .select(
            "pri",
            "cents",
            (F.lit(HOLT_M + 1) - F.col("rn")).alias("pos"),
            F.max(F.when(F.col("rn") == 1, F.col("mon"))).over(Window.partitionBy("pri")).alias("last_mon"),
        )
    )
    fit = (
        win.groupBy("pri")
        .agg(
            F.date_format(F.max("last_mon"), "yyyy-MM").alias("last_month"),
            F.sum(F.col("cents") * F.element_at(wl, F.col("pos"))).alias("sl"),
            F.sum(F.col("cents") * F.element_at(wb, F.col("pos"))).alias("sb"),
            F.count(F.lit(1)).alias("nm"),
        )
        .filter(F.col("nm") == HOLT_M)
    )
    return fit.select(
        F.col("pri").alias("o_orderpriority"),
        "last_month",
        F.round(F.col("sl").cast("double") / _HOLT_D / 100, 2).alias("level"),
        F.round(F.col("sb").cast("double") / _HOLT_D / 100, 2).alias("trend"),
        F.round((F.col("sl") + F.col("sb")).cast("double") / _HOLT_D / 100, 2).alias("forecast_next"),
    ).orderBy("o_orderpriority")


# --------------------------------------------------------------------------
# A/B experiment analysis (deterministic split, two-proportion z-test)
# --------------------------------------------------------------------------

_AB_ORACLE = """
WITH assigned AS (
  SELECT DISTINCT user_id,
         CASE WHEN (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) % 2 = 0
              THEN 'A' ELSE 'B' END AS grp
  FROM events
),
conv AS (
  SELECT DISTINCT user_id FROM (
    SELECT user_id, event_type, epoch_us(ts) AS us,
           max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_us
    FROM events
  )
  WHERE event_type = 'purchase' AND last_click_us IS NOT NULL
    AND us - last_click_us <= 3600000000
),
g AS (
  SELECT a.grp,
         CAST(count(*) AS BIGINT) AS n_users,
         CAST(count(c.user_id) AS BIGINT) AS n_converted
  FROM assigned a LEFT JOIN conv c USING (user_id)
  GROUP BY a.grp
),
w AS (
  SELECT
    max(CASE WHEN grp = 'A' THEN n_users END)     AS n_a,
    max(CASE WHEN grp = 'A' THEN n_converted END) AS conv_a,
    max(CASE WHEN grp = 'B' THEN n_users END)     AS n_b,
    max(CASE WHEN grp = 'B' THEN n_converted END) AS conv_b
  FROM g
)
SELECT n_a, conv_a, n_b, conv_b,
       round(CAST(conv_a AS DOUBLE) / n_a, 6) AS rate_a,
       round(CAST(conv_b AS DOUBLE) / n_b, 6) AS rate_b,
       round(
         (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
         / nullif(sqrt(
             (CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
             * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
             * (1.0 / n_a + 1.0 / n_b)
           ), 0), 4) AS z_score
FROM w
"""


@register(
    "events_ab_test",
    _AB_ORACLE,
    doc="two-proportion z-test over a deterministic md5 A/B user split",
)
def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment analysis: users split A/B by the parity of their md5
    first hex digit (deterministic and engine-independent — the same
    integer-hash-threshold trick as `sample_hash_split`, so assignment is
    reproducible everywhere and unit-balanced), conversion = at least one
    ATTRIBUTED purchase (within 1 h after a click — the fill-forward
    last-click window from `events_attribution_last_touch`, so the metric
    stays mid-range at every SF instead of saturating); the
    two-proportion pooled z-test statistic comes out
    of the exact integer counts through a fixed sequence of IEEE
    divisions and one sqrt (correctly rounded by spec — deterministic,
    unlike transcendentals).

    Since the hash split is independent of behavior this doubles as the
    A/A calibration every experimentation stack should run: |z| must be
    small, which the test asserts. Scale shape: one user-partitioned
    fill-forward window, two distinct-user aggregates (assignment table
    and converter set, both id-keyed), one id-keyed left join, then a 2-row
    group aggregate pivoted into a single stats row — nothing after the
    distincts exceeds metadata scale. This is the readout every
    experimentation pipeline runs on event logs."""
    events = load(spark, sf_dir, "events")
    assigned = events.select("user_id").distinct().select(
        "user_id",
        F.when(
            F.expr("(conv(substr(md5(CAST(user_id AS STRING)), 1, 1), 16, 10) % 2)") == 0,
            F.lit("A"),
        )
        .otherwise(F.lit("B"))
        .alias("grp"),
    )
    w_click = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = events.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.max(
            F.when(F.col("event_type") == "click", F.unix_micros("ts"))
        ).over(w_click).alias("last_click_us"),
    )
    conv = (
        marked.filter(
            (F.col("event_type") == "purchase")
            & F.col("last_click_us").isNotNull()
            & (F.col("us") - F.col("last_click_us") <= 3_600_000_000)
        )
        .select("user_id")
        .distinct()
        .withColumn("converted", F.lit(1))
    )
    g = (
        assigned.join(conv, "user_id", "left")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.count("converted").cast("long").alias("n_converted"),
        )
    )
    w = g.agg(
        F.max(F.when(F.col("grp") == "A", F.col("n_users"))).alias("n_a"),
        F.max(F.when(F.col("grp") == "A", F.col("n_converted"))).alias("conv_a"),
        F.max(F.when(F.col("grp") == "B", F.col("n_users"))).alias("n_b"),
        F.max(F.when(F.col("grp") == "B", F.col("n_converted"))).alias("conv_b"),
    )
    pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (F.col("n_a") + F.col("n_b"))
    ra = F.col("conv_a").cast("double") / F.col("n_a")
    rb = F.col("conv_b").cast("double") / F.col("n_b")
    # pool of 0 or 1 (everyone or no one converts — the fixture's small
    # SFs hit this) makes the pooled variance 0: z is undefined, and ANSI
    # Spark raises where DuckDB would emit inf — nullif in BOTH engines.
    z = (ra - rb) / F.nullif(
        F.sqrt(pool * (1 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))), F.lit(0.0)
    )
    return w.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.round(ra, 6).alias("rate_a"),
        F.round(rb, 6).alias("rate_b"),
        F.round(z, 4).alias("z_score"),
    )


# --------------------------------------------------------------------------
# CUSUM change-point detection on daily event volume
# --------------------------------------------------------------------------

_CUSUM_ORACLE = """
WITH counts AS (
  SELECT event_type, date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM counts),
days AS (
  SELECT unnest(range(d0, d1 + INTERVAL 1 DAY, INTERVAL 1 DAY)) AS day FROM bounds
),
types AS (SELECT DISTINCT event_type FROM counts),
dense AS (
  SELECT t.event_type, d.day, COALESCE(c.x, 0) AS x
  FROM days d
  CROSS JOIN types t
  LEFT JOIN counts c ON c.event_type = t.event_type AND c.day = d.day
),
cum AS (
  SELECT event_type, day, x,
         CAST(row_number() OVER w AS BIGINT) AS t,
         CAST(sum(x) OVER w AS BIGINT)       AS prefix,
         CAST(count(*) OVER p AS BIGINT)     AS n_days,
         CAST(sum(x) OVER p AS BIGINT)       AS total
  FROM dense
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         p AS (PARTITION BY event_type)
),
scored AS (
  SELECT *, n_days * prefix - t * total AS s FROM cum
),
peak AS (
  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY abs(s) DESC, day) AS rk
  FROM scored
)
SELECT event_type, n_days, total,
       strftime(day, '%Y-%m-%d') AS cp_day,
       CAST(s AS BIGINT) AS s_peak,
       CAST((prefix * 1000) // t AS BIGINT) AS mean_before_milli,
       CAST(((total - prefix) * 1000) // nullif(n_days - t, 0) AS BIGINT) AS mean_after_milli
FROM peak WHERE rk = 1
ORDER BY event_type
"""


@register(
    "events_changepoint_cusum",
    _CUSUM_ORACLE,
    doc="CUSUM change-point per event type over daily volume (integer-exact scaled statistic)",
)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-point detection on each event type's daily volume via the
    CUSUM statistic (Page 1954): S_t = sum_{i<=t}(x_i - mean), peak
    |S_t| marks the most likely level shift. Computed on the SCALED
    integer form S'_t = n_days * prefix_t - t * total (= n_days * S_t),
    so the statistic, the argmax, and the before/after rate summary are
    all exact int64 cross-engine — no float means anywhere.

    Scale shape: the corpus collapses to the (event_type x day) count
    grid in ONE map-side-partial aggregate (metadata-scale output:
    types x calendar days); every window after that partitions on
    event_type with calendar-bounded rows per partition, the same dense
    metadata-grid discipline as `events_cumulative_distinct_users` —
    idle days must appear as x=0 rows or the statistic silently skips
    them, hence the sequence-explode over the [min_day, max_day] span
    and the broadcast cross join with the type list. Reference analogue:
    none (no analytics plane); this is drift/incident surface for a
    training-data ingest pipeline, the batch sibling of
    `events_drift_psi`."""
    return cusum_daily_changepoints(load(spark, sf_dir, "events"))


def cusum_daily_changepoints(events: DataFrame) -> DataFrame:
    """CUSUM change-point core over an events frame with (event_type,
    ts) columns — factored out so tests can drive it on synthetic
    step-function series with a known shift day."""
    counts = (
        events.select("event_type", F.date_trunc("day", "ts").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").cast("long").alias("x"))
        .persist(CKPT_LEVEL)  # feeds bounds, the type list, AND the dense join
    )
    bounds = counts.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    days = bounds.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day")
    )
    types = counts.select("event_type").distinct()
    dense = (
        days.crossJoin(F.broadcast(types))
        .join(counts, ["event_type", "day"], "left")
        .select("event_type", "day", F.coalesce("x", F.lit(0)).cast("long").alias("x"))
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    cum = dense.select(
        "event_type",
        "day",
        F.row_number().over(Window.partitionBy("event_type").orderBy("day")).cast("long").alias("t"),
        F.sum("x").over(w_cum).cast("long").alias("prefix"),
        F.count("*").over(w_all).cast("long").alias("n_days"),
        F.sum("x").over(w_all).cast("long").alias("total"),
    )
    scored = cum.withColumn(
        "s", F.col("n_days") * F.col("prefix") - F.col("t") * F.col("total")
    )
    peak = scored.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(F.abs("s").desc(), "day")
        ),
    ).filter(F.col("rk") == 1)
    return peak.select(
        "event_type",
        "n_days",
        "total",
        F.date_format("day", "yyyy-MM-dd").alias("cp_day"),
        F.col("s").cast("long").alias("s_peak"),
        F.expr("(prefix * 1000) div t").cast("long").alias("mean_before_milli"),
        F.expr("((total - prefix) * 1000) div nullif(n_days - t, 0)")
        .cast("long")
        .alias("mean_after_milli"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Weekday seasonality index on order revenue
# --------------------------------------------------------------------------

_SEASONALITY_ORACLE = """
WITH per AS (
  SELECT CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INTEGER) AS weekday,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
  FROM orders GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_orders) AS BIGINT) AS n_all,
         CAST(sum(total_cents) AS BIGINT) AS total_all
  FROM per
)
SELECT weekday, n_orders, total_cents,
       CAST(total_cents // n_orders AS BIGINT) AS mean_cents,
       CAST((CAST(total_cents AS HUGEINT) * n_all * 1000)
            // (CAST(n_orders AS HUGEINT) * total_all) AS BIGINT) AS index_milli
FROM per, tot
ORDER BY weekday
"""


@register(
    "orders_seasonality_weekday",
    _SEASONALITY_ORACLE,
    doc="weekday revenue seasonality index (per-weekday mean vs overall mean, integer-exact)",
)
def orders_seasonality_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality on order revenue: each weekday's mean
    order value as a permille index against the overall mean — the
    calendar-profile statistic behind staffing/capacity dashboards and
    the seasonal-adjustment step of the forecasting family
    (`orders_forecast_holt` models level+trend; this exposes the
    periodic component).

    Exactness: prices quantize to integer cents at the scan; the index
    is the exact rational (total_cents * n_all * 1000) /
    (n_orders * total_all) evaluated in decimal(38,0) (HUGEINT twin) —
    never a ratio of two already-rounded means, which would compound
    integer-division error. Scale shape: one map-side-partial groupBy to
    SEVEN rows; the totals are a 1-row broadcast; nothing else touches
    the fact table."""
    orders = load(spark, sf_dir, "orders")
    per = orders.groupBy(
        F.dayofweek("o_orderdate").cast("int").alias("weekday")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("total_cents"),
    )
    tot = per.agg(
        F.sum("n_orders").cast("long").alias("n_all"),
        F.sum("total_cents").cast("long").alias("total_all"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "weekday",
            "n_orders",
            "total_cents",
            F.expr("total_cents div n_orders").alias("mean_cents"),
            F.expr(
                "cast((cast(total_cents as decimal(38,0)) * n_all * 1000)"
                " div (cast(n_orders as decimal(38,0)) * total_all) as bigint)"
            ).alias("index_milli"),
        )
        .orderBy("weekday")
    )


# --------------------------------------------------------------------------
# Inter-arrival gap statistics (per-user gaps, summarized per type)
# --------------------------------------------------------------------------

_INTERARRIVAL_ORACLE = """
WITH seq AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id
         ) AS gap_us
  FROM events
)
SELECT event_type,
       CAST(count(gap_us) AS BIGINT)                    AS n_gaps,
       CAST(sum(gap_us) // count(gap_us) AS BIGINT)     AS mean_gap_us,
       round(quantile_cont(gap_us, 0.5), 2)             AS p50_gap_us,
       round(quantile_cont(gap_us, 0.9), 2)             AS p90_gap_us,
       CAST(max(gap_us) AS BIGINT)                      AS max_gap_us
FROM seq
WHERE gap_us IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "events_interarrival_by_type",
    _INTERARRIVAL_ORACLE,
    doc="per-user inter-arrival gap stats summarized per event type (exact microseconds)",
)
def events_interarrival_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival analysis: the gap between a user's consecutive
    events of the same type, summarized per type — the cadence profile
    behind rate-limit tuning, bot detection (suspiciously uniform gaps),
    and session-timeout calibration (`events_session_window`'s gap
    parameter should sit between p90 and max).

    Exactness: gaps are integer epoch-microsecond differences from ONE
    lag window; mean is integer division of exact sums; p50/p90 use the
    same continuous-interpolation definition in both engines (Spark
    ``percentile`` == DuckDB ``quantile_cont``, the `events_outlier_mad`
    precedent — interpolation midpoints are exact halves of integers).

    Scale shape: the lag window partitions on (user_id, event_type) —
    per-user-per-type rows are bounded by one user's activity, the
    accepted sessionize discipline, never a per-type global sort; the
    summary is a types-sized aggregate (exact percentile sorts within
    the type group — swap percentile_approx in at corpus scale for a
    sketch-sized cut, same plan otherwise)."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    seq = events.select(
        "event_type",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return (
        seq.groupBy("event_type")
        .agg(
            F.count("gap_us").cast("long").alias("n_gaps"),
            F.expr("sum(gap_us) div count(gap_us)").alias("mean_gap_us"),
            F.round(F.percentile("gap_us", F.lit(0.5)), 2).alias("p50_gap_us"),
            F.round(F.percentile("gap_us", F.lit(0.9)), 2).alias("p90_gap_us"),
            F.max("gap_us").cast("long").alias("max_gap_us"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# DAU/MAU stickiness (28-day rolling distinct, pair-explode — no re-scan)
# --------------------------------------------------------------------------

_STICKINESS_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
),
days AS (SELECT DISTINCT day FROM pairs)
SELECT strftime(d.day, '%Y-%m-%d') AS day,
       CAST(count(DISTINCT CASE WHEN p.day = d.day THEN p.user_id END) AS BIGINT) AS dau,
       CAST(count(DISTINCT p.user_id) AS BIGINT) AS mau28,
       CAST(count(DISTINCT CASE WHEN p.day = d.day THEN p.user_id END) * 1000
            // count(DISTINCT p.user_id) AS BIGINT) AS stickiness_milli
FROM days d
JOIN pairs p ON p.day >= d.day - INTERVAL 27 DAY AND p.day <= d.day
GROUP BY d.day
ORDER BY day
"""


@register(
    "events_dau_mau_stickiness",
    _STICKINESS_ORACLE,
    doc="DAU/MAU(28d) stickiness per day — exact rolling distinct via forward-contribution",
)
def events_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engagement headline metric: stickiness = DAU / trailing-28-day
    MAU, per day, exact. The naive form re-scans a 28-day window per day
    (O(days x events)); this reuses the `events_wau_exact` shape — the
    deduped (day, user) pair table FORWARD-CONTRIBUTES each activity day
    to the <= 28 future windows it belongs to, so the fact stream is
    read once and the explode factor is a constant 28 on a
    calendar-bounded pair table, never a range join against the raw
    events.

    Exactness: distinct counts and one integer permille division —
    nothing floats. Scale shape: one dedupe shuffle to (day, user)
    (calendar x users — far smaller than events), a 28x map-side
    explode of THAT, a semi-join against the observed-day list, and one
    distinct-agg per day. The conditional DAU rides the same aggregate
    (no second pass)."""
    events = load(spark, sf_dir, "events")
    pairs = (
        events.select(F.date_trunc("day", "ts").alias("day"), "user_id")
        .distinct()
        .persist(CKPT_LEVEL)  # feeds the day list AND the contribution explode
    )
    days = pairs.select("day").distinct()
    contrib = pairs.select(
        F.col("day").alias("active_day"),
        F.explode(
            F.sequence(
                F.col("day"),
                F.col("day") + F.expr("INTERVAL 27 DAYS"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day"),
        "user_id",
    )
    return (
        contrib.join(F.broadcast(days), "day", "semi")
        .groupBy("day")
        .agg(
            F.countDistinct(
                F.when(F.col("active_day") == F.col("day"), F.col("user_id"))
            ).cast("long").alias("dau"),
            F.countDistinct("user_id").cast("long").alias("mau28"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "mau28",
            F.expr("(dau * 1000) div mau28").alias("stickiness_milli"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov test (exact scaled-integer ECDF gap)
# --------------------------------------------------------------------------

_KS_A, _KS_B = "purchase", "view"

_KS_ORACLE = f"""
WITH v AS (
  SELECT value, event_type FROM events
  WHERE event_type IN ('{_KS_A}', '{_KS_B}') AND value IS NOT NULL
),
g AS (
  SELECT value,
         CAST(count(CASE WHEN event_type = '{_KS_A}' THEN 1 END) AS BIGINT) AS ca,
         CAST(count(CASE WHEN event_type = '{_KS_B}' THEN 1 END) AS BIGINT) AS cb
  FROM v GROUP BY value
),
r AS (
  SELECT value,
         CAST(sum(ca) OVER w AS BIGINT) AS ra,
         CAST(sum(cb) OVER w AS BIGINT) AS rb,
         CAST(sum(ca) OVER () AS BIGINT) AS na,
         CAST(sum(cb) OVER () AS BIGINT) AS nb
  FROM g
  WINDOW w AS (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
scored AS (
  SELECT *, abs(CAST(ra AS HUGEINT) * nb - CAST(rb AS HUGEINT) * na) AS d_num FROM r
)
SELECT na AS n_a, nb AS n_b,
       CAST(d_num * 1000000 // (CAST(na AS HUGEINT) * nb) AS BIGINT) AS ks_d_ppm,
       round(value, 4) AS ks_at_value
FROM scored
ORDER BY d_num DESC, value
LIMIT 1
"""


@register(
    "events_ks_test",
    _KS_ORACLE,
    doc=f"two-sample Kolmogorov-Smirnov distance between {_KS_A} and {_KS_B} value distributions",
)
def events_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the value
    distributions of two event types — the distribution-level companion
    of `events_ab_test` (which compares proportions): D = max over the
    merged value axis of |ECDF_a - ECDF_b|, plus the value where the
    gap peaks. The standard 'did the whole distribution shift?' check
    behind payment-anomaly and experiment monitoring.

    Exactness: D is computed on the SCALED integer form
    |r_a * n_b - r_b * n_a| (r = cumulative counts at each distinct
    value), carried in decimal(38,0)/HUGEINT — no float ECDFs, so the
    argmax and the reported ppm are exact at any n_a * n_b < 1e38. The
    peak location is the raw double the engines share, rounded for
    display only.

    Scale shape: one filter + groupBy collapses events to the
    distinct-value axis; BOTH running ECDFs and their totals ride one
    `grouped_running_sums` pass over that table (one global group —
    range shuffle + metadata offsets, never an unpartitioned
    data-scale window); the argmax is TakeOrderedAndProject(1)."""
    from gluettalax_spark.operators.rank import grouped_running_sums

    events = load(spark, sf_dir, "events")
    g = (
        events.filter(
            F.col("event_type").isin(_KS_A, _KS_B) & F.col("value").isNotNull()
        )
        .groupBy("value")
        .agg(
            F.count(F.when(F.col("event_type") == _KS_A, 1)).cast("long").alias("ca"),
            F.count(F.when(F.col("event_type") == _KS_B, 1)).cast("long").alias("cb"),
        )
    )
    run = grouped_running_sums(g, [], [F.col("value")], [("ca", "ra"), ("cb", "rb")])
    scored = run.withColumnsRenamed({"ra_total": "na", "rb_total": "nb"}).select(
        "value",
        "na",
        "nb",
        F.abs(
            F.col("ra").cast("decimal(38,0)") * F.col("nb")
            - F.col("rb").cast("decimal(38,0)") * F.col("na")
        ).alias("d_num"),
    )
    return (
        scored.orderBy(F.desc("d_num"), "value")
        .limit(1)
        .select(
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            F.expr(
                "cast((d_num * 1000000) div (cast(na as decimal(38,0)) * nb) as bigint)"
            ).alias("ks_d_ppm"),
            F.round("value", 4).alias("ks_at_value"),
        )
    )


# --------------------------------------------------------------------------
# Rolling z-score anomalies (per-user trailing window, integer-exact test)
# --------------------------------------------------------------------------

_ZWIN = 16  # trailing window (events), excluding the current one
_ZK = 3     # |z| threshold

_ROLLING_Z_ORACLE = f"""
WITH pts AS (
  SELECT event_type, user_id, ts, event_id,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL
),
win AS (
  SELECT event_type, c,
         CAST(count(*) OVER w AS BIGINT)      AS n,
         CAST(sum(c) OVER w AS BIGINT)        AS s1,
         CAST(sum(c * c) OVER w AS BIGINT)    AS s2
  FROM pts
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id
               ROWS BETWEEN {_ZWIN} PRECEDING AND 1 PRECEDING)
),
flagged AS (
  SELECT event_type, n,
         CASE WHEN n >= 4 AND
                   CAST(n * c - s1 AS HUGEINT) * (n * c - s1) * n
                   > CAST({_ZK * _ZK} AS HUGEINT) * (n * s2 - s1 * s1) * n
              THEN 1 ELSE 0 END AS is_anomaly
  FROM win
)
SELECT event_type,
       CAST(count(CASE WHEN n >= 4 THEN 1 END) AS BIGINT) AS n_scored,
       CAST(sum(is_anomaly) AS BIGINT)                    AS n_anomalies,
       CAST(sum(is_anomaly) * 1000000 // nullif(count(CASE WHEN n >= 4 THEN 1 END), 0)
            AS BIGINT)                                    AS anomaly_ppm
FROM flagged
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "events_rolling_zscore",
    _ROLLING_Z_ORACLE,
    doc=f"per-user trailing-{_ZWIN} z-score anomalies (|z|>{_ZK}), integer-exact decision",
)
def events_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-calibrating anomaly detection: each event's value is scored
    against ITS OWN USER's trailing-{_ZWIN} history (mean/std of the
    preceding window, current point excluded), flagged when |z| > {_ZK}
    — the per-entity baseline that catches a user 10x-ing their normal
    spend, which a global threshold never sees.

    Exactness: the |z| > k decision never computes z — it cross-
    multiplies the exact integer identity
    (n*x - s1)^2 * n > k^2 * (n*s2 - s1^2) * n on cent-quantized
    values in decimal/HUGEINT, so no sqrt, no division, no float
    variance, and both engines agree bit-for-bit (windows shorter than
    4 points are unscored — a 1-2 sample std is noise).

    Scale shape: ONE rows-frame window partitioned on (user_id,
    event_type) — bounded per user, the sessionize discipline — then a
    types-sized aggregate. The window carries only (count, sum, sum of
    squares): constant state per row."""
    events = load(spark, sf_dir, "events")
    pts = events.filter(F.col("value").isNotNull()).select(
        "event_type",
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    w = (
        Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-_ZWIN, -1)
    )
    win = pts.select(
        "event_type",
        "c",
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
        F.sum("c").over(w).cast("long").alias("s1"),
        F.sum(F.col("c") * F.col("c")).over(w).cast("long").alias("s2"),
    )
    flagged = win.select(
        "event_type",
        "n",
        F.when(
            (F.col("n") >= 4)
            & (
                (F.col("n") * F.col("c") - F.col("s1")).cast("decimal(38,0)")
                * (F.col("n") * F.col("c") - F.col("s1"))
                * F.col("n")
                > F.lit(_ZK * _ZK).cast("decimal(38,0)")
                * (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1"))
                * F.col("n")
            ),
            1,
        )
        .otherwise(0)
        .alias("is_anomaly"),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.when(F.col("n") >= 4, 1)).cast("long").alias("n_scored"),
            F.sum("is_anomaly").cast("long").alias("n_anomalies"),
            F.expr(
                "(sum(is_anomaly) * 1000000L)"
                " div nullif(count(CASE WHEN n >= 4 THEN 1 END), 0)"
            ).alias("anomaly_ppm"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Benford first-digit audit (fraud/synthetic-data detector)
# --------------------------------------------------------------------------

# floor(ln(1 + 1/d) / ln(10) * 1e6) for d = 1..9 — precomputed so the
# expected distribution is a shared integer constant in both engines.
_BENFORD_PPM = (301029, 176091, 124938, 96910, 79181, 66946, 57991, 51152, 45757)

_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN {p}" for d, p in enumerate(_BENFORD_PPM, start=1)
) + " END"

_BENFORD_ORACLE = f"""
WITH c AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
  WHERE o_totalprice > 0
),
d AS (
  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit FROM c
),
g AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit
),
t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM g)
SELECT digit, n,
       CAST(n * 1000000 // total AS BIGINT) AS observed_ppm,
       {_BENFORD_CASE} AS benford_ppm,
       CAST(abs(n * 1000000 // total - {_BENFORD_CASE}) AS BIGINT) AS dev_ppm
FROM g, t
ORDER BY digit
"""


@register(
    "events_benford_audit",
    _BENFORD_ORACLE,
    doc="Benford's-law first-digit audit of order amounts (integer ppm deviations)",
)
def events_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformance of order amounts — the forensic-audit
    classic: organically generated monetary values follow
    P(d) = log10(1 + 1/d), and a digit bucket that deviates hard flags
    fabricated or synthetically capped data. (The fixture's uniform
    synthetic prices DON'T follow Benford — which is exactly what the
    audit is supposed to reveal about synthetic data.)

    Exactness: the first digit comes from the decimal STRING of the
    integer cents (integer-to-string is identical in both engines —
    never float log10, whose ulp could flip a leading-digit boundary);
    expected probabilities are precomputed integer ppm constants shared
    by both engines; observed shares and deviations are integer
    division. Scale shape: one map-side-partial groupBy to at most nine
    rows, a 1-row total, done."""
    orders = load(spark, sf_dir, "orders")
    d = orders.filter(F.col("o_totalprice") > 0).select(
        F.expr(
            "CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING), 1, 1) AS BIGINT)"
        ).alias("digit")
    )
    g = d.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = g.agg(F.sum("n").cast("long").alias("total"))
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            "digit",
            "n",
            F.expr("(n * 1000000L) div total").alias("observed_ppm"),
            F.expr(_BENFORD_CASE).cast("long").alias("benford_ppm"),
            F.expr(f"abs((n * 1000000L) div total - {_BENFORD_CASE})")
            .cast("long")
            .alias("dev_ppm"),
        )
        .orderBy("digit")
    )


# --------------------------------------------------------------------------
# Repeat-purchase rate by acquisition cohort
# --------------------------------------------------------------------------

_REPEAT_COHORT_ORACLE = """
WITH per_cust AS (
  SELECT o_custkey,
         strftime(min(o_orderdate), '%Y-%m') AS cohort,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
)
SELECT cohort,
       CAST(count(*) AS BIGINT)                                   AS n_customers,
       CAST(count(CASE WHEN n_orders >= 2 THEN 1 END) AS BIGINT)  AS n_repeat,
       CAST(count(CASE WHEN n_orders >= 2 THEN 1 END) * 1000
            // count(*) AS BIGINT)                                AS repeat_milli,
       CAST(sum(n_orders) * 1000 // count(*) AS BIGINT)           AS orders_per_cust_milli,
       CAST(sum(cents) // count(*) AS BIGINT)                     AS ltv_cents
FROM per_cust
GROUP BY cohort
ORDER BY cohort
"""


@register(
    "orders_repeat_cohort",
    _REPEAT_COHORT_ORACLE,
    doc="repeat-purchase rate and LTV by acquisition-month cohort (integer permille)",
)
def orders_repeat_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acquisition-cohort quality: customers grouped by their FIRST
    order month, with the repeat rate (2+ lifetime orders), orders per
    customer, and lifetime value per cohort — the retention twin of
    `events_cohort_retention` on the TRANSACTIONAL table, where the
    money is.

    Exactness: the cohort key is min(date) formatted month (integer
    date comparison + deterministic formatting); rates are integer
    permille division on cent-quantized sums. Scale shape: ONE
    map-side-partial groupBy(customer) computes first-order month,
    order count, and lifetime cents together (no window, no self-join
    — min/count/sum fold in the same aggregate), then a
    months-sized cohort aggregate."""
    orders = load(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.date_format(F.min("o_orderdate"), "yyyy-MM").alias("cohort"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("cents"),
    )
    return (
        per_cust.groupBy("cohort")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.count(F.when(F.col("n_orders") >= 2, 1)).cast("long").alias("n_repeat"),
            F.expr(
                "(count(CASE WHEN n_orders >= 2 THEN 1 END) * 1000) div count(1)"
            ).alias("repeat_milli"),
            F.expr("(sum(n_orders) * 1000) div count(1)").alias("orders_per_cust_milli"),
            F.expr("sum(cents) div count(1)").alias("ltv_cents"),
        )
        .orderBy("cohort")
    )


# --------------------------------------------------------------------------
# Markov entropy rate of user event sequences
# --------------------------------------------------------------------------

_MER_SCALE = 100_000_000  # per-transition entropy terms quantized to 1e-8

_MARKOV_ENTROPY_ORACLE = f"""
WITH seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS nij
  FROM seq WHERE to_type IS NOT NULL GROUP BY from_type, to_type
),
tot AS (
  SELECT counts.*,
         CAST(sum(nij) OVER (PARTITION BY from_type) AS BIGINT) AS ni,
         CAST(sum(nij) OVER () AS BIGINT) AS nn
  FROM counts
),
terms AS (
  SELECT nn,
         CAST(floor(CAST(nij AS DOUBLE) / nn
                    * ln(CAST(ni AS DOUBLE) / nij) * {_MER_SCALE}) AS BIGINT) AS t_e8,
         from_type
  FROM tot
)
SELECT
  CAST(max(nn) AS BIGINT) AS n_transitions,
  CAST(count(DISTINCT from_type) AS BIGINT) AS n_states,
  CAST(sum(t_e8) AS BIGINT) AS entropy_rate_e8,
  CAST(CAST(sum(t_e8) AS BIGINT) AS DOUBLE) / {_MER_SCALE}
    / ln(CAST(count(DISTINCT from_type) AS DOUBLE)) AS normalized_entropy
FROM terms
"""


@register(
    "events_markov_entropy_rate",
    _MARKOV_ENTROPY_ORACLE,
    doc="entropy rate of the user event-type Markov chain (integer 1e-8 terms)",
)
def events_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How predictable is the next user action? The empirical entropy
    rate of the first-order chain, ``H = Σ_ij (n_ij/N)·ln(n_i/n_ij)`` —
    1.0 normalized means actions are uniform noise, near 0 means the
    funnel is deterministic. Complements `events_markov_transitions`
    (the matrix) with the single-number monitor a drift alert wants.

    Exactness: per-cell terms floor-quantize to 1e-8 (the PSI/char-
    entropy recipe) so the sum is an exact integer; the k²-cell grid is
    bounded by the event-type vocabulary, so the windows run at
    metadata scale. One data pass (the lead window, user-partitioned),
    identical to the transition-matrix shape."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = seq.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).cast("long").alias("nij"))
    # Marginals as broadcast re-aggregations of the k²-cell grid (the
    # events_markov_transitions shape) — per-type counts are enum-bounded,
    # and the plan suite bans the global-window alternative.
    ni = counts.groupBy("from_type").agg(F.sum("nij").cast("long").alias("ni"))
    nn = counts.agg(F.sum("nij").cast("long").alias("nn"))
    tot = (
        counts.join(F.broadcast(ni), "from_type")
        .crossJoin(F.broadcast(nn))
        .select("from_type", "nij", "ni", "nn")
    )
    terms = tot.select(
        "nn",
        "from_type",
        F.expr(
            f"CAST(floor(CAST(nij AS DOUBLE) / nn"
            f" * ln(CAST(ni AS DOUBLE) / nij) * {_MER_SCALE}) AS BIGINT)"
        ).alias("t_e8"),
    )
    return terms.agg(
        F.max("nn").cast("long").alias("n_transitions"),
        F.countDistinct("from_type").cast("long").alias("n_states"),
        F.sum("t_e8").cast("long").alias("entropy_rate_e8"),
        F.expr(
            f"CAST(CAST(sum(t_e8) AS BIGINT) AS DOUBLE) / {_MER_SCALE}"
            f" / ln(CAST(count(DISTINCT from_type) AS DOUBLE))"
        ).alias("normalized_entropy"),
    )


# --------------------------------------------------------------------------
# Supplier lead-time percentiles (order date → line ship date)
# --------------------------------------------------------------------------

_LEAD_TIME_ORACLE = """
WITH lags AS (
  SELECT s.s_nationkey,
         CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT) AS lag_days
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
)
SELECT n.n_name AS supplier_nation,
       CAST(count(*) AS BIGINT)                 AS n_lines,
       CAST(sum(lag_days) // count(*) AS BIGINT) AS mean_lag_days,
       round(quantile_cont(lag_days, 0.5), 2)   AS p50_lag_days,
       round(quantile_cont(lag_days, 0.95), 2)  AS p95_lag_days,
       CAST(max(lag_days) AS BIGINT)            AS max_lag_days
FROM lags
JOIN nation n ON n.n_nationkey = lags.s_nationkey
GROUP BY n.n_name
ORDER BY supplier_nation
"""


@register(
    "supplier_lead_time_percentiles",
    _LEAD_TIME_ORACLE,
    doc="order→ship lead-time percentiles per supplier nation (exact whole days)",
)
def supplier_lead_time_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment-SLA profile: whole-day lag from order placement to
    line shipment, summarized per supplier nation — the ops-review
    query that decides which region's supply chain drags.

    Exactness: lags are exact integer days; the mean is an integer
    floor division; the two percentiles are the shared continuous-
    interpolation definition ((n−1)p index), whose two-point midpoints
    on integers are deterministic IEEE.

    Scale: lineitem⋈orders shuffles once on orderkey; supplier and
    nation broadcast; then one nation-keyed aggregate (25 groups). The
    exact percentile costs a per-group sort at fixture scale — at
    100 TB swap in percentile_approx (documented trade, the
    agg_percentiles_approx pattern)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    lags = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select(
            F.col("n_name").alias("supplier_nation"),
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).cast("long").alias("lag_days"),
        )
    )
    return (
        lags.groupBy("supplier_nation")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.expr("sum(lag_days) div count(1)").alias("mean_lag_days"),
            F.round(F.expr("percentile(lag_days, 0.5)"), 2).alias("p50_lag_days"),
            F.round(F.expr("percentile(lag_days, 0.95)"), 2).alias("p95_lag_days"),
            F.max("lag_days").cast("long").alias("max_lag_days"),
        )
        .orderBy("supplier_nation")
    )


# --------------------------------------------------------------------------
# Power-law tail MLE (Hill / Clauset-Shalizi-Newman alpha) on user activity
# --------------------------------------------------------------------------

_PL_XMIN = 5  # tail threshold: users with ≥ 5 events
_PL_SCALE = 1_000_000  # ln terms floor-quantized to micro-nats


_POWERLAW_ORACLE = f"""
WITH activity AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY user_id
),
dict AS (
  SELECT c, CAST(count(*) AS BIGINT) AS m
  FROM activity WHERE c >= {_PL_XMIN} GROUP BY c
),
terms AS (
  SELECT c, m,
         CAST(floor(ln(CAST(c AS DOUBLE) / {_PL_XMIN}.0) * {_PL_SCALE}) AS BIGINT) AS lnq
  FROM dict
),
m AS (
  SELECT CAST(sum(m) AS BIGINT) AS n_tail,
         CAST(count(*) AS BIGINT) AS k_distinct,
         CAST(sum(m * lnq) AS BIGINT) AS s_micro
  FROM terms
)
SELECT n_tail, k_distinct, s_micro,
       {_PL_XMIN} AS xmin,
       1.0 + CAST(n_tail AS DOUBLE) * {_PL_SCALE} / s_micro AS alpha,
       (CAST(n_tail AS DOUBLE) * {_PL_SCALE} / s_micro) / sqrt(CAST(n_tail AS DOUBLE)) AS se
FROM m
"""


@register(
    "events_powerlaw_mle",
    _POWERLAW_ORACLE,
    doc=f"power-law tail exponent MLE (Hill estimator, xmin={_PL_XMIN}) on user activity",
)
def events_powerlaw_mle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous power-law tail exponent for the per-user activity
    distribution: alpha = 1 + n / Σ ln(c_u/xmin) over users with c_u ≥
    xmin — the Hill / Clauset-Shalizi-Newman MLE, the estimator sibling
    of `corpus_token_zipf`'s log-log OLS (MLE beats regression on the
    tail; publishing both is exactly what the CSN paper prescribes).
    `se` is the asymptotic standard error (alpha−1)/√n.

    Exactness: the activity histogram is a bounded dictionary (distinct
    activity counts ≪ users — Heaps-style), ln evaluates once per
    dictionary entry and floor-quantizes to micro-nats (the repo-wide
    ln recipe), multiplicities are exact integers, and alpha/se are
    single shared IEEE expressions over two exact integers.

    Scale: one data-scale groupBy(user_id) — everything after runs on
    the count dictionary."""
    events = load(spark, sf_dir, "events")
    activity = events.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("c"))
    dict_df = (
        activity.filter(F.col("c") >= _PL_XMIN)
        .groupBy("c")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
    )
    terms = dict_df.withColumn(
        "lnq",
        F.expr(f"CAST(floor(ln(CAST(c AS DOUBLE) / {_PL_XMIN}.0) * {_PL_SCALE}) AS BIGINT)"),
    )
    m = terms.agg(
        F.sum("m").cast("long").alias("n_tail"),
        F.count(F.lit(1)).cast("long").alias("k_distinct"),
        F.sum(F.col("m") * F.col("lnq")).cast("long").alias("s_micro"),
    )
    return m.selectExpr(
        "n_tail",
        "k_distinct",
        "s_micro",
        f"{_PL_XMIN} AS xmin",
        f"1.0 + CAST(n_tail AS DOUBLE) * {_PL_SCALE} / s_micro AS alpha",
        f"(CAST(n_tail AS DOUBLE) * {_PL_SCALE} / s_micro) / sqrt(CAST(n_tail AS DOUBLE)) AS se",
    )


# --------------------------------------------------------------------------
# Difference-in-differences uplift readout (A/B × pre/post)
# --------------------------------------------------------------------------

_DID_ORACLE = """
WITH bounds AS (
  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid FROM events
),
tagged AS (
  SELECT CASE WHEN (strpos('0123456789abcdef',
                    substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) % 2 = 0
              THEN 0 ELSE 1 END AS grp,
         CASE WHEN epoch_us(ts) < b.mid THEN 0 ELSE 1 END AS period,
         CAST(round(value * 100) AS BIGINT) AS v
  FROM events, bounds b
),
cells AS (
  SELECT grp, period,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v) AS BIGINT)   AS s
  FROM tagged GROUP BY grp, period
),
wide AS (
  SELECT
    CAST(sum(CASE WHEN grp = 0 AND period = 0 THEN n END) AS BIGINT) AS n_a_pre,
    CAST(sum(CASE WHEN grp = 0 AND period = 0 THEN s END) AS BIGINT) AS s_a_pre,
    CAST(sum(CASE WHEN grp = 0 AND period = 1 THEN n END) AS BIGINT) AS n_a_post,
    CAST(sum(CASE WHEN grp = 0 AND period = 1 THEN s END) AS BIGINT) AS s_a_post,
    CAST(sum(CASE WHEN grp = 1 AND period = 0 THEN n END) AS BIGINT) AS n_b_pre,
    CAST(sum(CASE WHEN grp = 1 AND period = 0 THEN s END) AS BIGINT) AS s_b_pre,
    CAST(sum(CASE WHEN grp = 1 AND period = 1 THEN n END) AS BIGINT) AS n_b_post,
    CAST(sum(CASE WHEN grp = 1 AND period = 1 THEN s END) AS BIGINT) AS s_b_post
  FROM cells
)
SELECT *,
       (CAST(s_b_post AS DOUBLE) / n_b_post - CAST(s_b_pre AS DOUBLE) / n_b_pre)
         - (CAST(s_a_post AS DOUBLE) / n_a_post - CAST(s_a_pre AS DOUBLE) / n_a_pre)
         AS did_cents
FROM wide
"""


@register(
    "events_did_uplift",
    _DID_ORACLE,
    doc="difference-in-differences uplift (hash A/B × time midpoint pre/post)",
)
def events_did_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: the causal-uplift readout for a rollout
    that switches on mid-experiment — (post−pre) change for the treated
    hash bucket minus the same change for the control bucket, on mean
    event value. Reuses the repo's deterministic md5-parity assignment
    (`events_ab_test`) and epoch-microsecond midpoint (`events_drift_psi`)
    so assignment and period are reproducible in every engine. Since the
    hash split is independent of time, this doubles as an A/A
    calibration: did_cents should sit near zero.

    Exactness: all eight cell moments are exact integers (cents,
    microseconds); `did_cents` is one shared IEEE expression over them.

    Scale: one data-scale aggregate to the 2×2 grid (map-side partials),
    the min/max bounds row broadcast into the scan — nothing else."""
    events = load(spark, sf_dir, "events")
    bounds = events.agg(
        F.expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2").alias("mid")
    )
    tagged = events.crossJoin(F.broadcast(bounds)).select(
        (
            F.expr("CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 1), 16, 10) AS BIGINT)")
            % 2
        ).alias("grp"),
        F.when(F.unix_micros("ts") < F.col("mid"), 0).otherwise(1).alias("period"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    cells = tagged.groupBy("grp", "period").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
    )
    wide = cells.agg(
        *[
            F.sum(
                F.when((F.col("grp") == g) & (F.col("period") == p), F.col(c))
            ).cast("long").alias(f"{c}_{gl}_{pl}")
            for g, gl in ((0, "a"), (1, "b"))
            for p, pl in ((0, "pre"), (1, "post"))
            for c in ("n", "s")
        ]
    )
    return wide.selectExpr(
        "n_a_pre", "s_a_pre", "n_a_post", "s_a_post",
        "n_b_pre", "s_b_pre", "n_b_post", "s_b_post",
        "(CAST(s_b_post AS DOUBLE) / n_b_post - CAST(s_b_pre AS DOUBLE) / n_b_pre)"
        " - (CAST(s_a_post AS DOUBLE) / n_a_post - CAST(s_a_pre AS DOUBLE) / n_a_pre)"
        " AS did_cents",
    )


# --------------------------------------------------------------------------
# Kaplan-Meier survival: signup → first purchase, right-censored
# --------------------------------------------------------------------------

_KM_DAY_US = 86_400 * 1_000_000
_KM_SCALE = 1_000_000  # ln(1 - d/n) floor-quantized to micro-nats


_KM_ORACLE = f"""
WITH horizon AS (SELECT max(epoch_us(ts)) AS h FROM events),
entry AS (
  SELECT user_id, min(epoch_us(ts)) AS t0
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
conv AS (
  SELECT e.user_id, min(epoch_us(p.ts)) AS t1
  FROM entry e JOIN events p
    ON p.user_id = e.user_id AND p.event_type = 'purchase'
   AND epoch_us(p.ts) >= e.t0
  GROUP BY e.user_id
),
subjects AS (
  SELECT e.user_id,
         CASE WHEN c.t1 IS NOT NULL THEN 1 ELSE 0 END AS observed,
         CAST(CASE WHEN c.t1 IS NOT NULL THEN (c.t1 - e.t0) // {_KM_DAY_US}
                   ELSE (h.h - e.t0) // {_KM_DAY_US} END AS BIGINT) AS dur
  FROM entry e LEFT JOIN conv c ON c.user_id = e.user_id, horizon h
),
days AS (
  SELECT dur AS day,
         CAST(sum(observed) AS BIGINT) AS d,
         CAST(sum(1 - observed) AS BIGINT) AS c
  FROM subjects GROUP BY dur
),
risk AS (
  SELECT day, d, c,
         CAST((SELECT count(*) FROM subjects) -
              coalesce(sum(d + c) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
  FROM days
),
steps AS (
  SELECT day, n_risk, d, c,
         CASE WHEN d = n_risk THEN 1 ELSE 0 END AS absorbed,
         CASE WHEN d = n_risk THEN 0
              ELSE CAST(floor(ln(CAST(n_risk - d AS DOUBLE) / n_risk) * {_KM_SCALE}) AS BIGINT)
         END AS lnq
  FROM risk WHERE d > 0
),
km AS (
  SELECT day, n_risk, d, absorbed,
         CAST(sum(lnq) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ln_s_micro,
         CAST(sum(absorbed) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_absorbed
  FROM steps
)
SELECT day, n_risk, d, ln_s_micro,
       CASE WHEN n_absorbed > 0 THEN 0.0
            ELSE round(exp(CAST(ln_s_micro AS DOUBLE) / {_KM_SCALE}), 6) END AS survival
FROM km
ORDER BY day
"""


@register(
    "events_survival_km",
    _KM_ORACLE,
    doc="Kaplan-Meier survival curve (signup → first purchase, right-censored)",
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate for time-to-conversion: subjects
    enter at their first signup, the event is their first purchase at or
    after entry, and everyone else is right-censored at the corpus
    horizon — THE standard censored-duration readout (activation delay,
    churn, time-to-second-order all take this exact shape), which naive
    "mean days to convert" gets wrong by dropping censored users.

    Exactness: durations are exact integer days (microsecond floor-div);
    the at-risk counts come from an integer running sum over the day
    dictionary; each step's ln(1 − d/n) floor-quantizes to micro-nats so
    the cumulative log-survival is an exact integer; the displayed
    survival is one exp() per row, rounded to 6 dp in both engines
    (exp differs by a last ulp across libms; the round(…, n) display
    convention from `text_unigram_logppl`).

    Scale: entry/conversion are user-keyed aggregates and one user-keyed
    join; everything after lives on the day dictionary (bounded by the
    corpus day span), where the running sums ride the range-partitioned
    rank machinery — no single-task window over subjects."""
    from gluettalax_spark.operators.rank import grouped_running_sums

    events = load(spark, sf_dir, "events")
    horizon = events.agg(F.max(F.unix_micros("ts")).alias("h"))
    entry = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("t0"))
    )
    conv = (
        entry.join(
            events.filter(F.col("event_type") == "purchase").select(
                "user_id", F.unix_micros("ts").alias("tp")
            ),
            "user_id",
        )
        .filter(F.col("tp") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("tp").alias("t1"))
    )
    subjects = (
        entry.join(conv, "user_id", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(F.col("t1").isNotNull(), 1).otherwise(0).alias("observed"),
            F.expr(
                f"CAST(CASE WHEN t1 IS NOT NULL THEN (t1 - t0) div {_KM_DAY_US}"
                f" ELSE (h - t0) div {_KM_DAY_US} END AS BIGINT)"
            ).alias("dur"),
        )
    )
    days = subjects.groupBy(F.col("dur").alias("day")).agg(
        F.sum("observed").cast("long").alias("d"),
        F.sum(1 - F.col("observed")).cast("long").alias("c"),
    )
    total = subjects.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    cum = grouped_running_sums(
        days.withColumn("dc", F.col("d") + F.col("c")), [], ["day"], [("dc", "cum_dc")]
    )
    risk = cum.crossJoin(F.broadcast(total)).select(
        "day",
        "d",
        "c",
        (F.col("n_total") - (F.col("cum_dc") - F.col("dc"))).cast("long").alias("n_risk"),
    )
    steps = risk.filter(F.col("d") > 0).select(
        "day",
        "n_risk",
        "d",
        F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0).alias("absorbed"),
        F.expr(
            f"""CASE WHEN d = n_risk THEN 0
                 ELSE CAST(floor(ln(CAST(n_risk - d AS DOUBLE) / n_risk) * {_KM_SCALE}) AS BIGINT)
                END"""
        ).alias("lnq"),
    )
    km = grouped_running_sums(
        steps, [], ["day"], [("lnq", "ln_s_micro"), ("absorbed", "n_absorbed")]
    )
    return (
        km.select(
            "day",
            "n_risk",
            "d",
            F.col("ln_s_micro").cast("long").alias("ln_s_micro"),
            F.expr(
                f"""CASE WHEN n_absorbed > 0 THEN 0.0
                     ELSE round(exp(CAST(ln_s_micro AS DOUBLE) / {_KM_SCALE}), 6) END"""
            ).alias("survival"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# Poisson bootstrap confidence interval (deterministic hash replicates)
# --------------------------------------------------------------------------

_BOOT_B = 32  # replicates
# Poisson(1) CDF thresholds on the 2^20 grid (floor(CDF(k)·2^20), k=0..4;
# weights cap at 5). Precomputed constants — identical literals in both
# engines, so replicate weights are pure integer comparisons.
_BOOT_CUTS = (385749, 771499, 964373, 1028665, 1044738)
_BOOT_LO_IDX = 2   # 2nd/31st order statistics of 32 replicate means:
_BOOT_HI_IDX = 31  # a ~94% percentile-bootstrap interval


def _boot_weight_case(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_BOOT_CUTS)
    )
    return f"CASE {cases} ELSE 5 END"


_BOOT_ORACLE = f"""
WITH rep AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents, b.b AS b
  FROM orders, unnest(range(0, {_BOOT_B})) AS b(b)
),
weighted AS (
  SELECT b, cents,
         {_boot_weight_case(
             "((strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR) || '_' || CAST(b AS VARCHAR)), 1, 1)) - 1) * 65536"
             " + (strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR) || '_' || CAST(b AS VARCHAR)), 2, 1)) - 1) * 4096"
             " + (strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR) || '_' || CAST(b AS VARCHAR)), 3, 1)) - 1) * 256"
             " + (strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR) || '_' || CAST(b AS VARCHAR)), 4, 1)) - 1) * 16"
             " + (strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR) || '_' || CAST(b AS VARCHAR)), 5, 1)) - 1))"
         )} AS w
  FROM rep
),
means AS (
  SELECT b,
         CAST(sum(CAST(w AS BIGINT) * cents) AS BIGINT) AS s,
         CAST(sum(w) AS BIGINT) AS n
  FROM weighted GROUP BY b
),
sorted AS (
  SELECT list_sort(list(CAST(s AS DOUBLE) / n)) AS ms FROM means
),
base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_sum
  FROM orders
)
SELECT base.n_orders,
       CAST(base.cents_sum AS DOUBLE) / base.n_orders / 100 AS mean_price,
       {_BOOT_B} AS n_replicates,
       sorted.ms[{_BOOT_LO_IDX}] / 100 AS ci_lo,
       sorted.ms[{_BOOT_HI_IDX}] / 100 AS ci_hi
FROM base, sorted
"""


@register(
    "orders_bootstrap_ci_poisson",
    _BOOT_ORACLE,
    doc=f"Poisson-bootstrap CI for mean order price ({_BOOT_B} hash-deterministic replicates)",
)
def orders_bootstrap_ci_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-bootstrap confidence interval for the mean order price
    via the POISSON bootstrap — the resampling scheme that works on
    streams and shards (each row independently enters replicate b with a
    Poisson(1) multiplicity; Chamandy et al. 2012, public) — here made
    fully deterministic: the multiplicity is the Poisson(1) inverse CDF
    evaluated on a 20-bit integer carved from md5(orderkey, replicate),
    so both engines draw IDENTICAL "random" weights with no RNG at all.

    Exactness: weights and weighted sums are exact integers; each
    replicate mean is one double division; the CI bounds are order
    statistics of the 32-value sorted replicate array (array_sort of
    doubles — total order, no fold).

    Scale: the ×{_BOOT_B} explode is map-side (no join); each replicate
    is a 2-long partial aggregate, so the whole bootstrap costs one
    shuffle of {_BOOT_B} keys × 2 longs regardless of corpus size — the
    reason the Poisson bootstrap is THE bootstrap at 100 TB."""
    orders = load(spark, sf_dir, "orders")
    u_expr = (
        "CAST(conv(substr(md5(concat(CAST(o_orderkey AS STRING), '_', CAST(b AS STRING))), 1, 5), 16, 10) AS BIGINT)"
    )
    rep = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.explode(F.expr(f"sequence(0, {_BOOT_B - 1})")).alias("b"),
    )
    weighted = rep.select(
        "b", "cents", F.expr(_boot_weight_case(u_expr)).alias("w")
    )
    means = weighted.groupBy("b").agg(
        F.sum(F.col("w").cast("long") * F.col("cents")).cast("long").alias("s"),
        F.sum("w").cast("long").alias("n"),
    )
    sorted_ms = means.agg(
        F.array_sort(F.collect_list(F.col("s").cast("double") / F.col("n"))).alias("ms")
    )
    base = orders.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("cents_sum"),
    )
    return base.crossJoin(F.broadcast(sorted_ms)).selectExpr(
        "n_orders",
        "CAST(cents_sum AS DOUBLE) / n_orders / 100 AS mean_price",
        f"{_BOOT_B} AS n_replicates",
        f"ms[{_BOOT_LO_IDX - 1}] / 100 AS ci_lo",
        f"ms[{_BOOT_HI_IDX - 1}] / 100 AS ci_hi",
    )


# --------------------------------------------------------------------------
# Sequence-pattern matching over per-user event strings (MATCH_RECOGNIZE)
# --------------------------------------------------------------------------

# Each event type maps to one character; a user's history becomes one
# ordered string and patterns are plain regexes over it. This is the
# portable emulation of SQL MATCH_RECOGNIZE (Spark has no native one).
_SEQ_CHAR = {"view": "V", "click": "C", "purchase": "P", "error": "E", "signup": "S"}
_SEQ_PATTERNS = (
    ("view_click_buy", "VC*P"),        # view, then clicks, then purchase
    ("strict_funnel", "VCP"),           # immediately adjacent funnel
    ("buy_then_error", "P[^P]*E"),      # purchase followed by an error
    ("double_purchase", "P[VCES]*P"),   # repeat purchase with no churn gap
)


def _seq_char_case(col: str) -> str:
    whens = " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in _SEQ_CHAR.items())
    return f"CASE {col} {whens} END"


_SEQ_ORACLE = f"""
WITH seqs AS (
  SELECT user_id,
         string_agg({_seq_char_case("event_type")}, '' ORDER BY ts, event_id) AS s
  FROM events GROUP BY user_id
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM seqs),
hits AS (
  {" UNION ALL ".join(
      f"SELECT '{name}' AS pattern, CAST(count(*) FILTER (WHERE regexp_matches(s, '{rx}')) AS BIGINT) AS n_matched FROM seqs"
      for name, rx in _SEQ_PATTERNS
  )}
)
SELECT h.pattern, h.n_matched, t.n_users,
       CAST(h.n_matched * 1000000 // t.n_users AS BIGINT) AS share_ppm
FROM hits h, tot t
ORDER BY h.pattern
"""


@register(
    "events_sequence_match",
    _SEQ_ORACLE,
    doc="MATCH_RECOGNIZE-style regex patterns over per-user event sequences",
)
def events_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral sequence patterns — "viewed, clicked around, then
    bought", "bought then hit an error", "repeat purchase" — matched as
    regexes over each user's time-ordered event-type string: the
    portable emulation of SQL:2016 MATCH_RECOGNIZE (Flink/Oracle have
    it; Spark doesn't — one ordered collect per user and plain regexes
    recover the row-pattern-matching capability for bounded-per-key
    histories).

    Exactness: the per-user string is built from a total order
    (ts, event_id); the regexes are anchored-free containment tests
    evaluated identically by Java regex and RE2 (the character classes
    here avoid engine-divergent syntax); all counts integer, share in
    exact ppm.

    Scale: one groupBy(user) building a bounded per-user string (event
    histories are bounded per key; for unbounded streams the streaming
    sessionize twins bound them by window), then {len(_SEQ_PATTERNS)}
    constant regex probes map-side over the (user, string) table and a
    patterns-sized aggregate. Nothing all-pairs, no window."""
    events = load(spark, sf_dir, "events")
    seqs = (
        events.select(
            "user_id",
            F.struct("ts", "event_id", F.expr(_seq_char_case("event_type")).alias("ch")).alias(
                "rec"
            ),
        )
        .groupBy("user_id")
        .agg(
            F.expr("concat_ws('', transform(array_sort(collect_list(rec)), r -> r.ch))").alias(
                "s"
            )
        )
        .persist(CKPT_LEVEL)
    )
    tot = seqs.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    per_pattern = [
        seqs.agg(
            F.lit(name).alias("pattern"),
            F.sum(F.when(F.col("s").rlike(rx), 1).otherwise(0)).cast("long").alias("n_matched"),
        )
        for name, rx in _SEQ_PATTERNS
    ]
    hits = per_pattern[0]
    for df in per_pattern[1:]:
        hits = hits.unionAll(df)
    return (
        hits.crossJoin(F.broadcast(tot))
        .selectExpr(
            "pattern",
            "n_matched",
            "n_users",
            "CAST(n_matched * 1000000 div n_users AS BIGINT) AS share_ppm",
        )
        .orderBy("pattern")
    )


# --------------------------------------------------------------------------
# Periodogram: DFT power at candidate seasonalities of the daily volume
# --------------------------------------------------------------------------

_DFT_PERIODS = (5, 7, 14, 30)  # candidate cycles in days (7 = the planted one)
_DFT_Q = 1_000_000  # cos/sin floor-quantized to micro-units


_PERIODOGRAM_ORACLE = f"""
WITH bounds AS (
  SELECT CAST(min(date_trunc('day', ts)) AS DATE) AS d0,
         CAST(max(date_trunc('day', ts)) AS DATE) AS d1
  FROM events
),
daily AS (
  SELECT date_diff('day', b.d0, CAST(date_trunc('day', ts) AS DATE)) AS t,
         CAST(count(*) AS BIGINT) AS x
  FROM events, bounds b
  GROUP BY 1
),
grid AS (
  SELECT g.t, coalesce(d.x, 0) AS x,
         date_diff('day', b.d0, b.d1) + 1 AS n_days
  FROM bounds b, unnest(range(0, date_diff('day', b.d0, b.d1) + 1)) AS g(t)
  LEFT JOIN daily d ON d.t = g.t
),
terms AS (
  SELECT p.p, grid.n_days,
         CAST(grid.x AS HUGEINT)
           * CAST(floor(cos(2 * pi() * grid.t / p.p) * {_DFT_Q}) AS BIGINT) AS xc,
         CAST(grid.x AS HUGEINT)
           * CAST(floor(sin(2 * pi() * grid.t / p.p) * {_DFT_Q}) AS BIGINT) AS xs
  FROM grid, (SELECT unnest(ARRAY{list(_DFT_PERIODS)}) AS p) p
),
m AS (
  SELECT p, max(n_days) AS n_days,
         CAST(sum(xc) AS BIGINT) AS a_micro,
         CAST(sum(xs) AS BIGINT) AS b_micro
  FROM terms GROUP BY p
)
SELECT p AS period_days, CAST(n_days AS BIGINT) AS n_days, a_micro, b_micro,
       round((CAST(a_micro AS DOUBLE) / {_DFT_Q} * (CAST(a_micro AS DOUBLE) / {_DFT_Q})
            + CAST(b_micro AS DOUBLE) / {_DFT_Q} * (CAST(b_micro AS DOUBLE) / {_DFT_Q}))
            / n_days, 4) AS power
FROM m
ORDER BY period_days
"""


@register(
    "events_periodogram_dft",
    _PERIODOGRAM_ORACLE,
    doc=f"DFT periodogram of daily event volume at candidate periods {_DFT_PERIODS}",
)
def events_periodogram_dft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral seasonality detection: the discrete-Fourier power of the
    daily event-volume series at candidate periods — the quantitative
    form of "is there a weekly cycle?" that `orders_seasonality_weekday`
    answers descriptively. Power at the true period towers over the
    off-period controls (5/14/30 days), which is what the pytest pins.

    Exactness: the day grid is DENSE (idle days are x=0 rows — the
    `events_changepoint_cusum` discipline: sparse forms silently skew
    the spectrum); cos/sin evaluate once per (period, day) cell and
    floor-quantize to micro-units (the ln recipe applied to
    trigonometry), so the Fourier sums A and B are exact integers;
    the displayed power is one shared IEEE expression rounded to 4 dp.

    Scale: one data-scale groupBy(day); the grid and all {len(_DFT_PERIODS)}
    frequency probes live on the calendar-bounded day dictionary
    (periods × days cells — metadata scale)."""
    events = load(spark, sf_dir, "events")
    bounds = events.agg(
        F.expr("CAST(min(date_trunc('day', ts)) AS DATE)").alias("d0"),
        F.expr("CAST(max(date_trunc('day', ts)) AS DATE)").alias("d1"),
    )
    daily = (
        events.crossJoin(F.broadcast(bounds))
        .select(F.expr("datediff(CAST(date_trunc('day', ts) AS DATE), d0)").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    grid = (
        bounds.select(
            F.explode(F.expr("sequence(0, datediff(d1, d0))")).alias("t"),
            (F.expr("datediff(d1, d0)") + 1).cast("long").alias("n_days"),
        )
        .join(daily, "t", "left")
        .select("t", "n_days", F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x"))
    )
    periods = ", ".join(str(p) for p in _DFT_PERIODS)
    terms = grid.select(
        "n_days",
        "x",
        "t",
        F.explode(F.expr(f"array({periods})")).alias("p"),
    ).select(
        "p",
        "n_days",
        F.expr(
            f"CAST(x AS DECIMAL(38,0)) * CAST(floor(cos(2 * pi() * t / p) * {_DFT_Q}) AS BIGINT)"
        ).alias("xc"),
        F.expr(
            f"CAST(x AS DECIMAL(38,0)) * CAST(floor(sin(2 * pi() * t / p) * {_DFT_Q}) AS BIGINT)"
        ).alias("xs"),
    )
    m = terms.groupBy("p").agg(
        F.max("n_days").cast("long").alias("n_days"),
        F.sum("xc").cast("long").alias("a_micro"),
        F.sum("xs").cast("long").alias("b_micro"),
    )
    return m.selectExpr(
        "p AS period_days",
        "n_days",
        "a_micro",
        "b_micro",
        f"""round((CAST(a_micro AS DOUBLE) / {_DFT_Q} * (CAST(a_micro AS DOUBLE) / {_DFT_Q})
            + CAST(b_micro AS DOUBLE) / {_DFT_Q} * (CAST(b_micro AS DOUBLE) / {_DFT_Q}))
            / n_days, 4) AS power""",
    ).orderBy("period_days")


# --------------------------------------------------------------------------
# Herfindahl-Hirschman concentration of revenue per market segment
# --------------------------------------------------------------------------

_HHI_ORACLE = """
WITH cust_rev AS (
  SELECT c.c_mktsegment AS segment, o.o_custkey,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS HUGEINT) AS rev
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
),
seg AS (
  SELECT segment,
         CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(rev) AS HUGEINT) AS tot,
         CAST(sum(rev * rev) AS HUGEINT) AS sq,
         CAST(max(rev) AS HUGEINT) AS top1
  FROM cust_rev GROUP BY segment
)
SELECT segment, n_customers,
       CAST(tot AS BIGINT) AS total_cents,
       CAST(sq * 1000000 // (tot * tot) AS BIGINT) AS hhi_ppm,
       CAST(top1 * 1000000 // tot AS BIGINT) AS top1_share_ppm,
       round(1000000.0 / CAST(sq * 1000000 // (tot * tot) AS DOUBLE), 4)
         AS effective_n_customers
FROM seg
ORDER BY segment
"""


@register(
    "orders_herfindahl",
    _HHI_ORACLE,
    doc="Herfindahl-Hirschman revenue concentration per market segment (exact ppm)",
)
def orders_herfindahl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman Index of customer revenue concentration per
    market segment — HHI = Σ share_i² (here in exact ppm), the standard
    antitrust/concentration readout, plus the top-1 share and the
    equivalent number of equal-size customers (1/HHI). The fixture's
    demand is near-uniform, so HHI ≈ 1e6/n — the unit test pins that
    calibration and the exact-rational identity.

    Exactness: per-customer revenue is integer cents; HHI forms as ONE
    floor division of exact decimals — (Σ rev²)·10⁶ div (Σ rev)² — never
    a float sum of per-customer shares (whose accumulation order would
    diverge cross-engine). Non-negative throughout, so Spark ``div`` and
    DuckDB ``//`` agree. Magnitude bound: per-customer rev ≤ ~2e8 cents
    (bounded by orders-per-customer, a data-model constant), so Σ rev² ≤
    4e16·|customers| ≈ 1e23 at SF100 — DECIMAL(38,0) headroom.

    Scale: the orders→customer join is key-partitioned (AQE picks
    broadcast only while the dim is small); one groupBy to the
    (segment × customer) grain, then a 4-number aggregate to segments."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    cust_rev = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            F.col("c_mktsegment").alias("segment"),
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("segment", "o_custkey")
        .agg(F.sum("cents").cast("decimal(38,0)").alias("rev"))
    )
    seg = cust_rev.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("rev").cast("decimal(38,0)").alias("tot"),
        F.sum(F.col("rev") * F.col("rev")).cast("decimal(38,0)").alias("sq"),
        F.max("rev").cast("decimal(38,0)").alias("top1"),
    )
    return seg.selectExpr(
        "segment",
        "n_customers",
        "CAST(tot AS BIGINT) AS total_cents",
        "CAST(sq * 1000000 div (tot * tot) AS BIGINT) AS hhi_ppm",
        "CAST(top1 * 1000000 div tot AS BIGINT) AS top1_share_ppm",
        "round(1000000.0 / CAST(sq * 1000000 div (tot * tot) AS DOUBLE), 4)"
        " AS effective_n_customers",
    ).orderBy("segment")


# --------------------------------------------------------------------------
# View-to-purchase conversion delay percentiles
# --------------------------------------------------------------------------

_TTC_ORACLE = """
WITH marked AS (
  SELECT user_id, ts, event_id, event_type,
         last_value(CASE WHEN event_type = 'view' THEN epoch_us(ts) END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_us
  FROM events
),
delays AS (
  SELECT epoch_us(ts) - last_view_us AS delay_us
  FROM marked
  WHERE event_type = 'purchase' AND last_view_us IS NOT NULL
),
purch AS (
  SELECT CAST(count(*) AS BIGINT) AS n_purchases
  FROM events WHERE event_type = 'purchase'
)
SELECT p.n_purchases,
       CAST(count(*) AS BIGINT) AS n_converted,
       CAST(CAST(count(*) AS HUGEINT) * 1000000 // p.n_purchases AS BIGINT)
         AS matched_ppm,
       CAST(sum(delay_us) // count(*) AS BIGINT) AS mean_delay_us,
       round(quantile_cont(delay_us, 0.5), 2) AS p50_delay_us,
       round(quantile_cont(delay_us, 0.9), 2) AS p90_delay_us,
       CAST(max(delay_us) AS BIGINT) AS max_delay_us
FROM delays, purch p
GROUP BY p.n_purchases
"""


@register(
    "events_time_to_convert",
    _TTC_ORACLE,
    doc="view-to-purchase conversion delay stats (fill-forward match, exact microseconds)",
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert: for every purchase, the delay since the SAME
    user's most recent preceding view — the funnel-latency profile
    behind attribution-window tuning (`events_attribution_last_touch`
    fixes a 30-min window; this measures what the window SHOULD be) and
    the batch twin of the stream-stream `events_conversion_pairs` join.

    Matching is ONE fill-forward window (last view timestamp carried
    forward per user), never a per-purchase range join — the
    attribution-op shape. Exactness: delays are integer epoch-micro
    differences; mean is integer division; p50/p90 share the
    continuous-interpolation definition (Spark ``percentile`` == DuckDB
    ``quantile_cont``, the `events_interarrival_by_type` precedent);
    the match rate is one floor division in ppm.

    Scale: the window partitions by user_id (bounded per-task work);
    the summary is a single-group aggregate whose exact percentile sort
    is delay-count-sized — swap percentile_approx at corpus scale."""
    events = load(spark, sf_dir, "events")
    from pyspark.sql.window import Window as _W

    w = _W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        _W.unboundedPreceding, 0
    )
    marked = events.withColumn(
        "last_view_us",
        F.last(
            F.when(F.col("event_type") == "view", F.unix_micros("ts")), ignorenulls=True
        ).over(w),
    )
    delays = marked.filter(
        (F.col("event_type") == "purchase") & F.col("last_view_us").isNotNull()
    ).select((F.unix_micros("ts") - F.col("last_view_us")).alias("delay_us"))
    purch = events.filter(F.col("event_type") == "purchase").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases")
    )
    return (
        delays.crossJoin(F.broadcast(purch))
        .groupBy("n_purchases")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_converted"),
            F.expr(
                "CAST(CAST(count(1) AS DECIMAL(38,0)) * 1000000"
                " div any_value(n_purchases) AS BIGINT)"
            ).alias("matched_ppm"),
            F.expr("CAST(sum(delay_us) div count(1) AS BIGINT)").alias("mean_delay_us"),
            F.round(F.expr("percentile(delay_us, 0.5)"), 2).alias("p50_delay_us"),
            F.round(F.expr("percentile(delay_us, 0.9)"), 2).alias("p90_delay_us"),
            F.max("delay_us").cast("long").alias("max_delay_us"),
        )
        .select(
            "n_purchases",
            "n_converted",
            "matched_ppm",
            "mean_delay_us",
            "p50_delay_us",
            "p90_delay_us",
            "max_delay_us",
        )
    )


# --------------------------------------------------------------------------
# Croston intermittent-demand forecast per part
# --------------------------------------------------------------------------

_CROSTON_KEEP = 16  # trailing demands/intervals kept (alpha = 1/2 EWMA)
_CROSTON_TOPK = 20

# EWMA closed form with alpha = 1/2 over kept sequence u_1..u_k (oldest
# first): s*2^(k-1) = u_1 + sum_{i>=2} u_i * 2^(i-2) — exact integers
# (the events_user_ewma identity).
_CROSTON_DUCK_NUM = (
    "list_sum(list_transform(range(1, len({l}) + 1), "
    "i -> CAST({l}[i] AS HUGEINT) * (CASE WHEN i = 1 THEN 1 "
    "ELSE (CAST(1 AS BIGINT) << CAST(i - 2 AS INTEGER)) END)))"
)
_CROSTON_SPARK_NUM = (
    "aggregate(zip_with({l}, sequence(1, size({l})), "
    "(v, i) -> CAST(v AS DECIMAL(38,0)) * (CASE WHEN i = 1 THEN CAST(1 AS BIGINT) "
    "ELSE shiftleft(CAST(1 AS BIGINT), i - 2) END)), "
    "CAST(0 AS DECIMAL(38,0)), (acc, x) -> acc + x)"
)

_CROSTON_ORACLE = f"""
WITH demand AS (
  SELECT l_partkey AS p,
         CAST(date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) AS d,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q
  FROM lineitem GROUP BY 1, 2
),
series AS (
  SELECT p, list(d ORDER BY d) AS ds, list(q ORDER BY d) AS qs,
         CAST(count(*) AS BIGINT) AS m
  FROM demand GROUP BY p HAVING count(*) >= 2
),
kept AS (
  SELECT p, m,
         list_slice(qs, CAST(greatest(1, m - {_CROSTON_KEEP} + 1) AS BIGINT), m) AS zs,
         list_slice(list_transform(range(2, CAST(m + 1 AS BIGINT)),
                                   i -> ds[i] - ds[i - 1]),
                    CAST(greatest(1, m - 1 - {_CROSTON_KEEP} + 1) AS BIGINT),
                    m - 1) AS ivs
  FROM series
),
scored AS (
  SELECT p, m,
         CAST({_CROSTON_DUCK_NUM.format(l="zs")} AS HUGEINT) AS zn,
         CAST(len(zs) AS BIGINT) AS kz,
         CAST({_CROSTON_DUCK_NUM.format(l="ivs")} AS HUGEINT) AS pn,
         CAST(len(ivs) AS BIGINT) AS kp
  FROM kept
),
final AS (
  SELECT p AS p_partkey, m AS n_demand_days,
         CAST(zn * 1000000 // (CAST(1 AS HUGEINT) << CAST(kz - 1 AS INTEGER)) AS BIGINT)
           AS z_hat_ppm,
         CAST(pn * 1000000 // (CAST(1 AS HUGEINT) << CAST(kp - 1 AS INTEGER)) AS BIGINT)
           AS p_hat_ppm,
         CAST(zn * (CAST(1 AS HUGEINT) << CAST(kp - 1 AS INTEGER)) * 1000000
              // (pn * (CAST(1 AS HUGEINT) << CAST(kz - 1 AS INTEGER))) AS BIGINT)
           AS forecast_ppm
  FROM scored
)
SELECT * FROM final
ORDER BY forecast_ppm DESC, p_partkey
LIMIT {_CROSTON_TOPK}
"""


@register(
    "orders_croston_intermittent",
    _CROSTON_ORACLE,
    doc=f"Croston intermittent-demand forecast (alpha=1/2 EWMA, top-{_CROSTON_TOPK} parts)",
)
def orders_croston_intermittent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method — THE forecasting estimator for intermittent
    demand (spare parts, slow movers), where Holt/SES on the raw series
    biases toward zero: smooth the NON-ZERO demand sizes and the
    inter-demand intervals separately, forecast = size / interval.
    Reported per part in exact ppm units, top-20 by forecast rate.

    Exactness: both EWMAs use the alpha = 1/2 closed form over the
    trailing {_CROSTON_KEEP} values — power-of-two integer weights
    (s*2^(k-1) = u_1 + sum u_i*2^(i-2), the `events_user_ewma`
    identity) — so sizes, intervals, and the forecast ratio are single
    exact integer divisions. Ships before 1992 don't exist, so day
    indexes are non-negative.

    Scale: one data-scale groupBy to (part, ship-day); per-part demand
    arrays are CALENDAR-bounded (= distinct ship days), so the
    collect + slice is a bounded aggregate per part key — the same
    bound class as the tseries grid ops; top-k is
    TakeOrderedAndProject."""
    li = load(spark, sf_dir, "lineitem")
    # One exchange for BOTH aggregations (optimization r12, guide §2.1):
    # the explicit hash layout on p satisfies the (p, d) aggregate's
    # clustering AND the downstream per-p collect — without it each
    # groupBy inserts its own exchange of ~the same bytes ((p, d) pairs
    # barely dedupe lineitem rows, so the partial agg saved nothing).
    demand = (
        li.select(
            F.col("l_partkey").alias("p"),
            F.datediff(F.col("l_shipdate").cast("date"), F.lit("1992-01-01").cast("date"))
            .cast("long")
            .alias("d"),
            F.round(F.col("l_quantity")).cast("long").alias("q0"),
        )
        .repartition("p")
        .groupBy("p", "d")
        .agg(F.sum("q0").cast("long").alias("q"))
    )
    series = (
        demand.groupBy("p")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "q"))), lambda s: s["d"]
            ).alias("ds"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "q"))), lambda s: s["q"]
            ).alias("qs"),
            F.count(F.lit(1)).cast("long").alias("m"),
        )
        .filter(F.col("m") >= 2)
    )
    kept = series.selectExpr(
        "p",
        "m",
        f"slice(qs, CAST(greatest(1, m - {_CROSTON_KEEP} + 1) AS INT),"
        f" {_CROSTON_KEEP}) AS zs",
        "transform(sequence(2, CAST(m AS INT)), i -> element_at(ds, i)"
        " - element_at(ds, i - 1)) AS ivs0",
    ).selectExpr(
        "p",
        "m",
        "zs",
        f"slice(ivs0, CAST(greatest(1, size(ivs0) - {_CROSTON_KEEP} + 1) AS INT),"
        f" {_CROSTON_KEEP}) AS ivs",
    )
    scored = kept.selectExpr(
        "p",
        "m",
        f"CAST({_CROSTON_SPARK_NUM.format(l='zs')} AS DECIMAL(38,0)) AS zn",
        "CAST(size(zs) AS BIGINT) AS kz",
        f"CAST({_CROSTON_SPARK_NUM.format(l='ivs')} AS DECIMAL(38,0)) AS pn",
        "CAST(size(ivs) AS BIGINT) AS kp",
    )
    return (
        scored.selectExpr(
            "p AS p_partkey",
            "m AS n_demand_days",
            "CAST(zn * 1000000 div CAST(shiftleft(CAST(1 AS BIGINT), CAST(kz - 1 AS INT))"
            " AS DECIMAL(38,0)) AS BIGINT) AS z_hat_ppm",
            "CAST(pn * 1000000 div CAST(shiftleft(CAST(1 AS BIGINT), CAST(kp - 1 AS INT))"
            " AS DECIMAL(38,0)) AS BIGINT) AS p_hat_ppm",
            "CAST(zn * CAST(shiftleft(CAST(1 AS BIGINT), CAST(kp - 1 AS INT)) AS DECIMAL(38,0))"
            " * 1000000 div (pn * CAST(shiftleft(CAST(1 AS BIGINT), CAST(kz - 1 AS INT))"
            " AS DECIMAL(38,0))) AS BIGINT) AS forecast_ppm",
        )
        .orderBy(F.desc("forecast_ppm"), "p_partkey")
        .limit(_CROSTON_TOPK)
    )


# --------------------------------------------------------------------------
# Round-number bias (forensic accounting next to the Benford audit)
# --------------------------------------------------------------------------

_ROUND_BIAS_ORACLE = """
WITH amounts AS (
  SELECT o_orderpriority AS priority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
)
SELECT priority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN cents % 100 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_whole_dollar,
       CAST(sum(CASE WHEN cents % 10000 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_whole_hundred,
       CAST(CAST(sum(CASE WHEN cents % 100 = 0 THEN 1 ELSE 0 END) AS HUGEINT) * 1000000
            // count(*) AS BIGINT) AS whole_dollar_ppm,
       CAST(CAST(sum(CASE WHEN cents % 10000 = 0 THEN 1 ELSE 0 END) AS HUGEINT) * 1000000
            // count(*) AS BIGINT) AS whole_hundred_ppm
FROM amounts
GROUP BY priority
ORDER BY priority
"""


@register(
    "orders_round_number_bias",
    _ROUND_BIAS_ORACLE,
    doc="round-number bias of order totals per priority (forensic audit)",
)
def orders_round_number_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-number bias: the share of order totals landing on whole
    dollars / whole hundreds — the classic forensic-accounting screen
    next to `events_benford_audit` (fabricated or policy-capped amounts
    over-index on round values; organic prices don't). Expected organic
    rates are 1% and 0.01%; the audit reports exact ppm per priority so
    a drifting slice stands out.

    Exactness: integer-cent modulus tests and ppm floor divisions —
    no floats anywhere.

    Scale: one scan, one conditional aggregate to the priority grid."""
    orders = load(spark, sf_dir, "orders")
    amounts = orders.select(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return (
        amounts.groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.when(F.col("cents") % 100 == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_whole_dollar"),
            F.sum(F.when(F.col("cents") % 10000 == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_whole_hundred"),
            F.expr(
                "CAST(CAST(sum(CASE WHEN cents % 100 = 0 THEN 1 ELSE 0 END) AS DECIMAL(38,0))"
                " * 1000000 div count(1) AS BIGINT)"
            ).alias("whole_dollar_ppm"),
            F.expr(
                "CAST(CAST(sum(CASE WHEN cents % 10000 = 0 THEN 1 ELSE 0 END) AS DECIMAL(38,0))"
                " * 1000000 div count(1) AS BIGINT)"
            ).alias("whole_hundred_ppm"),
        )
        .orderBy("priority")
    )


# --------------------------------------------------------------------------
# Discrete-time hazard / Nelson-Aalen cumulative hazard (KM's derivative)
# --------------------------------------------------------------------------

_HAZARD_ORACLE = f"""
WITH horizon AS (SELECT max(epoch_us(ts)) AS h FROM events),
entry AS (
  SELECT user_id, min(epoch_us(ts)) AS t0
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
conv AS (
  SELECT e.user_id, min(epoch_us(p.ts)) AS t1
  FROM entry e JOIN events p
    ON p.user_id = e.user_id AND p.event_type = 'purchase'
   AND epoch_us(p.ts) >= e.t0
  GROUP BY e.user_id
),
subjects AS (
  SELECT e.user_id,
         CASE WHEN c.t1 IS NOT NULL THEN 1 ELSE 0 END AS observed,
         CAST(CASE WHEN c.t1 IS NOT NULL THEN (c.t1 - e.t0) // {_KM_DAY_US}
                   ELSE (h.h - e.t0) // {_KM_DAY_US} END AS BIGINT) AS dur
  FROM entry e LEFT JOIN conv c ON c.user_id = e.user_id, horizon h
),
days AS (
  SELECT dur AS day,
         CAST(sum(observed) AS BIGINT) AS d,
         CAST(sum(1 - observed) AS BIGINT) AS c
  FROM subjects GROUP BY dur
),
risk AS (
  SELECT day, d, c,
         CAST((SELECT count(*) FROM subjects) -
              coalesce(sum(d + c) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
  FROM days
),
hz AS (
  SELECT day, n_risk, d,
         CAST(CAST(d AS HUGEINT) * 1000000 // n_risk AS BIGINT) AS hazard_ppm
  FROM risk WHERE d > 0
)
SELECT day, n_risk, d, hazard_ppm,
       CAST(sum(hazard_ppm) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_hazard_ppm
FROM hz
ORDER BY day
"""


@register(
    "events_hazard_rate",
    _HAZARD_ORACLE,
    doc="discrete-time conversion hazard + Nelson-Aalen cumulative hazard (integer ppm)",
)
def events_hazard_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time hazard of conversion: of the users still at risk on
    day k after signup, what fraction converts that day — h(k) = d_k /
    n_k — plus the Nelson-Aalen cumulative hazard Σ h. The derivative
    view of `events_survival_km`: KM shows how much of the cohort
    survives, the hazard shows WHEN the conversion pressure peaks (a
    hump at day 1 means onboarding converts; a flat tail means ambient
    discovery), which is what campaign timing actually needs.

    Exactness: same censored-duration construction as the KM twin
    (integer day floor-div, exact at-risk running sum on the day
    dictionary); each hazard is one integer ppm floor-division
    (HUGEINT/DECIMAL(38,0) intermediate) and the cumulative hazard is an
    exact integer running sum of those ppms — no floats anywhere.

    Scale: entry/conversion are user-keyed aggregates and one user-keyed
    join; everything after lives on the calendar-bounded day dictionary,
    where the running sums ride the range-partitioned rank machinery."""
    from gluettalax_spark.operators.rank import grouped_running_sums

    events = load(spark, sf_dir, "events")
    horizon = events.agg(F.max(F.unix_micros("ts")).alias("h"))
    entry = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("t0"))
    )
    conv = (
        entry.join(
            events.filter(F.col("event_type") == "purchase").select(
                "user_id", F.unix_micros("ts").alias("tp")
            ),
            "user_id",
        )
        .filter(F.col("tp") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("tp").alias("t1"))
    )
    subjects = (
        entry.join(conv, "user_id", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(F.col("t1").isNotNull(), 1).otherwise(0).alias("observed"),
            F.expr(
                f"CAST(CASE WHEN t1 IS NOT NULL THEN (t1 - t0) div {_KM_DAY_US}"
                f" ELSE (h - t0) div {_KM_DAY_US} END AS BIGINT)"
            ).alias("dur"),
        )
    )
    days = subjects.groupBy(F.col("dur").alias("day")).agg(
        F.sum("observed").cast("long").alias("d"),
        F.sum(1 - F.col("observed")).cast("long").alias("c"),
    )
    total = subjects.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    cum = grouped_running_sums(
        days.withColumn("dc", F.col("d") + F.col("c")), [], ["day"], [("dc", "cum_dc")]
    )
    hz = (
        cum.crossJoin(F.broadcast(total))
        .select(
            "day",
            "d",
            (F.col("n_total") - (F.col("cum_dc") - F.col("dc"))).cast("long").alias("n_risk"),
        )
        .filter(F.col("d") > 0)
        .selectExpr(
            "day",
            "n_risk",
            "d",
            "CAST(CAST(d AS DECIMAL(38,0)) * 1000000 div n_risk AS BIGINT) AS hazard_ppm",
        )
    )
    out = grouped_running_sums(hz, [], ["day"], [("hazard_ppm", "cum_hazard_ppm")])
    return out.select(
        "day", "n_risk", "d", "hazard_ppm", F.col("cum_hazard_ppm").cast("long").alias("cum_hazard_ppm")
    ).orderBy("day")


# --------------------------------------------------------------------------
# Two-sample Kolmogorov–Smirnov (urgent vs regular order values)
# --------------------------------------------------------------------------

_KS_ORACLE = """
WITH base AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         CASE WHEN o_orderpriority < '3' THEN 1 ELSE 0 END AS g1
  FROM orders
),
vals AS (
  SELECT v,
         CAST(sum(g1) AS BIGINT) AS c1,
         CAST(count(*) - sum(g1) AS BIGINT) AS c2
  FROM base GROUP BY v
),
cum AS (
  SELECT v,
         sum(c1) OVER (ORDER BY v) AS cum1,
         sum(c2) OVER (ORDER BY v) AS cum2
  FROM vals
),
tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM vals),
d AS (
  SELECT CAST(max(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_num
  FROM cum CROSS JOIN tot
)
SELECT n1, n2, d_num,
       CAST(CAST(d_num AS HUGEINT) * 1000000 // (CAST(n1 AS HUGEINT) * n2) AS BIGINT) AS d_ppm,
       (CAST(d_num AS HUGEINT) * d_num * 1000000)
         > (CAST(1844164 AS HUGEINT) * (n1 + n2) * n1 * n2) AS reject_95
FROM d CROSS JOIN tot
"""


@register(
    "stats_ks_test",
    _KS_ORACLE,
    doc="two-sample Kolmogorov-Smirnov on order value, urgent vs regular priority",
)
def stats_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS: D = max |F₁(x) − F₂(x)| between the order-value
    distributions of urgent (priority 1-2) and regular orders — the
    standard distribution-shift detector (data-drift monitors run exactly
    this between a reference and a live window).

    Exactness: values are integer cents; D is kept as the integer
    numerator max|cum1·N₂ − cum2·N₁| so no float CDF ever exists; the
    α=0.05 decision compares D²·n₁·n₂·10⁶ with c²₀.₀₅·10⁶ = 1844164
    times (n₁+n₂)·n₁·n₂ in DECIMAL(38)/HUGEINT — the squared form of
    D > c·√((n₁+n₂)/(n₁n₂)) with no square root.

    Scale: one data-scale groupBy to the value dictionary; BOTH running
    counts and their totals ride ONE range-partitioned
    `grouped_running_sums` pass; everything after is one 1-row fold."""
    from gluettalax_spark.operators.rank import grouped_running_sums

    orders = load(spark, sf_dir, "orders")
    vals = (
        orders.select(
            F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
            F.when(F.col("o_orderpriority") < "3", 1).otherwise(0).alias("g1"),
        )
        .groupBy("v")
        .agg(
            F.sum("g1").cast("long").alias("c1"),
            (F.count(F.lit(1)) - F.sum("g1")).cast("long").alias("c2"),
        )
    )
    cum = grouped_running_sums(vals, [], ["v"], [("c1", "cum1"), ("c2", "cum2")])
    d = cum.agg(
        F.max("cum1_total").alias("n1"),
        F.max("cum2_total").alias("n2"),
        F.max(
            F.abs(F.col("cum1") * F.col("cum2_total") - F.col("cum2") * F.col("cum1_total"))
        ).cast("long").alias("d_num"),
    )
    return d.selectExpr(
        "n1",
        "n2",
        "d_num",
        "CAST(CAST(d_num AS DECIMAL(38,0)) * 1000000 DIV (CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT) AS d_ppm",
        "(CAST(d_num AS DECIMAL(19,0)) * d_num * 1000000)"
        " > (CAST(1844164 AS DECIMAL(19,0)) * (n1 + n2) * n1 * n2) AS reject_95",
    )


# --------------------------------------------------------------------------
# 1-D Wasserstein (earth mover's) distance between the same two samples
# --------------------------------------------------------------------------

_WASSERSTEIN_ORACLE = """
WITH base AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         CASE WHEN o_orderpriority < '3' THEN 1 ELSE 0 END AS g1
  FROM orders
),
vals AS (
  SELECT v,
         CAST(sum(g1) AS BIGINT) AS c1,
         CAST(count(*) - sum(g1) AS BIGINT) AS c2
  FROM base GROUP BY v
),
cum AS (
  SELECT v,
         sum(c1) OVER (ORDER BY v) AS cum1,
         sum(c2) OVER (ORDER BY v) AS cum2,
         lead(v) OVER (ORDER BY v) AS v_next
  FROM vals
),
tot AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
         CAST(sum(v * c1) AS HUGEINT) AS s1, CAST(sum(v * c2) AS HUGEINT) AS s2
  FROM vals
),
w AS (
  SELECT CAST(sum(abs(CAST(cum1 AS HUGEINT) * n2 - CAST(cum2 AS HUGEINT) * n1)
                  * (v_next - v)) AS HUGEINT) AS w1_num
  FROM cum CROSS JOIN tot
  WHERE v_next IS NOT NULL
)
SELECT n1, n2,
       CAST(w1_num // (CAST(n1 AS HUGEINT) * n2) AS BIGINT) AS w1_cents,
       CAST(abs(s1 * n2 - s2 * n1) // (CAST(n1 AS HUGEINT) * n2) AS BIGINT) AS mean_gap_cents
FROM w CROSS JOIN tot
"""


@register(
    "stats_wasserstein_1d",
    _WASSERSTEIN_ORACLE,
    doc="1-D Wasserstein-1 distance (cents) between urgent and regular order values",
)
def stats_wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earth mover's distance between the same two order-value samples
    `stats_ks_test` compares: W₁ = ∫|F₁ − F₂|dx — KS reports the worst
    POINT of CDF separation, W₁ reports the AREA (how much probability
    mass must move how far, in cents). The pair is the standard drift
    dashboard: KS trips on localized shifts, W₁ on bulk shifts.

    Exactness: Σ |cum1·N₂ − cum2·N₁|·Δv accumulates in DECIMAL(38)/
    HUGEINT (per-term ≤ n₁n₂·maxΔ overflows int64 past sf1), divided
    once at the end — integer cents out; `mean_gap_cents` (≤ W₁ by the
    triangle inequality, pinned in tests) rides the same totals.

    Scale: the value dictionary comes from one data-scale groupBy;
    BOTH running counts AND the neighbor step Δv ride ONE
    `grouped_running_sums` pass (optimization r12 — previously two
    single-column passes plus an `exact_global_rank` + rank-shifted
    self-join: 3 range shuffles and 2 joins collapsed into 1 range
    shuffle; integer running sums are partitioning-independent, so the
    values are unchanged)."""
    from gluettalax_spark.operators.rank import grouped_running_sums

    orders = load(spark, sf_dir, "orders")
    vals = (
        orders.select(
            F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
            F.when(F.col("o_orderpriority") < "3", 1).otherwise(0).alias("g1"),
        )
        .groupBy("v")
        .agg(
            F.sum("g1").cast("long").alias("c1"),
            (F.count(F.lit(1)) - F.sum("g1")).cast("long").alias("c2"),
        )
    )
    vals = vals.persist(CKPT_LEVEL)  # totals + running-sums pass
    tot = vals.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.sum(F.col("v") * F.col("c1")).cast("decimal(38,0)").alias("s1"),
        F.sum(F.col("v") * F.col("c2")).cast("decimal(38,0)").alias("s2"),
    )
    cum = grouped_running_sums(
        vals, [], ["v"], [("c1", "cum1"), ("c2", "cum2")],
        lead_of="v", lead_name="v_next",
    ).select("v", "cum1", "cum2", (F.col("v_next") - F.col("v")).alias("dv"))
    w = (
        cum.filter(F.col("dv").isNotNull())  # last value has no successor (F1=F2 there)
        .crossJoin(F.broadcast(tot))
        .select(
            (
                F.abs(
                    F.col("cum1").cast("decimal(38,0)") * F.col("n2")
                    - F.col("cum2").cast("decimal(38,0)") * F.col("n1")
                )
                * F.col("dv")
            ).alias("term")
        )
        .agg(F.sum("term").cast("decimal(38,0)").alias("w1_num"))
    )
    return w.crossJoin(F.broadcast(tot)).selectExpr(
        "n1",
        "n2",
        "CAST(w1_num DIV (CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT) AS w1_cents",
        "CAST(abs(s1 * n2 - s2 * n1) DIV (CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT) AS mean_gap_cents",
    )
