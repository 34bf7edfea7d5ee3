"""Window-function operators: per-group top-N (the reference's D7,
gluettalax.py:343-345), rank/lag/lead, and running/range frames.

Every window here partitions on a real key (custkey/suppkey/user_id) so
state is bounded per key and the sort is local to each hash partition —
the layout that scales horizontally. Orderings always include a unique
tiebreaker column: a window over a non-unique ordering gives
nondeterministic frames, which breaks both reproducibility and the
oracle compare.
"""

from __future__ import annotations

from gluettalax_spark.memory import CKPT_LEVEL

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gluettalax_spark.operators.graph import explode_pairs
from gluettalax_spark.operators.rank import (
    cume_dist_from_rank,
    exact_global_rank,
    ntile_from_rank,
    percent_rank_from_rank,
)
from gluettalax_spark.registry import register
from gluettalax_spark.tables import load

# --------------------------------------------------------------------------
# D7: per-group last-N / top-N
# --------------------------------------------------------------------------

_TOPK_PER_GROUP_ORACLE = """
SELECT c_custkey, o_orderkey, o_totalprice, rn
FROM (
  SELECT
    o_custkey AS c_custkey,
    o_orderkey,
    o_totalprice,
    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
  FROM orders
)
WHERE rn <= 3
ORDER BY c_custkey, rn
"""


@register("window_topk_per_group", _TOPK_PER_GROUP_ORACLE, doc="top-3 orders per customer (D7)")
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference D7: show last-N runs per job (gluettalax.py:343-345) —
    the same row_number()<=N shape over (customer, price). One shuffle on
    the partition key; the rn<=3 filter prunes before any downstream op.
    """
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.select(
            F.col("o_custkey").alias("c_custkey"),
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
        .orderBy("c_custkey", "rn")
    )


# --------------------------------------------------------------------------
# rank / dense_rank / lag / lead
# --------------------------------------------------------------------------

_RANK_LAG_ORACLE = """
SELECT
  l_suppkey,
  l_orderkey,
  l_linenumber,
  CAST(rank()       OVER w AS BIGINT)         AS price_rank,
  CAST(dense_rank() OVER w AS BIGINT)         AS price_dense_rank,
  round(lag(l_extendedprice)  OVER w2, 2)     AS prev_price,
  round(lead(l_extendedprice) OVER w2, 2)     AS next_price
FROM lineitem
WHERE l_suppkey <= 3
WINDOW
  w  AS (PARTITION BY l_suppkey ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber),
  w2 AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)
ORDER BY l_suppkey, l_orderkey, l_linenumber
"""


@register("window_rank_lag", _RANK_LAG_ORACLE, doc="rank/dense_rank/lag/lead with tiebreaks")
def window_rank_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 3)
    w = Window.partitionBy("l_suppkey").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")
    )
    w2 = Window.partitionBy("l_suppkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    return (
        li.select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            F.rank().over(w).cast("long").alias("price_rank"),
            F.dense_rank().over(w).cast("long").alias("price_dense_rank"),
            F.round(F.lag("l_extendedprice").over(w2), 2).alias("prev_price"),
            F.round(F.lead("l_extendedprice").over(w2), 2).alias("next_price"),
        )
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    )


# --------------------------------------------------------------------------
# Running frame (rows between) — cumulative spend per customer
# --------------------------------------------------------------------------

_RUNNING_ORACLE = """
SELECT
  o_custkey,
  o_orderkey,
  round(sum(o_totalprice) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ), 2) AS running_spend,
  CAST(count(*) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS BIGINT) AS order_seq
FROM orders
ORDER BY o_custkey, order_seq
"""


@register("window_running_frame", _RUNNING_ORACLE, doc="cumulative sum over ROWS frame")
def window_running_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
            F.count(F.lit(1)).over(w).cast("long").alias("order_seq"),
        )
        .orderBy("o_custkey", "order_seq")
    )


# --------------------------------------------------------------------------
# RANGE frame over a numeric ordering
# --------------------------------------------------------------------------

_RANGE_FRAME_ORACLE = """
SELECT
  o_custkey,
  o_orderkey,
  o_totalprice,
  CAST(count(*) OVER (
    PARTITION BY o_custkey ORDER BY o_totalprice
    RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW
  ) AS BIGINT) AS n_similar_cheaper
FROM orders
ORDER BY o_custkey, o_totalprice, o_orderkey
"""


@register("window_range_frame", _RANGE_FRAME_ORACLE, doc="RANGE frame: peers within a price band")
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frames aggregate over a *value* interval (price within
    10000 below current), not a row count — frame contents are
    order-insensitive among ties, so no tiebreak needed for correctness."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice").rangeBetween(-10000, Window.currentRow)
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.count(F.lit(1)).over(w).cast("long").alias("n_similar_cheaper"),
        )
        .orderBy("o_custkey", "o_totalprice", "o_orderkey")
    )


# --------------------------------------------------------------------------
# Distribution windows: ntile / percent_rank / cume_dist
# --------------------------------------------------------------------------

_NTILE_ORACLE = """
SELECT
  c_custkey,
  CAST(ntile(4)       OVER w AS BIGINT) AS quartile,
  round(percent_rank() OVER w, 4)       AS pct_rank,
  round(cume_dist()    OVER w, 4)       AS cdist
FROM customer
WINDOW w AS (ORDER BY c_acctbal DESC, c_custkey)
ORDER BY c_custkey
"""


@register("window_ntile_distribution", _NTILE_ORACLE, doc="ntile/percent_rank/cume_dist over one window")
def window_ntile_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-order distribution stats WITHOUT the single-task global
    window: the ordering carries a unique tiebreak (c_custkey), so
    ntile/percent_rank/cume_dist are all closed-form functions of the
    exact global rank, computed scalably by range-repartition +
    per-partition offsets (operators/rank.py). The oracle keeps the
    textbook one-window SQL form — same semantics, and DuckDB's engine
    is welcome to it at fixture scale."""
    ranked = exact_global_rank(
        load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal"),
        [F.col("c_acctbal").desc(), F.col("c_custkey")],
        "_rn",
    )
    rn, n = F.col("_rn"), F.col("_n")
    return (
        ranked.select(
            "c_custkey",
            ntile_from_rank(rn, n, 4).alias("quartile"),
            F.round(percent_rank_from_rank(rn, n), 4).alias("pct_rank"),
            F.round(cume_dist_from_rank(rn, n), 4).alias("cdist"),
        )
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# Value window functions: first/last/nth over explicit frames
# --------------------------------------------------------------------------

_VALUE_FNS_ORACLE = """
SELECT
  o_orderkey,
  round(o_totalprice, 2) AS totalprice,
  round(first_value(o_totalprice) OVER w, 2)   AS cust_first,
  round(last_value(o_totalprice)  OVER w_full, 2) AS cust_last,
  round(nth_value(o_totalprice, 2) OVER w_full, 2) AS cust_second
FROM orders
WINDOW
  w      AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
  w_full AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY o_orderkey
LIMIT 500
"""


@register("window_value_functions", _VALUE_FNS_ORACLE, doc="first/last/nth_value with explicit frames")
def window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """last_value/nth_value need the FULL frame spelled out — the default
    frame ends at CURRENT ROW, where last_value degenerates to the
    current value (the classic window-function trap; both engines share
    it, which is exactly what the oracle pins)."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        orders.select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            F.round(F.first("o_totalprice").over(w), 2).alias("cust_first"),
            F.round(F.last("o_totalprice").over(w_full), 2).alias("cust_last"),
            F.round(F.nth_value("o_totalprice", 2).over(w_full), 2).alias("cust_second"),
        )
        .orderBy("o_orderkey")
        .limit(500)
    )


# --------------------------------------------------------------------------
# Ratio-to-report (windowed share of total)
# --------------------------------------------------------------------------

_RATIO_ORACLE = """
WITH rev AS (
  SELECT n_name, round(sum(s_acctbal), 2) AS nation_bal
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  GROUP BY n_name
)
SELECT
  n_name,
  nation_bal,
  round(nation_bal / sum(nation_bal) OVER (), 4) AS share_of_total
FROM rev
ORDER BY n_name
"""


@register("window_ratio_to_report", _RATIO_ORACLE, doc="share-of-total via window aggregate")
def window_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: a windowed sum with NO partition — computed over
    the (small) aggregate, not the raw rows, so the single-task global
    window touches group-count rows only. Never ratio-to-report raw data;
    aggregate first."""
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    rev = (
        supp.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum("s_acctbal"), 2).alias("nation_bal"))
    )
    w = Window.partitionBy()
    return rev.select(
        "n_name",
        "nation_bal",
        F.round(F.col("nation_bal") / F.sum("nation_bal").over(w), 4).alias("share_of_total"),
    ).orderBy("n_name")


# --------------------------------------------------------------------------
# Inter-event gaps (lag diff + per-key aggregate)
# --------------------------------------------------------------------------

_GAP_ORACLE = """
WITH gaps AS (
  SELECT
    o_custkey,
    CAST(datediff('day', lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                  o_orderdate) AS BIGINT) AS gap_days
  FROM orders
)
SELECT
  o_custkey,
  count(gap_days)                 AS n_gaps,
  CAST(min(gap_days) AS BIGINT)   AS min_gap,
  CAST(max(gap_days) AS BIGINT)   AS max_gap,
  round(avg(gap_days), 2)         AS avg_gap
FROM gaps
GROUP BY o_custkey
HAVING count(gap_days) > 0
ORDER BY o_custkey
"""


@register("window_order_gaps", _GAP_ORACLE, doc="inter-order day gaps per customer (lag + agg)")
def window_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event intervals: lag over the per-key timeline, then a plain
    aggregate over the diffs. The window and the groupBy share the same
    key, so Catalyst reuses one hash exchange for both."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)).cast("long").alias("gap_days"),
    )
    return (
        gaps.groupBy("o_custkey")
        .agg(
            F.count("gap_days").alias("n_gaps"),
            F.min("gap_days").alias("min_gap"),
            F.max("gap_days").alias("max_gap"),
            F.round(F.avg("gap_days"), 2).alias("avg_gap"),
        )
        .filter(F.col("n_gaps") > 0)
        .orderBy("o_custkey")
    )


# --------------------------------------------------------------------------
# Month-over-month growth (lag on the aggregate timeline)
# --------------------------------------------------------------------------

_MOM_ORACLE = """
WITH monthly AS (
  SELECT time_bucket(INTERVAL '1 month', o_orderdate) AS month,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1
)
SELECT
  strftime(month, '%Y-%m') AS month,
  round(revenue, 2) AS revenue,
  round(
    (revenue - lag(revenue) OVER (ORDER BY month))
      / lag(revenue) OVER (ORDER BY month), 4) AS mom_growth
FROM monthly
ORDER BY month
"""


@register("revenue_mom_growth", _MOM_ORACLE, doc="month-over-month revenue growth via lag")
def revenue_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period growth: lag over the MONTHLY aggregate (tens of
    rows), not raw orders — the global-order window is trivial at any
    scale because aggregation came first. Decimal summands keep the
    growth ratios ulp-stable cross-engine."""
    orders = load(spark, sf_dir, "orders")
    monthly = orders.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue")
    )
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return (
        monthly.select(
            F.date_format("month", "yyyy-MM").alias("month"),
            F.round("revenue", 2).alias("revenue"),
            F.round((F.col("revenue") - prev) / prev, 4).alias("mom_growth"),
        )
        .orderBy("month")
    )


# --------------------------------------------------------------------------
# Lag-gap batch sessionization (the window-function form of sessions)
# --------------------------------------------------------------------------

_SESSIONIZE_GAP_MIN = 30

_SESSIONIZE_ORACLE = f"""
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL '{_SESSIONIZE_GAP_MIN}' MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts, event_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_no
  FROM marked
)
SELECT user_id,
       CAST(session_no AS BIGINT) AS session_no,
       CAST(count(*) AS BIGINT) AS n_events,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS started,
       CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS duration_s
FROM sessions
GROUP BY user_id, session_no
ORDER BY n_events DESC, user_id, session_no
LIMIT 25
"""


@register(
    "events_sessionize_batch",
    _SESSIONIZE_ORACLE,
    doc=f"lag-gap sessionization ({_SESSIONIZE_GAP_MIN}-min inactivity), top-25 sessions by size",
)
def events_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization by inactivity gap — the window-function
    counterpart of `events_session_window`'s ``session_window``
    aggregate (and of the stateful streaming sessionizers): mark a new
    session wherever the per-user gap exceeds 30 minutes (lag), number
    sessions with a running sum over the SAME per-user ordering — both
    windows share one (user_id) exchange and sort — then aggregate
    per-session stats and TakeOrderedAndProject the top-25.

    Scale note: the windows partition by user_id, so parallelism is the
    user population and per-task work is bounded by one user's events —
    the safe window class (the banned class is the unpartitioned global
    window; pinned repo-wide in test_plans.py)."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Gap test at MICROSECOND precision (unix_micros), matching the
    # oracle's exact interval compare — a cast-to-seconds gap test
    # truncates and flips sessions whose gap straddles a whole second.
    marked = events.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
                > _SESSIONIZE_GAP_MIN * 60 * 1_000_000
            ),
            1,
        ).otherwise(0),
    )
    sessions = marked.withColumn("session_no", F.sum("new_session").over(w))
    return (
        sessions.groupBy("user_id", "session_no")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("started"),
            (F.max("ts").cast("long") - F.min("ts").cast("long")).alias("duration_s"),
        )
        .orderBy(F.desc("n_events"), "user_id", "session_no")
        .limit(25)
    )


# --------------------------------------------------------------------------
# Per-user exact EWMA over the trailing-N events (bounded-state feature)
# --------------------------------------------------------------------------

EWMA_N = 32  # trailing events per user; alpha = 1/2
EWMA_Q = 1_000_000  # value quantization: integer micro-units
EWMA_TOPK = 20

# With alpha = 1/2 over the kept sequence v_1..v_n (v_1 oldest), the
# recursion s_1 = v_1, s_i = (v_i + s_{i-1}) / 2 unrolls to
#   s_n * 2^(n-1) = v_1 + sum_{i=2..n} v_i * 2^(i-2)
# so the whole fold is integer arithmetic once values are quantized:
# numerator in micro-units * 2^(n-1), then one exact integral divide.
_EWMA_ORACLE = f"""
WITH ranked AS (
  SELECT user_id,
         CAST(floor(value * {EWMA_Q}) AS BIGINT) AS v_q,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
),
sel AS (SELECT user_id, v_q, rn FROM ranked WHERE rn <= {EWMA_N}),
sized AS (
  SELECT user_id, v_q, rn, count(*) OVER (PARTITION BY user_id) AS n FROM sel
),
per AS (
  SELECT user_id,
         CAST(max(n) AS BIGINT) AS n_used,
         sum(v_q * (CAST(1 AS BIGINT) << CASE WHEN n - rn - 1 > 0 THEN n - rn - 1 ELSE 0 END)) AS num
  FROM sized GROUP BY user_id
)
SELECT user_id, n_used,
       CAST(num // (CAST(1 AS BIGINT) << (n_used - 1)) AS BIGINT) AS ewma_micro,
       CAST(num // (CAST(1 AS BIGINT) << (n_used - 1)) AS BIGINT) / {EWMA_Q}.0 AS ewma
FROM per
ORDER BY ewma_micro DESC, user_id
LIMIT {EWMA_TOPK}
"""


@register(
    "events_user_ewma",
    _EWMA_ORACLE,
    doc=f"per-user exact alpha=1/2 EWMA over the trailing {EWMA_N} events, top-{EWMA_TOPK}",
)
def events_user_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of event value per user over
    the trailing ``EWMA_N`` events — the classic bounded-state user
    feature (recent behavior weighted over stale). alpha = 1/2 is chosen
    so the fold is EXACT: quantize values to integer micro-units, unroll
    the recursion to an integer-weighted sum (weights are powers of two,
    shiftleft — see the oracle comment), and finish with one integral
    divide. No cross-engine float summation anywhere; the `ewma` double
    is a single exact small-integer division.

    Scale shape: one window partitioned by user_id (state bounded per
    key) ranks events newest-first; everything past rank ``EWMA_N`` is
    dropped BEFORE the second (also per-user, now <= N rows each) sizing
    window and the per-user aggregate, so per-task memory is bounded by
    a constant regardless of a user's history length. Top-k via
    TakeOrderedAndProject. The streaming twin of this shape is an
    applyInPandasWithState keyed fold."""
    events = load(spark, sf_dir, "events")
    w_rank = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    sel = (
        events.select(
            "user_id",
            F.floor(F.col("value") * EWMA_Q).cast("long").alias("v_q"),
            F.row_number().over(w_rank).alias("rn"),
        )
        .filter(F.col("rn") <= EWMA_N)
    )
    sized = sel.withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("user_id")))
    # SQL shiftleft accepts a column bit count; the Python F.shiftleft
    # wrapper only takes a literal.
    term = F.expr(
        "CAST(v_q * shiftleft(CAST(1 AS BIGINT), greatest(n - rn - 1, 0)) AS DECIMAL(38,0))"
    )
    per = sized.groupBy("user_id").agg(
        F.max("n").cast("long").alias("n_used"),
        F.sum(term).alias("num"),
    )
    denom = F.expr("shiftleft(CAST(1 AS BIGINT), n_used - 1)")
    ewma_micro = F.expr("CAST(num div CAST(denom AS DECIMAL(38,0)) AS BIGINT)")
    return (
        per.withColumn("denom", denom)
        .withColumn("ewma_micro", ewma_micro)
        .select(
            "user_id",
            "n_used",
            "ewma_micro",
            (F.col("ewma_micro") / F.lit(float(EWMA_Q))).alias("ewma"),
        )
        .orderBy(F.desc("ewma_micro"), F.asc("user_id"))
        .limit(EWMA_TOPK)
    )


# --------------------------------------------------------------------------
# Gaps-and-islands: consecutive-day activity streaks
# --------------------------------------------------------------------------

_STREAKS_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day FROM events
),
grp AS (
  SELECT user_id, day,
         day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INTEGER)
           AS island
  FROM days
),
streaks AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS len
  FROM grp GROUP BY user_id, island
),
best AS (
  SELECT user_id, CAST(max(len) AS BIGINT) AS best_streak,
         CAST(count(*) AS BIGINT) AS n_streaks,
         CAST(sum(len) AS BIGINT) AS active_days
  FROM streaks GROUP BY user_id
)
SELECT best_streak,
       CAST(count(*) AS BIGINT)          AS n_users,
       CAST(sum(active_days) AS BIGINT)  AS active_days,
       CAST(sum(n_streaks) AS BIGINT)    AS n_streaks
FROM best
GROUP BY best_streak
ORDER BY best_streak
"""


@register(
    "events_activity_streaks",
    _STREAKS_ORACLE,
    doc="gaps-and-islands: longest consecutive-day streak per user, histogrammed",
)
def events_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gaps-and-islands pattern: a user's consecutive active days
    form an island exactly when (day - row_number) is constant — the
    classic trick that turns run detection into a GROUP BY, with no
    self-join and no iterative pass. Output is the retention team's
    streak histogram: how many users peak at an n-day streak.

    Exactness: everything is integer date arithmetic (date minus a day
    count, counts of counts). Scale shape: events dedupe map-side to
    (user, day) — calendar-bounded per user; the row_number window
    partitions per user (the sessionize discipline); both downstream
    aggregates shrink monotonically (user-islands, then a streak-length
    histogram bounded by the calendar). Reference analogue: none; this
    is the engagement-analytics sibling of `events_sessionize_batch` at
    day granularity."""
    events = load(spark, sf_dir, "events")
    days = events.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grp = days.select(
        "user_id",
        "day",
        F.date_sub(F.col("day"), F.row_number().over(w)).alias("island"),
    )
    streaks = grp.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).cast("long").alias("len")
    )
    best = streaks.groupBy("user_id").agg(
        F.max("len").cast("long").alias("best_streak"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.sum("len").cast("long").alias("active_days"),
    )
    return (
        best.groupBy("best_streak")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("active_days").cast("long").alias("active_days"),
            F.sum("n_streaks").cast("long").alias("n_streaks"),
        )
        .orderBy("best_streak")
    )


# --------------------------------------------------------------------------
# Bounce rate by landing event type (single-event-session share)
# --------------------------------------------------------------------------

_BOUNCE_ORACLE = f"""
WITH marked AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL '{_SESSIONIZE_GAP_MIN}' MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, event_type, new_session,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_no
  FROM marked
),
per_session AS (
  SELECT user_id, session_no,
         max(CASE WHEN new_session = 1 THEN event_type END) AS landing_type,
         CAST(count(*) AS BIGINT) AS n_events
  FROM sessions GROUP BY user_id, session_no
)
SELECT landing_type,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(count(CASE WHEN n_events = 1 THEN 1 END) AS BIGINT) AS n_bounces,
       CAST(CAST(count(CASE WHEN n_events = 1 THEN 1 END) AS HUGEINT) * 1000000
            // count(*) AS BIGINT) AS bounce_ppm,
       round(CAST(sum(n_events) AS DOUBLE) / count(*), 4) AS avg_session_events
FROM per_session
GROUP BY landing_type
ORDER BY landing_type
"""


@register(
    "events_bounce_rate_sessions",
    _BOUNCE_ORACLE,
    doc="bounce rate (single-event-session share) by landing event type",
)
def events_bounce_rate_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate by LANDING event type: the share of 30-min-gap
    sessions that contain exactly one event, keyed by the type of the
    event that OPENED the session — the standard web-analytics readout
    (GA-style), and the product counterpart of `events_sessionize_batch`
    (same gap rule, rolled up instead of top-k'd).

    The landing row needs no ranking join: it IS the ``new_session = 1``
    row, so one conditional max per session recovers it — exactly one
    such row exists per session by construction.

    Exactness: bounce rate is ONE floor division of exact counts (ppm);
    the only double is the rounded display average.

    Scale: both windows partition by user_id (the safe class — per-task
    work bounded by one user's history) and share one exchange+sort with
    the session numbering; then a (user × session) aggregate and a
    types-bounded rollup."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = events.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
                > _SESSIONIZE_GAP_MIN * 60 * 1_000_000
            ),
            1,
        ).otherwise(0),
    )
    sessions = marked.withColumn("session_no", F.sum("new_session").over(w))
    per_session = sessions.groupBy("user_id", "session_no").agg(
        F.max(F.when(F.col("new_session") == 1, F.col("event_type"))).alias("landing_type"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    return (
        per_session.groupBy("landing_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).cast("long").alias("n_bounces"),
            F.expr(
                "CAST(CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DECIMAL(38,0))"
                " * 1000000 div count(1) AS BIGINT)"
            ).alias("bounce_ppm"),
            F.round(F.sum("n_events").cast("double") / F.count(F.lit(1)), 4).alias(
                "avg_session_events"
            ),
        )
        .orderBy("landing_type")
    )


# --------------------------------------------------------------------------
# Peak session concurrency (interval stacking over sessionized events)
# --------------------------------------------------------------------------

_CONCURRENCY_ORACLE = f"""
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL '{_SESSIONIZE_GAP_MIN}' MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_no,
         ts
  FROM marked
),
spans AS (
  SELECT epoch_us(min(ts)) AS t0, epoch_us(max(ts)) AS t1
  FROM sessions GROUP BY user_id, session_no
),
deltas AS (
  SELECT t0 AS t, 1 AS delta, -1 AS neg FROM spans
  UNION ALL
  SELECT t1 AS t, -1 AS delta, 1 AS neg FROM spans
),
running AS (
  SELECT t, sum(delta) OVER (ORDER BY t, neg
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cur
  FROM deltas
),
peak AS (SELECT max(cur) AS peak FROM running)
SELECT
  CAST((SELECT count(*) FROM spans) AS BIGINT) AS n_sessions,
  CAST(p.peak AS BIGINT) AS peak_concurrency,
  strftime(make_timestamp((SELECT min(t) FROM running WHERE cur = p.peak)),
           '%Y-%m-%d %H:%M:%S') AS peak_at
FROM peak p
"""


@register(
    "events_peak_concurrency",
    _CONCURRENCY_ORACLE,
    doc="peak concurrent 30-min-gap sessions via +1/-1 interval stacking",
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency: the maximum number of 30-min-gap sessions open
    at the same instant — the capacity-planning number (licenses,
    connection pools, live-ops dashboards). Classic interval stacking:
    each session contributes +1 at its start and -1 at its end; the
    running sum over the merged, time-ordered deltas IS the concurrency
    curve, and its max is the answer — no interval self-join, ever.

    Tie rule (part of the spec, identical both engines): same-instant
    starts sort before ends (ascending (t, -delta)), so touching
    sessions count as overlapping. Within a tie group all deltas are
    equal, so the multiset of running values — hence the max and its
    first timestamp — is permutation-invariant even though per-row
    peer order is not.

    Scale: sessionization is the user-partitioned window pair; the
    global running sum goes through the range-partitioned
    `grouped_running_sums` machinery (never a single-task window over
    2x sessions rows); the peak lookup is one aggregate + one filter."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = events.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
                > _SESSIONIZE_GAP_MIN * 60 * 1_000_000
            ),
            1,
        ).otherwise(0),
    )
    sessions = marked.withColumn("session_no", F.sum("new_session").over(w))
    spans = sessions.groupBy("user_id", "session_no").agg(
        F.unix_micros(F.min("ts")).alias("t0"), F.unix_micros(F.max("ts")).alias("t1")
    ).persist(CKPT_LEVEL)
    deltas = spans.select(
        F.col("t0").alias("t"), F.lit(1).alias("delta"), F.lit(-1).alias("neg")
    ).unionAll(
        spans.select(F.col("t1").alias("t"), F.lit(-1).alias("delta"), F.lit(1).alias("neg"))
    )
    from gluettalax_spark.operators.rank import grouped_running_sums

    running = grouped_running_sums(deltas, [], ["t", "neg"], [("delta", "cur")]).persist(
        CKPT_LEVEL
    )  # feeds the peak aggregate AND the peak-at lookup
    peak = running.agg(F.max("cur").cast("long").alias("peak"))
    peak_at = (
        running.crossJoin(F.broadcast(peak))
        .filter(F.col("cur") == F.col("peak"))
        .agg(F.min("t").alias("pt"))
        .select(
            F.date_format(F.expr("timestamp_micros(pt)"), "yyyy-MM-dd HH:mm:ss").alias("peak_at")
        )
    )
    n_sess = spans.agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
    return (
        n_sess.crossJoin(F.broadcast(peak))
        .crossJoin(F.broadcast(peak_at))
        .select("n_sessions", F.col("peak").alias("peak_concurrency"), "peak_at")
    )


# --------------------------------------------------------------------------
# Within-session event-type co-occurrence PMI
# --------------------------------------------------------------------------

_SESSION_PMI_ORACLE = f"""
WITH marked AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL '{_SESSIONIZE_GAP_MIN}' MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, event_type,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_no
  FROM marked
),
per_session AS (
  SELECT user_id, session_no, list_sort(list(DISTINCT event_type)) AS types
  FROM sessions GROUP BY user_id, session_no
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions FROM per_session),
singles AS (
  SELECT t AS a, CAST(count(*) AS BIGINT) AS n_a
  FROM (SELECT unnest(types) AS t FROM per_session)
  GROUP BY t
),
pairs AS (
  SELECT p.types[CAST(i.i AS INTEGER)] AS a, p.types[CAST(j.j AS INTEGER)] AS b,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM per_session p,
       LATERAL (SELECT unnest(range(1, len(p.types) + 1)) AS i) i,
       LATERAL (SELECT unnest(range(1, len(p.types) + 1)) AS j) j
  WHERE j.j > i.i
  GROUP BY 1, 2
)
SELECT pr.a AS type_a, pr.b AS type_b, pr.n_ab, sa.n_a, sb.n_a AS n_b,
       round(ln((CAST(pr.n_ab AS DOUBLE) * nn.n_sessions)
                / (CAST(sa.n_a AS DOUBLE) * sb.n_a)), 4) AS pmi
FROM pairs pr
JOIN singles sa ON sa.a = pr.a
JOIN singles sb ON sb.a = pr.b
CROSS JOIN nn
ORDER BY pmi DESC, type_a, type_b
"""


@register(
    "events_session_type_pmi",
    _SESSION_PMI_ORACLE,
    doc="within-session event-type co-occurrence PMI (behavioral basket analysis)",
)
def events_session_type_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral basket analysis: pointwise mutual information between
    event types CO-OCCURRING IN THE SAME SESSION — which actions travel
    together beyond what their base rates predict (the session-level
    sibling of `basket_rules`' order-level lift and
    `text_collocations_pmi`'s token-level statistic).

    Sessions are the shared 30-min-gap definition; each session reduces
    map-side to its sorted DISTINCT type set (bounded by the type
    vocabulary, ≤ 5 here), and pairs explode from that bounded array —
    never a session self-join. PMI = ln(n_ab·N/(n_a·n_b)) evaluated as
    ONE expression over exact counts, rounded at 4 dp (the
    collocations-PMI convention — a single libm ln under rounding).

    Scale: the sessionize window pair (user-partitioned), one
    session-grain aggregate, then everything is k²-bounded."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = events.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
                > _SESSIONIZE_GAP_MIN * 60 * 1_000_000
            ),
            1,
        ).otherwise(0),
    )
    sessions = marked.withColumn("session_no", F.sum("new_session").over(w))
    per_session = sessions.groupBy("user_id", "session_no").agg(
        F.sort_array(F.collect_set("event_type")).alias("types")
    ).persist(CKPT_LEVEL)
    nn = per_session.agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
    singles = (
        per_session.select(F.explode("types").alias("a"))
        .groupBy("a")
        .agg(F.count(F.lit(1)).cast("long").alias("n_a"))
    )
    pairs = (
        explode_pairs(per_session, "types", "a", "b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    sb = singles.select(F.col("a").alias("b"), F.col("n_a").alias("n_b"))
    return (
        pairs.join(F.broadcast(singles), "a")
        .join(F.broadcast(sb), "b")
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("a").alias("type_a"),
            F.col("b").alias("type_b"),
            "n_ab",
            "n_a",
            "n_b",
            F.round(
                F.log(
                    (F.col("n_ab").cast("double") * F.col("n_sessions"))
                    / (F.col("n_a").cast("double") * F.col("n_b"))
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "type_a", "type_b")
    )
