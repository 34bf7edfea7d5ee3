"""Pipeline-analytics operators: event funnels and n-gram vocabulary
stats — the rollups a training-data/product pipeline runs daily.

Both are single-shuffle aggregates by construction (conditional min /
explode + count), which is what keeps them linear at 100 TB.
"""

from __future__ import annotations

from gluettalax_spark.memory import CKPT_LEVEL

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gluettalax_spark.operators.dedup import (
    _WORD_COUNT_DUCK,
    _WORDS_DUCK,
    _WS_TOKENS_DUCK,
    _duck_hex_int,
    _tokens_col,
    duck_ngram,
    shingles_cte,
    shingles_exploded,
    word_count,
)
from gluettalax_spark.operators.graph import MAX_BASKET, order_baskets, pair_support
from gluettalax_spark.operators.rank import exact_global_rank, ntile_from_rank
from gluettalax_spark.registry import register
from gluettalax_spark.tables import load


def md5_byte(c: F.Column) -> F.Column:
    """The first byte of md5(c) as an int in [0, 256) — hex chars 1-2 of
    the digest, parsed the way the DuckDB oracles parse them. A
    content-stable hash: the same for a value under any row order,
    partitioning or engine."""
    h = F.md5(c.cast("string"))
    nibble = lambda i: F.instr(F.lit("0123456789abcdef"), F.substring(h, i, 1)) - 1  # noqa: E731
    return nibble(1) * 16 + nibble(2)


# --------------------------------------------------------------------------
# Conversion funnel: signup → view → click → purchase (ordered steps)
# --------------------------------------------------------------------------

_FUNNEL_ORACLE = """
WITH per_user AS (
  SELECT
    user_id,
    min(CASE WHEN event_type = 'signup'   THEN ts END) AS t_signup,
    min(CASE WHEN event_type = 'view'     THEN ts END) AS t_view,
    min(CASE WHEN event_type = 'click'    THEN ts END) AS t_click,
    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events
  GROUP BY user_id
)
SELECT
  count(*) AS n_users,
  count(t_signup) AS n_signup,
  count(CASE WHEN t_view > t_signup THEN 1 END) AS n_then_view,
  count(CASE WHEN t_click > t_view AND t_view > t_signup THEN 1 END) AS n_then_click,
  count(CASE WHEN t_purchase > t_click AND t_click > t_view AND t_view > t_signup THEN 1 END)
    AS n_full_funnel
FROM per_user
"""


@register("events_funnel", _FUNNEL_ORACLE, doc="ordered conversion funnel via conditional-min pivot")
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel pivots each user's first time per step in ONE aggregate
    (conditional mins), then counts step-order predicates — never a
    self-join per step (the naive k-step funnel is k−1 joins; this is one
    shuffle regardless of k)."""
    events = load(spark, sf_dir, "events")
    first = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))  # noqa: E731
    per_user = events.groupBy("user_id").agg(
        first("signup").alias("t_signup"),
        first("view").alias("t_view"),
        first("click").alias("t_click"),
        first("purchase").alias("t_purchase"),
    )
    step = lambda c: F.count(F.when(c, F.lit(1)))  # noqa: E731
    in_order2 = F.col("t_view") > F.col("t_signup")
    in_order3 = (F.col("t_click") > F.col("t_view")) & in_order2
    in_order4 = (F.col("t_purchase") > F.col("t_click")) & in_order3
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_signup").alias("n_signup"),
        step(in_order2).alias("n_then_view"),
        step(in_order3).alias("n_then_click"),
        step(in_order4).alias("n_full_funnel"),
    )


# --------------------------------------------------------------------------
# N-gram vocabulary: top-5 bigrams per language
# --------------------------------------------------------------------------

_BIGRAM_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, lang,
         {_WS_TOKENS_DUCK} AS tokens
  FROM documents
),
pairs AS (
  SELECT lang,
         {duck_ngram(2)} AS bigram
  FROM toks, unnest(range(1, len(tokens))) AS r(i)
  WHERE len(tokens) >= 2
),
counts AS (
  SELECT lang, bigram, count(*) AS n FROM pairs GROUP BY lang, bigram
),
ranked AS (
  SELECT lang, bigram, n,
         CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS BIGINT) AS rnk
  FROM counts
)
SELECT lang, bigram, n, rnk
FROM ranked
WHERE rnk <= 5
ORDER BY lang, rnk
"""


@register("text_top_bigrams", _BIGRAM_ORACLE, doc="top-5 bigram frequency per language")
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary/n-gram stats: explode bigrams (posexplode carrying the
    tokens array + positional element_at — the shingles_exploded shape,
    optimization r12: no lead() window, so the raw token stream never
    shuffles), count per (lang, bigram) — one shuffle — then a
    per-language top-5 window. At 100 TB the count aggregate
    map-side-combines, so the shuffle carries (lang, bigram,
    partial_count), not raw token streams."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        _tokens_col().alias("tokens"),
    ).filter(F.size("tokens") >= 2)
    pe = toks.select("doc_id", "lang", "tokens", F.posexplode("tokens").alias("pos", "tok"))
    pairs = (
        pe.filter(F.col("pos") <= F.size("tokens") - 2)
        .select(
            "lang",
            F.concat_ws(" ", "tok", F.element_at("tokens", F.col("pos") + 2)).alias("bigram"),
        )
    )
    counts = pairs.groupBy("lang", "bigram").agg(F.count(F.lit(1)).alias("n"))
    rw = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("bigram"))
    return (
        counts.withColumn("rnk", F.row_number().over(rw).cast("long"))
        .filter(F.col("rnk") <= 5)
        .select("lang", "bigram", "n", "rnk")
        .orderBy("lang", "rnk")
    )


# --------------------------------------------------------------------------
# Deterministic hash sampling / train-test split
# --------------------------------------------------------------------------

_SAMPLE_ORACLE = """
WITH tagged AS (
  SELECT
    doc_id, lang,
    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
      + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS h
  FROM documents
)
SELECT
  lang,
  count(*)                                   AS n_docs,
  count(CASE WHEN h < 26 THEN 1 END)         AS n_sampled,
  count(CASE WHEN h >= 230 THEN 1 END)       AS n_holdout
FROM tagged
GROUP BY lang
ORDER BY lang
"""


@register("sample_hash_split", _SAMPLE_ORACLE, doc="deterministic ~10% sample + holdout via content hash")
def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible sampling WITHOUT an RNG: bucket = first byte of
    md5(doc_id) → h < 26 is a ~10% sample, h ≥ 230 a ~10% holdout. Unlike
    `df.sample(seed=...)` this is stable across engines, partitionings,
    and reruns — the property a training pipeline needs so a document
    never migrates between train and eval. Pure projection + one
    aggregate; zero extra shuffles at any scale."""
    docs = load(spark, sf_dir, "documents")
    h = md5_byte(F.col("doc_id"))
    return (
        docs.withColumn("h", h)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("h") < 26, 1)).alias("n_sampled"),
            F.count(F.when(F.col("h") >= 230, 1)).alias("n_holdout"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# CDC latest-snapshot: newest record per key
# --------------------------------------------------------------------------

_LATEST_ORACLE = """
SELECT user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
       event_type AS last_event_type,
       round(value, 2) AS last_value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
ORDER BY user_id
"""


@register("latest_snapshot", _LATEST_ORACLE, doc="CDC compaction: newest record per key via window")
def latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-log → current-state compaction: one window shuffle on the
    key, rank-1 filter (with event_id tiebreak for same-ts updates). The
    standard pattern for compacting an append-only CDC log into a
    snapshot table — at 100 TB this runs per partition-of-key-range and
    feeds `upsert_partitioned`."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
            F.col("event_type").alias("last_event_type"),
            F.round("value", 2).alias("last_value"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Ordered array aggregation (deterministic collect)
# --------------------------------------------------------------------------

_COLLECT_ORACLE = """
SELECT
  o_custkey,
  array_to_string(list(strftime(o_orderdate, '%Y-%m-%d') ORDER BY o_orderdate, o_orderkey), ',')
    AS order_dates,
  count(*) AS n_orders
FROM orders
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_custkey
ORDER BY o_custkey
"""


@register("agg_collect_ordered", _COLLECT_ORACLE, doc="deterministic ordered collect_list per key")
def agg_collect_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list order is nondeterministic under parallel merge; the
    deterministic form collects (sort_key, value) structs and sorts the
    array AFTER aggregation — stable at any partitioning. (DuckDB's
    `list(... ORDER BY)` states the same contract declaratively.)"""
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    pair = F.struct(
        F.col("o_orderdate").alias("d"), F.col("o_orderkey").alias("k"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("v"),
    )
    return (
        orders.groupBy("o_custkey")
        .agg(
            # Emitted as a joined string: array-typed result cells hash
            # differently across pandas bridges (ndarray vs list).
            F.array_join(
                F.transform(F.array_sort(F.collect_list(pair)), lambda s: s["v"]), ","
            ).alias("order_dates"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_custkey")
    )


# --------------------------------------------------------------------------
# Co-occurrence (market basket): part pairs ordered together
# --------------------------------------------------------------------------

_COOCCUR_ORACLE = f"""
WITH items AS (
  SELECT l_orderkey, l_partkey
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
  WHERE l_orderkey IN (
    SELECT l_orderkey FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    GROUP BY l_orderkey HAVING count(*) <= {MAX_BASKET}
  )
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
  FROM items a
  JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT part_a, part_b, count(*) AS n_orders
FROM pairs
GROUP BY part_a, part_b
ORDER BY n_orders DESC, part_a, part_b
LIMIT 20
"""


@register("part_cooccurrence", _COOCCUR_ORACLE, doc="top part pairs co-ordered (market basket)")
def part_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence mining over per-order baskets, on the builders
    `graph.cooccurrence_edges` shares: `graph.order_baskets` (ONE
    groupBy(order) collects the deduped basket) and `graph.pair_support`
    (ordered pairs explode map-side from the array — one shuffle replaces
    distinct + self-join — and are counted), unpruned; top-k via
    TakeOrderedAndProject. The classic skew danger — one degenerate
    mega-basket contributing C(n,2) pairs — is handled structurally:
    baskets wider than ``MAX_BASKET`` distinct parts are dropped whole,
    and the DuckDB oracle replays the cap (cap semantics are part of the
    operator spec)."""
    return (
        pair_support(order_baskets(spark, sf_dir))
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            F.col("support").alias("n_orders"),
        )
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Cohort retention: users by signup month × months since
# --------------------------------------------------------------------------

_COHORT_ORACLE = """
WITH first_seen AS (
  SELECT user_id, time_bucket(INTERVAL '1 month', min(ts)) AS cohort_month
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id,
         f.cohort_month,
         CAST(datediff('month', f.cohort_month, time_bucket(INTERVAL '1 month', e.ts)) AS BIGINT)
           AS months_since
  FROM events e JOIN first_seen f ON e.user_id = f.user_id
)
SELECT
  strftime(cohort_month, '%Y-%m') AS cohort,
  months_since,
  count(*) AS n_active_users
FROM activity
GROUP BY cohort_month, months_since
ORDER BY cohort, months_since
"""


@register("events_cohort_retention", _COHORT_ORACLE, doc="signup-cohort × months-since retention matrix")
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: first-activity month per user via a window
    ``min(ts) over (partition by user_id)`` — NO join and NO broadcast.
    The per-user cohort table grows with the data (users ∝ rows), so
    broadcasting it would OOM at 100 TB; the window needs only one
    hash-partition of events on user_id, after which cohort_month rides
    along each row for free. distinct (user, cohort, month), then count."""
    events = load(spark, sf_dir, "events")
    w_user = Window.partitionBy("user_id")
    activity = (
        events.withColumn(
            "cohort_month", F.date_trunc("month", F.min("ts").over(w_user))
        )
        .select(
            "user_id",
            "cohort_month",
            (
                (F.year(F.date_trunc("month", "ts")) - F.year("cohort_month")) * 12
                + (F.month(F.date_trunc("month", "ts")) - F.month("cohort_month"))
            ).cast("long").alias("months_since"),
        )
        .distinct()
    )
    return (
        activity.groupBy(
            F.date_format("cohort_month", "yyyy-MM").alias("cohort"), "months_since"
        )
        .agg(F.count(F.lit(1)).alias("n_active_users"))
        .orderBy("cohort", "months_since")
    )


# --------------------------------------------------------------------------
# Per-label embedding centroids (class prototypes for similarity search)
# --------------------------------------------------------------------------

_CENTROID_ORACLE = """
SELECT
  label,
  CAST(i - 1 AS INTEGER) AS dim,
  round(avg(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)), 5) AS centroid_val,
  count(*) AS n_vectors
FROM embeddings, unnest(range(1, 9)) AS r(i)
GROUP BY label, i
ORDER BY label, dim
"""


@register("embedding_label_centroids", _CENTROID_ORACLE, doc="per-label mean embedding (first 8 dims)")
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class prototypes: posexplode the vector, average per (label, dim).
    Output is (label, dim, value) rows, not arrays — narrow, hashable,
    and the shuffle carries scalars. At full dim count this is the
    centroid step of KMeans/IVF expressed declaratively; truncated to 8
    dims here purely to keep the oracle result compact."""
    emb = load(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("dim", "val")).filter(
        F.col("dim") < 8
    )
    return (
        ex.groupBy("label", "dim")
        .agg(
            F.round(F.avg(F.col("val").cast("double")), 5).alias("centroid_val"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
        .orderBy("label", "dim")
    )


# --------------------------------------------------------------------------
# RFM customer segmentation (recency / frequency / monetary quartiles)
# --------------------------------------------------------------------------

_RFM_ORACLE = """
WITH base AS (
  SELECT
    o_custkey,
    CAST(datediff('day', max(o_orderdate), TIMESTAMP '2002-01-01 00:00:00') AS BIGINT)
      AS recency_days,
    count(*) AS frequency,
    round(sum(o_totalprice), 2) AS monetary
  FROM orders GROUP BY o_custkey
)
SELECT
  o_custkey,
  recency_days, frequency, monetary,
  CAST(ntile(4) OVER (ORDER BY recency_days, o_custkey) AS BIGINT)          AS r_quartile,
  CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS BIGINT)        AS f_quartile,
  CAST(ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS BIGINT)         AS m_quartile
FROM base
ORDER BY o_custkey
"""


@register("customer_rfm_segments", _RFM_ORACLE, doc="RFM quartile segmentation per customer")
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM: one aggregate builds all three metrics; quartiles come from
    ONE exact global rank (range-repartition + offsets, operators/rank.py)
    fed into the closed-form ntile — NOT from three unpartitioned ntile
    windows, which would push every customer row (~1.5B at 100×) through
    one task three times.

    Single-pass fusion (r13, guide §2.1/§2.3 — VERDICT r12 #8): all
    three metrics ride ONE rank pass. Each customer row explodes
    map-side into three (tag, sortval, custkey) rows — DESC metrics
    negate their integer sort value, so (sortval ASC, custkey ASC)
    reproduces each oracle window's order exactly (monetary is a DOUBLE
    rounded to 2 dp, so its cents are rounded, not truncated, to an
    exact long: 0.29·100 is 28.999…) — and the global rank over (tag,
    sortval, custkey) yields each metric's in-tag rank as rn − tag·N
    (every tag block holds exactly N = _n/3 rows). One range exchange
    of three rows per customer, ONE isolation checkpoint, one pivot
    aggregate; ranks (hence quartiles) stay total-order exact and the
    oracle keeps the one-window SQL form.

    Every tagged row also carries the customer's three metric values,
    so the pivot aggregate, which already shuffles on o_custkey, takes
    them back with ``max`` (the same value on all three rows). The
    metric aggregate therefore has one consumer: it needs no cut and no
    join back onto the quartiles."""
    orders = load(spark, sf_dir, "orders")
    anchor = F.lit("2002-01-01 00:00:00").cast("timestamp")
    base = orders.groupBy("o_custkey").agg(
        F.datediff(anchor, F.max("o_orderdate")).cast("long").alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    metrics = ["recency_days", "frequency", "monetary"]
    tagged = base.select(
        "o_custkey",
        *metrics,
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).cast("long").alias("tag"),
                    F.col("recency_days").alias("sortval"),
                ),
                F.struct(
                    F.lit(1).cast("long").alias("tag"),
                    (-F.col("frequency")).cast("long").alias("sortval"),
                ),
                F.struct(
                    F.lit(2).cast("long").alias("tag"),
                    (-F.round(F.col("monetary") * 100)).cast("long").alias("sortval"),
                ),
            )
        ).alias("_t"),
    ).select(
        F.col("_t.tag").alias("tag"), F.col("_t.sortval").alias("sortval"), "o_custkey", *metrics
    )
    ranked = exact_global_rank(tagged, [F.col("tag"), F.col("sortval"), F.col("o_custkey")], "_rn")
    n_tag = F.expr("_n DIV 3")
    return (
        ranked.select(
            "o_custkey",
            *metrics,
            "tag",
            ntile_from_rank(F.col("_rn") - F.col("tag") * n_tag, n_tag, 4).alias("_q"),
        )
        .groupBy("o_custkey")
        .agg(
            *[F.max(m).alias(m) for m in metrics],
            F.max(F.when(F.col("tag") == 0, F.col("_q"))).alias("r_quartile"),
            F.max(F.when(F.col("tag") == 1, F.col("_q"))).alias("f_quartile"),
            F.max(F.when(F.col("tag") == 2, F.col("_q"))).alias("m_quartile"),
        )
        .orderBy("o_custkey")
    )


# --------------------------------------------------------------------------
# SCD Type-2 history: validity intervals from a change log
# --------------------------------------------------------------------------

_SCD2_ORACLE = """
WITH changes AS (
  SELECT user_id, ts, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         event_id
  FROM events
),
transitions AS (
  SELECT user_id, ts, event_type, event_id
  FROM changes
  WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT
  user_id,
  event_type AS state,
  strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
  coalesce(
    strftime(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), '%Y-%m-%d %H:%M:%S'),
    '9999-12-31 00:00:00'
  ) AS valid_to,
  CASE WHEN lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
       THEN TRUE ELSE FALSE END AS is_current
FROM transitions
ORDER BY user_id, valid_from
"""


@register("scd2_user_history", _SCD2_ORACLE, doc="SCD Type-2 validity intervals from a change log")
def scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change log → Type-2 dimension history: collapse consecutive equal
    states (lag filter), then each surviving transition's valid_to is the
    NEXT transition's start (lead), open intervals marked current. Both
    windows share one (user_id) exchange. This is the dimension-table
    half of CDC; latest_snapshot is the Type-1 half."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    transitions = (
        events.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
        .select("user_id", "ts", "event_type", "event_id")
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w2)
    return (
        transitions.select(
            "user_id",
            F.col("event_type").alias("state"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
            F.coalesce(
                F.date_format(nxt, "yyyy-MM-dd HH:mm:ss"), F.lit("9999-12-31 00:00:00")
            ).alias("valid_to"),
            nxt.isNull().alias("is_current"),
        )
        .orderBy("user_id", "valid_from")
    )


# --------------------------------------------------------------------------
# Event-type transition matrix (first-order Markov counts)
# --------------------------------------------------------------------------

_TRANSITIONS_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
)
SELECT
  event_type AS from_type,
  next_type  AS to_type,
  count(*)   AS n_transitions,
  round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY event_type), 4) AS p_transition
FROM seq
WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
ORDER BY from_type, to_type
"""


@register("events_transition_matrix", _TRANSITIONS_ORACLE, doc="first-order event transition counts + probabilities")
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral transition matrix: lead() pairs consecutive events per
    user (one keyed shuffle), counts aggregate per (from, to), and the
    row-normalizing probability is a window sum over the tiny matrix —
    type² rows — not the event stream."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = seq.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n_transitions"))
    wrow = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n_transitions",
        F.round(
            F.col("n_transitions") * 1.0 / F.sum("n_transitions").over(wrow), 4
        ).alias("p_transition"),
    ).orderBy("from_type", "to_type")


# --------------------------------------------------------------------------
# Pareto (cumulative-share) analysis: how concentrated is revenue?
# --------------------------------------------------------------------------

_PARETO_ORACLE = """
WITH spend AS (
  SELECT o_custkey,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total_dec
  FROM orders GROUP BY o_custkey
),
grand AS (SELECT CAST(sum(total_dec) AS DOUBLE) AS g FROM spend),
top AS (
  SELECT o_custkey, total FROM spend
  ORDER BY total DESC, o_custkey
  LIMIT 50
)
SELECT
  CAST(row_number() OVER (ORDER BY total DESC, o_custkey) AS BIGINT) AS rnk,
  o_custkey,
  round(total, 2) AS total,
  round(sum(total) OVER (ORDER BY total DESC, o_custkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        / (SELECT g FROM grand), 4) AS cum_share
FROM top
ORDER BY rnk
"""


@register("customer_pareto", _PARETO_ORACLE, doc="cumulative revenue share (80/20 curve), top 50")
def customer_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto curve, scale-safe form: top-50 spenders via
    TakeOrderedAndProject (orderBy + limit — never a global sort or a
    full-table rank window), grand total as a parallel scalar aggregate
    over the EXACT decimal per-customer sums (order-independent, so the
    ratio is reproducible cross-engine), running share via a window over
    only the 50 surviving rows. The rank-over-everything form this
    replaces pushed every customer through one task."""
    orders = load(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total_dec")
    ).withColumn("total", F.col("total_dec").cast("double"))
    grand = spend.agg(F.sum("total_dec").cast("double").alias("_grand"))
    top = spend.select("o_custkey", "total").orderBy(F.col("total").desc(), "o_custkey").limit(50)
    # This window's input is the 50-row limit output — single-partition by
    # construction, bounded by the literal limit rather than by data size.
    w = Window.orderBy(F.col("total").desc(), F.col("o_custkey"))
    return (
        top.crossJoin(F.broadcast(grand))
        .select(
            F.row_number().over(w).cast("long").alias("rnk"),
            "o_custkey",
            F.round("total", 2).alias("total"),
            F.round(
                F.sum("total").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
                / F.col("_grand"),
                4,
            ).alias("cum_share"),
        )
        .orderBy("rnk")
    )


# --------------------------------------------------------------------------
# Weighted source mixing (per-source deterministic sampling rates)
# --------------------------------------------------------------------------

_MIXTURE_ORACLE = """
WITH tagged AS (
  SELECT
    doc_id, source,
    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
      + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS h,
    CASE
      WHEN source IN ('src0','src1','src2','src3','src4') THEN 256
      WHEN source IN ('src15','src16','src17','src18','src19') THEN 32
      ELSE 128
    END AS cutoff,
    CASE
      WHEN source IN ('src0','src1','src2','src3','src4') THEN 'high'
      WHEN source IN ('src15','src16','src17','src18','src19') THEN 'low'
      ELSE 'mid'
    END AS tier
  FROM documents
)
SELECT
  source,
  tier,
  count(*)                                  AS n_docs,
  count(CASE WHEN h < cutoff THEN 1 END)    AS n_kept,
  round(CAST(count(CASE WHEN h < cutoff THEN 1 END) AS DOUBLE) / count(*), 4) AS actual_rate
FROM tagged
GROUP BY source, tier
ORDER BY source
"""

_HIGH_SRC = ["src0", "src1", "src2", "src3", "src4"]
_LOW_SRC = ["src15", "src16", "src17", "src18", "src19"]


@register(
    "mixture_weighted_sample",
    _MIXTURE_ORACLE,
    doc="per-source mixing weights via deterministic hash sampling",
)
def mixture_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing with per-source weights: high-tier sources keep 100%,
    mid 50%, low 12.5%, decided by the doc's content-stable hash byte —
    reruns, engine swaps, and repartitions never move a document in or
    out of the mix (df.sample cannot promise that). The tier CASE is a
    projection; the whole op is one map + one aggregate, no extra
    shuffle at any corpus size."""
    docs = load(spark, sf_dir, "documents")
    h = md5_byte(F.col("doc_id"))
    cutoff = (
        F.when(F.col("source").isin(_HIGH_SRC), 256)
        .when(F.col("source").isin(_LOW_SRC), 32)
        .otherwise(128)
    )
    tier = (
        F.when(F.col("source").isin(_HIGH_SRC), "high")
        .when(F.col("source").isin(_LOW_SRC), "low")
        .otherwise("mid")
    )
    kept = F.count(F.when(F.col("h") < F.col("cutoff"), 1))
    return (
        docs.select("doc_id", "source", h.alias("h"), cutoff.alias("cutoff"), tier.alias("tier"))
        .groupBy("source", "tier")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            kept.alias("n_kept"),
            F.round(kept.cast("double") / F.count(F.lit(1)), 4).alias("actual_rate"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Sequence packing (concat-stream token budgets per source shard)
# --------------------------------------------------------------------------

_PACK_BUDGET = 512

_PACK_ORACLE = f"""
WITH sized AS (
  SELECT doc_id, source,
         {_WORD_COUNT_DUCK} AS n_tokens
  FROM documents
),
offsets AS (
  SELECT *,
         sum(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - n_tokens AS start_offset
  FROM sized
),
packed AS (
  SELECT source,
         CAST(floor(start_offset / {_PACK_BUDGET}.0) AS BIGINT) AS pack_id,
         n_tokens
  FROM offsets
)
SELECT source, pack_id,
       count(*)                          AS n_docs,
       CAST(sum(n_tokens) AS BIGINT)     AS n_tokens,
       round(sum(n_tokens) / {_PACK_BUDGET}.0, 4) AS fill_ratio
FROM packed
GROUP BY source, pack_id
ORDER BY source, pack_id
"""


@register(
    "sequence_pack_budget",
    _PACK_ORACLE,
    doc=f"concat-stream packing into {_PACK_BUDGET}-token sequences per source",
)
def sequence_pack_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing, the standard LLM pretraining
    layout: within each source shard, documents are concatenated in
    doc_id order and the stream is cut into {budget}-token sequences; a
    document belongs to the pack where its first token lands.

    The running offset is a window partitioned BY SOURCE — each shard's
    prefix sum runs independently, so parallelism = number of shards (at
    100 TB a pipeline sub-shards: partition by (source, doc_id % k) and
    re-base each sub-shard's offsets with broadcast per-shard totals —
    same plan shape, no global single-partition window anywhere)."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    n_tokens = word_count()
    sized = docs.select("doc_id", "source", n_tokens.alias("n_tokens"))
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return (
        sized.withColumn("pack_id", F.floor(start / F.lit(float(_PACK_BUDGET))).cast("long"))
        .groupBy("source", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.round(F.sum("n_tokens") / F.lit(float(_PACK_BUDGET)), 4).alias("fill_ratio"),
        )
        .orderBy("source", "pack_id")
    )


# --------------------------------------------------------------------------
# Stratified (balanced) sampling by language
# --------------------------------------------------------------------------

_STRATIFIED_ORACLE = """
WITH counts AS (
  SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
),
cap AS (SELECT min(n_docs) AS cap FROM counts),
tagged AS (
  SELECT
    d.lang, c.n_docs, cap.cap,
    (strpos('0123456789abcdef', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1)) - 1) * 16
      + (strpos('0123456789abcdef', substr(md5(CAST(d.doc_id AS VARCHAR)), 2, 1)) - 1) AS h
  FROM documents d
  JOIN counts c USING (lang)
  CROSS JOIN cap
)
SELECT
  lang,
  CAST(max(n_docs) AS BIGINT)                         AS n_docs,
  CAST(max(cap) AS BIGINT)                            AS target_cap,
  count(CASE WHEN h * n_docs < 256 * cap THEN 1 END)  AS n_kept
FROM tagged
GROUP BY lang
ORDER BY lang
"""


@register(
    "stratified_sample_by_lang",
    _STRATIFIED_ORACLE,
    doc="deterministic per-language downsampling to the rarest language's count",
)
def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced corpus construction: downsample every language to
    ~the rarest language's document count, deciding keep/drop from the
    document's content-stable hash byte — reruns, engine swaps, and
    repartitions never move a document in or out of the sample (the
    property `df.sampleBy(seed=...)` cannot give across engines).

    The keep test is pure integer arithmetic (`h · n_lang < 256 · cap`),
    so Spark and the SQL oracle agree bit-for-bit — no float rounding at
    the keep boundary. Scale shape: the per-language counts and the
    global cap are aggregate-sized (one row per language / one row
    total) — both broadcast; the corpus itself is touched by exactly one
    map-side projection + one rollup shuffle."""
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    cap = counts.agg(F.min("n_docs").alias("cap"))
    h = md5_byte(F.col("doc_id"))
    return (
        docs.select("doc_id", "lang", h.alias("h"))
        .join(F.broadcast(counts), "lang")
        .crossJoin(F.broadcast(cap))
        .groupBy("lang")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.max("cap").alias("target_cap"),
            F.count(F.when(F.col("h") * F.col("n_docs") < 256 * F.col("cap"), 1)).alias("n_kept"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Token-budget sampling (per-source corpus caps) — round-5 addition
# --------------------------------------------------------------------------

TOKEN_BUDGET = 800  # whitespace tokens per source

_TOKEN_BUDGET_ORACLE = rf"""
WITH t AS (
  SELECT doc_id, source,
         {_WORD_COUNT_DUCK} AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
r AS (
  SELECT doc_id, source, n_tokens,
         CAST(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum_tokens
  FROM t
)
SELECT doc_id, source, n_tokens, cum_tokens
FROM r WHERE cum_tokens <= {TOKEN_BUDGET}
ORDER BY doc_id
"""


@register(
    "token_budget_sample",
    _TOKEN_BUDGET_ORACLE,
    doc=f"per-source token-budget sampling ({TOKEN_BUDGET} ws-tokens/source, hash order)",
)
def token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap each source's contribution to the training mix at a token
    budget: walk the source's documents in content-stable hash order and
    keep while the running total fits. The walk order is md5(doc_id) —
    deterministic across engines, reruns and repartitions (the same
    property stratified_sample_by_lang uses).

    The naive plan — ``sum() OVER (PARTITION BY source ORDER BY h)`` —
    funnels every source through ONE task; a source is a crawl at 100 TB.
    This uses :func:`gluettalax_spark.operators.rank.grouped_running_sums`:
    range-partition on (source, h), per-(pid, source) partial sums, and a
    metadata-scale prefix join — every stage parallel."""
    from gluettalax_spark.operators.rank import grouped_running_sums

    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        word_count().alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    run = grouped_running_sums(t, ["source"], ["h", "doc_id"], [("n_tokens", "cum_tokens")])
    return (
        run.filter(F.col("cum_tokens") <= TOKEN_BUDGET)
        .select("doc_id", "source", "n_tokens", F.col("cum_tokens").cast("long").alias("cum_tokens"))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Cross-source overlap matrix (contamination between corpus sources)
# --------------------------------------------------------------------------

_OVERLAP_ORACLE = f"""
WITH {shingles_cte("source").strip()},
ex AS (SELECT source, unnest(shingles) AS s FROM sh),
hs AS (
  SELECT DISTINCT source, {_duck_hex_int(1, 15)} AS hs
  FROM (SELECT source, md5(s) AS m FROM ex)
),
per_src AS (SELECT source, count(*) AS n FROM hs GROUP BY source),
shared AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
  FROM hs a JOIN hs b ON a.hs = b.hs AND a.source < b.source
  GROUP BY 1, 2
)
SELECT
  s.src_a, s.src_b,
  CAST(s.n_shared AS BIGINT) AS n_shared,
  round(CAST(s.n_shared AS DOUBLE) / (x.n + y.n - s.n_shared), 4) AS jaccard
FROM shared s
JOIN per_src x ON s.src_a = x.source
JOIN per_src y ON s.src_b = y.source
ORDER BY src_a, src_b
"""


@register(
    "source_overlap_matrix",
    _OVERLAP_ORACLE,
    doc="pairwise source contamination: shared distinct shingles + Jaccard",
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much does source A's content overlap source B's? Exact distinct
    word-3-gram shingle overlap per source pair.

    Scale shape: NO self-join on the shingle table. Each distinct
    (shingle, source) row flows into ONE groupBy(shingle) whose value —
    ``collect_set(source)`` — is bounded by the number of sources, and
    pairs explode from that set (≤ C(S,2) per shingle, not per
    occurrence). A hot boilerplate shingle costs one bounded set, never a
    quadratic bucket. Per-source distinct counts broadcast into the final
    Jaccard projection. Shingles are 60-bit md5 ints (hashed identically
    in the oracle, so collisions — ~n²/2⁶¹ — cannot cause a mismatch)."""
    hs = (
        shingles_exploded(spark, sf_dir, carry=("source",))
        .select(
            "source",
            F.expr("CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)").alias("hs"),
        )
        .distinct()
        .persist(CKPT_LEVEL)  # feeds per-source counts AND the pair sets
    )
    per_src = hs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    sets = (
        hs.groupBy("hs")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
        .filter(F.size("srcs") > 1)
    )
    pairs = sets.select(
        F.explode(
            F.flatten(
                F.transform(
                    "srcs",
                    lambda x, i: F.transform(
                        F.slice(F.col("srcs"), i + F.lit(2), F.size(F.col("srcs"))),
                        lambda y: F.struct(x.alias("src_a"), y.alias("src_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.src_a", "p.src_b")
    shared = pairs.groupBy("src_a", "src_b").agg(F.count(F.lit(1)).alias("n_shared"))
    x = per_src.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    y = per_src.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    return (
        shared.join(F.broadcast(x), "src_a")
        .join(F.broadcast(y), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                4,
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


# --------------------------------------------------------------------------
# Deterministic training-shard assignment (export layout)
# --------------------------------------------------------------------------

N_SHARDS = 16

_SHARD_ORACLE = rf"""
WITH t AS (
  SELECT doc_id, source,
         {_WORD_COUNT_DUCK} AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS m
  FROM documents
),
s AS (
  SELECT *,
    ((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 16
   + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1)) % {N_SHARDS} AS shard
  FROM t
)
SELECT
  CAST(shard AS BIGINT) AS shard,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
  min(doc_id) AS min_doc_id,
  max(doc_id) AS max_doc_id
FROM s
GROUP BY shard
ORDER BY shard
"""


def shard_col(doc_id: F.Column, n_shards: int = N_SHARDS) -> F.Column:
    """Content-stable shard id: first md5 byte of the doc id, mod
    n_shards. Independent of row order, partitioning, and engine —
    re-exports land every document in the same shard."""
    return (md5_byte(doc_id) % n_shards).cast("long")


@register(
    "export_training_shards",
    _SHARD_ORACLE,
    doc=f"deterministic {N_SHARDS}-way training-shard assignment summary",
)
def export_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-assignment summary for a training export: per shard, the doc
    count, token mass, and source spread — the balance report you check
    BEFORE writing 100 TB of shards. One projection + one 16-key rollup;
    the actual writer (``sources.io.write_training_shards``) uses the
    same shard_col so the report always describes the files."""
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        word_count().alias("n_tokens"),
        shard_col(F.col("doc_id")).alias("shard"),
    )
    return (
        t.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("shard")
    )


# --------------------------------------------------------------------------
# Association rules (support / confidence / lift) over order baskets
# --------------------------------------------------------------------------

_RULES_MIN_PAIR = 2
_RULES_TOPK = 20

_RULES_ORACLE = f"""
WITH items AS (
  SELECT l_orderkey, l_partkey
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
  WHERE l_orderkey IN (
    SELECT l_orderkey FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    GROUP BY l_orderkey HAVING count(*) <= {MAX_BASKET}
  )
),
n_tot AS (SELECT count(DISTINCT l_orderkey) AS N FROM items),
icnt AS (SELECT l_partkey AS part, count(*) AS n_i FROM items GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n_ab
  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {_RULES_MIN_PAIR}
),
directed AS (
  SELECT pa AS part_a, pb AS part_b, n_ab FROM pairs
  UNION ALL
  SELECT pb AS part_a, pa AS part_b, n_ab FROM pairs
)
SELECT d.part_a, d.part_b, CAST(d.n_ab AS BIGINT) AS n_ab,
       round(CAST(d.n_ab AS DOUBLE) / ia.n_i, 4) AS conf,
       round(CAST(t.N * d.n_ab AS DOUBLE) / (ia.n_i * ib.n_i), 4) AS lift
FROM directed d
JOIN icnt ia ON ia.part = d.part_a
JOIN icnt ib ON ib.part = d.part_b
CROSS JOIN n_tot t
ORDER BY lift DESC, n_ab DESC, part_a, part_b
LIMIT {_RULES_TOPK}
"""


@register(
    "basket_rules",
    _RULES_ORACLE,
    doc=f"association rules a→b: confidence + lift, top-{_RULES_TOPK} by lift (min pair support {_RULES_MIN_PAIR})",
)
def basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules: for every directed part pair
    a→b co-ordered in >= 2 distinct orders, confidence n(a,b)/n(a) and
    lift N·n(a,b)/(n(a)·n(b)); top-20 by lift.

    Scale shape: pair candidates explode MAP-SIDE from per-order baskets
    (one groupBy(order) whose array is bounded by items-per-order — the
    `graph.order_baskets` and `graph.pair_support` builders
    `graph.cooccurrence_edges` shares, never an all-pairs join over
    parts); the min-support filter prunes before the metric joins; item
    counts join on the part key (NOT broadcast — the
    per-part table grows with the catalog, same unbounded-broadcast
    discipline as the rest of the repo); the basket total N is the only
    broadcast (a 1-row scalar aggregate). Ranking ties are broken by
    (n_ab, part ids) on the ROUNDED lift, so cross-engine ordering never
    depends on last-ulp float comparisons."""
    # ONE scan + ONE shuffle: the deduped per-order basket array feeds
    # pair candidates, per-item counts, and the basket total (frozen so
    # the three consumers don't re-run the aggregation).
    baskets = order_baskets(spark, sf_dir).persist(CKPT_LEVEL)
    n_tot = baskets.agg(F.count(F.lit(1)).alias("N"))
    icnt = (
        baskets.select(F.explode("ps").alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("n_i"))
        .persist(CKPT_LEVEL)  # feeds BOTH metric joins (ia and ib)
    )
    pairs = (
        pair_support(baskets)
        .where(F.col("support") >= _RULES_MIN_PAIR)
        .select("pa", "pb", F.col("support").alias("n_ab"))
        .persist(CKPT_LEVEL)  # feeds both halves of the directed union
    )
    directed = pairs.select(
        F.col("pa").alias("part_a"), F.col("pb").alias("part_b"), "n_ab"
    ).unionAll(
        pairs.select(F.col("pb").alias("part_a"), F.col("pa").alias("part_b"), "n_ab")
    )
    ia = icnt.select(F.col("part").alias("part_a"), F.col("n_i").alias("n_a"))
    ib = icnt.select(F.col("part").alias("part_b"), F.col("n_i").alias("n_b"))
    return (
        directed.join(ia, "part_a")
        .join(ib, "part_b")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.round(F.col("n_ab").cast("double") / F.col("n_a"), 4).alias("conf"),
            F.round(
                (F.col("N") * F.col("n_ab")).cast("double")
                / (F.col("n_a") * F.col("n_b")),
                4,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.desc("n_ab"), "part_a", "part_b")
        .limit(_RULES_TOPK)
    )


# --------------------------------------------------------------------------
# SCD2 point-in-time (AS OF) reconstruction
# --------------------------------------------------------------------------

_AS_OF_TS = "2024-01-15 00:00:00"

_SCD2_AS_OF_ORACLE = f"""
WITH changes AS (
  SELECT user_id, ts, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         event_id
  FROM events
),
transitions AS (
  SELECT user_id, ts, event_type, event_id
  FROM changes
  WHERE prev_type IS NULL OR prev_type <> event_type
),
as_of_state AS (
  SELECT user_id, event_type AS state, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM transitions
  WHERE ts <= TIMESTAMP '{_AS_OF_TS}'
)
SELECT user_id, state, strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from
FROM as_of_state
WHERE rn = 1
ORDER BY user_id
"""


@register(
    "scd2_as_of",
    _SCD2_AS_OF_ORACLE,
    doc=f"point-in-time (AS OF '{_AS_OF_TS}') state reconstruction over the SCD2 history",
)
def scd2_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the Type-2 dimension: every user's state AS OF a
    fixed timestamp — the query a Delta/Iceberg `VERSION AS OF` answers
    from snapshot metadata, reconstructed here directly from the change
    log (the portable form when the table format is plain parquet).

    Scale shape: the AS-OF filter lands BEFORE both windows (only events
    ≤ T are scanned — with date-partitioned event storage this is
    partition pruning, not a filter); transition collapse and the
    latest-row pick share one (user_id) exchange; nothing is unbounded —
    the result is one row per user. `scd2_user_history` materializes the
    full validity table; this op answers one point query without it."""
    events = load(spark, sf_dir, "events").filter(
        F.col("ts") <= F.lit(_AS_OF_TS).cast("timestamp")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    transitions = (
        events.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
        .select("user_id", "ts", "event_type", "event_id")
    )
    wd = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        transitions.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Last-touch attribution (fill-forward window, no range join)
# --------------------------------------------------------------------------

ATTRIB_WINDOW_US = 1800 * 1_000_000  # 30-minute attribution window

_ATTRIBUTION_ORACLE = f"""
WITH tagged AS (
  SELECT event_id, ts, user_id, event_type, value,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_purchase,
         CASE WHEN event_type IN ('click', 'view') THEN event_type END AS t_type,
         CASE WHEN event_type IN ('click', 'view') THEN ts END AS t_ts
  FROM events
  WHERE event_type IN ('click', 'view', 'purchase')
),
filled AS (
  SELECT *,
    last_value(t_type IGNORE NULLS) OVER w AS touch_type,
    last_value(t_ts IGNORE NULLS) OVER w AS touch_ts
  FROM tagged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, is_purchase, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
attributed AS (
  SELECT CASE WHEN touch_ts IS NULL
              OR epoch_us(ts) - epoch_us(touch_ts) > {ATTRIB_WINDOW_US}
              THEN 'organic' ELSE touch_type END AS channel,
         value, user_id
  FROM filled
  WHERE is_purchase = 1
)
SELECT channel,
       CAST(count(*) AS BIGINT) AS n_purchases,
       round(sum(value), 2) AS total_value,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM attributed
GROUP BY channel
ORDER BY channel
"""


@register(
    "events_attribution_last_touch",
    _ATTRIBUTION_ORACLE,
    doc="last-touch purchase attribution (30-min window) via fill-forward",
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute each purchase to the user's most recent click/view
    within 30 minutes, else 'organic'. The naive form is a per-purchase
    range join back into raw events (re-scanning event volume per
    purchase); instead the touch columns FILL FORWARD through one window
    partitioned by user — a single shuffle on user_id, each purchase row
    then carries its candidate touch and the window check is a map-side
    filter. Ties are deterministic: ordering is (ts, is_purchase,
    event_id), so same-timestamp touches sort before the purchase and
    the highest event_id wins. The gap compares unix MICROSECONDS on
    both engines (a cast-to-seconds truncation flips purchases whose gap
    straddles a whole second)."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view", "purchase")
    )
    is_touch = F.col("event_type").isin("click", "view")
    tagged = ev.select(
        "event_id",
        "ts",
        "user_id",
        "value",
        (F.col("event_type") == "purchase").cast("int").alias("is_purchase"),
        F.when(is_touch, F.col("event_type")).alias("t_type"),
        F.when(is_touch, F.col("ts")).alias("t_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_purchase", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = tagged.select(
        "*",
        F.last("t_type", ignorenulls=True).over(w).alias("touch_type"),
        F.last("t_ts", ignorenulls=True).over(w).alias("touch_ts"),
    )
    channel = F.when(
        F.col("touch_ts").isNull()
        | (F.unix_micros("ts") - F.unix_micros("touch_ts") > ATTRIB_WINDOW_US),
        F.lit("organic"),
    ).otherwise(F.col("touch_type"))
    return (
        filled.filter(F.col("is_purchase") == 1)
        .select(channel.alias("channel"), "value", "user_id")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("channel")
    )


# --------------------------------------------------------------------------
# Event-sequence Markov transition matrix
# --------------------------------------------------------------------------

_MARKOV_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events
),
counts AS (
  SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
),
totals AS (
  SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM counts GROUP BY from_type
)
SELECT c.from_type, c.to_type, c.n, t.n_from,
       round(CAST(c.n AS DOUBLE) / t.n_from, 4) AS p
FROM counts c JOIN totals t USING (from_type)
ORDER BY from_type, to_type
"""


@register(
    "events_markov_transitions",
    _MARKOV_ORACLE,
    doc="event-type Markov transition matrix over per-user sequences",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event sequences —
    the sequence statistic behind next-action models and funnel-anomaly
    alerts. ONE window (lead over user_id order) forms the consecutive
    pairs — never a self-join of the event stream on adjacency — then a
    count aggregate; the per-source totals come from the (k² row) count
    table itself, so the raw stream is scanned exactly once. Ordering
    inside the window is (ts, event_id) — deterministic under same-ts
    ties on both engines."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    counts = (
        seq.groupBy(F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = counts.groupBy("from_type").agg(F.sum("n").cast("long").alias("n_from"))
    return (
        counts.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            "n_from",
            F.round(F.col("n").cast("double") / F.col("n_from"), 4).alias("p"),
        )
        .orderBy("from_type", "to_type")
    )


# --------------------------------------------------------------------------
# Temperature-scaled source mixture weights (mT5-style upsampling)
# --------------------------------------------------------------------------

_MIX_TEMP_ORACLE = """
WITH per_source AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1048576) AS BIGINT) AS q
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS n_total, CAST(sum(q) AS BIGINT) AS q_total
  FROM per_source
)
SELECT source, n_docs,
       CAST(n_docs * 1000000 // n_total AS BIGINT) AS p_raw_ppm,
       CAST(q * 1000000 // q_total AS BIGINT)      AS w_temp_ppm,
       CAST((q * 1000000 // q_total) * 1000
            // nullif(n_docs * 1000000 // n_total, 0) AS BIGINT) AS boost_milli,
       CAST(100000 * q // q_total AS BIGINT)       AS alloc_100k
FROM per_source, tot
ORDER BY source
"""


@register(
    "source_mix_temperature",
    _MIX_TEMP_ORACLE,
    doc="temperature-scaled source sampling weights (alpha=1/2 via sqrt, integer-exact)",
)
def source_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive temperature-scaled sampling weights per source, the
    multilingual/multi-source rebalancing rule (mT5, Xue et al. 2021):
    w_s proportional to p_s^alpha upsamples rare sources. alpha = 1/2 is
    chosen deliberately — p^(1/2) is sqrt, the ONE non-trivial exponent
    IEEE-964 evaluates deterministically on every engine, so the whole
    derivation stays cross-engine exact: each source's sqrt(count) is
    floor-quantized at 2^20 (exact power-of-two scaling), summed as
    int64, and every reported weight/boost/allocation is integer
    division of those quanta. No order-dependent float sums anywhere
    (the quantization budget holds to ~1e13 docs per source).

    `mixture_weighted_sample` APPLIES fixed per-source rates with a
    deterministic hash keep-test; this op DERIVES the rates from corpus
    statistics — together they are the plan/execute pair of the data
    mixing stage. Scale shape: one map-side-partial groupBy(source) to a
    metadata-scale table, a 1-row total broadcast back onto it, and
    nothing else touches the corpus."""
    return temperature_weights(load(spark, sf_dir, "documents"))


def temperature_weights(docs: DataFrame) -> DataFrame:
    """Temperature-weight core over any frame with a ``source`` column —
    factored out so tests can drive it on synthetically skewed corpora
    (the fixture's sources are uniform, which never exercises the
    rare-source boost)."""
    per_source = (
        docs.groupBy("source")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .withColumn(
            "q",
            F.expr("cast(floor(sqrt(cast(n_docs as double)) * 1048576) as bigint)"),
        )
        .persist(CKPT_LEVEL)  # feeds both the 1-row total and the final join
    )
    tot = per_source.agg(
        F.sum("n_docs").cast("long").alias("n_total"),
        F.sum("q").cast("long").alias("q_total"),
    )
    return (
        per_source.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.expr("(n_docs * 1000000L) div n_total").alias("p_raw_ppm"),
            F.expr("(q * 1000000L) div q_total").alias("w_temp_ppm"),
            F.expr(
                "(((q * 1000000L) div q_total) * 1000L)"
                " div nullif((n_docs * 1000000L) div n_total, 0)"
            ).alias("boost_milli"),
            F.expr("(100000L * q) div q_total").alias("alloc_100k"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Global quality-percentile normalization, reported per source
# --------------------------------------------------------------------------

_QUALITY_PCT_ORACLE_TMPL = """
WITH scored AS (
  SELECT doc_id, source, {quality} AS q FROM documents
),
ranked AS (
  SELECT source,
         CAST(row_number() OVER (ORDER BY q, doc_id) AS BIGINT) AS rk,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM scored
),
pct AS (
  SELECT source, CAST(rk * 1000000 // n AS BIGINT) AS pct_ppm FROM ranked
)
SELECT source,
       CAST(count(*) AS BIGINT)                    AS n_docs,
       CAST(sum(pct_ppm) // count(*) AS BIGINT)    AS mean_pct_ppm,
       CAST(min(pct_ppm) AS BIGINT)                AS min_pct_ppm,
       CAST(max(pct_ppm) AS BIGINT)                AS max_pct_ppm,
       CAST(count(CASE WHEN pct_ppm <= 250000 THEN 1 END) AS BIGINT) AS n_bottom_quartile
FROM pct
GROUP BY source
ORDER BY source
"""


def _quality_pct_oracle() -> str:
    from gluettalax_spark.operators.text import _QUALITY_DUCK

    return _QUALITY_PCT_ORACLE_TMPL.format(quality=_QUALITY_DUCK)


@register(
    "quality_percentile_by_source",
    _quality_pct_oracle(),
    doc="global quality-percentile normalization summarized per source (integer ppm)",
)
def quality_percentile_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalize the composite quality score ACROSS sources:
    each document's score maps to its global percentile (rank/n in exact
    integer ppm), and the per-source summary — mean percentile, range,
    bottom-quartile share — is the calibration signal data teams watch:
    a source whose mean percentile sags is shipping below-corpus-quality
    documents regardless of its own absolute score scale.

    Scale shape: scoring is one codegen-only projection; the global rank
    is `exact_global_rank` (range shuffle + per-partition offsets — no
    single-task window, the scale-safe exact path shared with
    `agg_histogram_equidepth`); everything after is integer arithmetic
    folding into a metadata-scale groupBy(source). The percentile
    definition (rank*1e6 div n over the (quality, doc_id) total order)
    is integer-exact cross-engine; the quality composite itself is the
    shared `text._quality_parts` floor-rounded form already pinned by
    `text_quality_score`."""
    from gluettalax_spark.operators.text import _quality_parts

    docs = load(spark, sf_dir, "documents")
    *_rest, quality = _quality_parts()
    scored = docs.select("doc_id", "source", quality.alias("q"))
    ranked = exact_global_rank(scored, ["q", "doc_id"], "rk")
    pct = ranked.select(
        "source", F.expr("(rk * 1000000L) div _n").alias("pct_ppm")
    )
    return (
        pct.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("pct_ppm").cast("long").alias("_sum_ppm"),
            F.min("pct_ppm").alias("min_pct_ppm"),
            F.max("pct_ppm").alias("max_pct_ppm"),
            F.count(F.when(F.col("pct_ppm") <= 250_000, 1))
            .cast("long")
            .alias("n_bottom_quartile"),
        )
        .select(
            "source",
            "n_docs",
            F.expr("_sum_ppm div n_docs").alias("mean_pct_ppm"),
            "min_pct_ppm",
            "max_pct_ppm",
            "n_bottom_quartile",
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Cross-modal join: text quality profiled per embedding label
# --------------------------------------------------------------------------

_LABEL_QUALITY_ORACLE_TMPL = """
WITH q AS (
  SELECT doc_id, lang, n_chars, {quality} AS quality FROM documents
),
j AS (
  SELECT e.label,
         CAST(floor(q.quality * 10000 + 0.5) AS BIGINT) AS q4,
         q.n_chars, q.lang
  FROM q JOIN embeddings e ON e.vec_id = q.doc_id
)
SELECT label,
       CAST(count(*) AS BIGINT)                   AS n_docs,
       CAST(sum(q4) // count(*) AS BIGINT)        AS mean_quality_e4,
       CAST(sum(n_chars) // count(*) AS BIGINT)   AS mean_chars,
       CAST(count(DISTINCT lang) AS BIGINT)       AS n_langs
FROM j
GROUP BY label
ORDER BY label
"""


def _label_quality_oracle() -> str:
    from gluettalax_spark.operators.text import _QUALITY_DUCK

    return _LABEL_QUALITY_ORACLE_TMPL.format(quality=_QUALITY_DUCK)


@register(
    "label_quality_profile",
    _label_quality_oracle(),
    doc="text quality profiled per embedding cluster label (docs-embeddings key join)",
)
def label_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal curation join: align the text table with the
    embedding table on document id and profile text quality per
    embedding label — the check that a semantic cluster (label) isn't
    quietly absorbing the low-quality slice of the corpus, which is how
    topic-level contamination hides from per-source QA.

    Exactness: the 4-dp quality composite re-quantizes losslessly to an
    int (floor(q*1e4 + 0.5)), so per-label means are integer division of
    exact sums. Scale shape: ONE equi-join of the two data-scale tables
    on the id key (shuffle join under AQE; at 100 TB both sides would be
    written bucketed on the id — `io.write_bucketed` — making this a
    zero-shuffle sort-merge), then a labels-sized aggregate. Everything
    JVM-side."""
    from gluettalax_spark.operators.text import _quality_parts

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    *_rest, quality = _quality_parts()
    q = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.floor(quality * 10000 + 0.5).cast("long").alias("q4"),
    )
    j = q.join(emb, q["doc_id"] == emb["vec_id"])
    return (
        j.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.expr("sum(q4) div count(1)").alias("mean_quality_e4"),
            F.expr("sum(n_chars) div count(1)").alias("mean_chars"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# ABC analysis: cumulative revenue-share classification of parts
# --------------------------------------------------------------------------

_ABC_ORACLE = """
WITH rev AS (
  SELECT l_partkey AS pk,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
              AS BIGINT) AS cents
  FROM lineitem GROUP BY l_partkey
),
run AS (
  SELECT pk, cents,
         CAST(sum(cents) OVER (ORDER BY cents DESC, pk
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS r,
         CAST(sum(cents) OVER () AS BIGINT) AS t
  FROM rev
),
classed AS (
  SELECT pk, cents,
         CASE WHEN r * 100 <= t * 80 THEN 'A'
              WHEN r * 100 <= t * 95 THEN 'B'
              ELSE 'C' END AS abc_class,
         t
  FROM run
)
SELECT abc_class,
       CAST(count(*) AS BIGINT)      AS n_parts,
       CAST(sum(cents) AS BIGINT)    AS revenue_cents,
       CAST(CAST(sum(cents) AS HUGEINT) * 1000000 // max(t) AS BIGINT) AS share_ppm
FROM classed
GROUP BY abc_class
ORDER BY abc_class
"""


@register(
    "orders_abc_analysis",
    _ABC_ORACLE,
    doc="ABC revenue classification of parts (cumulative-share cut at 80/95%, integer-exact)",
)
def orders_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto-class analysis: rank parts by revenue, classify by
    CUMULATIVE revenue share (A: first 80%, B: to 95%, C: tail) — the
    inventory-management classic, and the shape that needs a GLOBAL
    running sum over a data-scale table.

    Scale shape: the running sum and its total ride
    `grouped_running_sums` over one global group — range-repartition
    on the sort key, per-partition sums to a metadata-scale offsets
    table, local window + broadcast offset — never `Window.orderBy`
    without a partition (the single-task funnel the plan suite bans). Class cuts compare r*100 <= t*80 in
    exact integer cents (no float shares), and the per-class summary is
    a 3-row aggregate. The revenue quantization (round(price*(1-disc)
    *100)) is the shared cents convention, deterministic cross-engine."""
    from gluettalax_spark.operators.rank import grouped_running_sums

    li = load(spark, sf_dir, "lineitem")
    rev = (
        li.groupBy(F.col("l_partkey").alias("pk"))
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
                .cast("long")
            )
            .cast("long")
            .alias("cents")
        )
    )
    run = grouped_running_sums(rev, [], [F.col("cents").desc(), F.col("pk")], [("cents", "r")])
    classed = run.select(
        "cents",
        F.when(F.col("r") * 100 <= F.col("r_total") * 80, "A")
        .when(F.col("r") * 100 <= F.col("r_total") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
        F.col("r_total").alias("t"),
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("cents").cast("long").alias("revenue_cents"),
            # cents totals * 1e6 pass 2^63 at 10x scale — widen first
            F.expr(
                "CAST(CAST(sum(cents) AS DECIMAL(38,0)) * 1000000 div max(t) AS BIGINT)"
            ).alias("share_ppm"),
        )
        .orderBy("abc_class")
    )


# --------------------------------------------------------------------------
# Shard-balance audit for hash-sharded exports
# --------------------------------------------------------------------------

_N_SHARDS = 64

# Shard key: first 8 hex chars of md5(doc_id) mod N — the same
# engine-portable construction the dedup family uses (Spark hash() is
# murmur and has no DuckDB twin).
_SHARD_SPARK = f"pmod(CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT), {_N_SHARDS})"
_SHARD_DUCK = (
    "(("
    + " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), {1 + k}, 1)) - 1) * {16 ** (7 - k)}"
        for k in range(8)
    )
    + f") % {_N_SHARDS})"
)

_SHARD_BALANCE_ORACLE = f"""
WITH sh AS (
  SELECT {_SHARD_DUCK} AS shard,
         CAST(count(*) AS BIGINT) AS docs,
         CAST(sum(n_chars) AS BIGINT) AS chars
  FROM documents GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT)    AS n_shards,
       CAST(sum(docs) AS BIGINT)   AS total_docs,
       CAST(max(docs) AS BIGINT)   AS max_shard_docs,
       CAST(max(docs) * count(*) * 1000000 // sum(docs) AS BIGINT) AS doc_balance_ppm,
       CAST(sum(chars) AS BIGINT)  AS total_chars,
       CAST(max(chars) AS BIGINT)  AS max_shard_chars,
       CAST(max(chars) * count(*) * 1000000 // sum(chars) AS BIGINT) AS chars_balance_ppm
FROM sh
"""


@register(
    "shard_balance_audit",
    _SHARD_BALANCE_ORACLE,
    doc=f"hash-shard balance audit ({_N_SHARDS} shards): doc-count and byte-size skew in ppm",
)
def shard_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight for `export_training_shards`: hash documents into the
    export's {_N_SHARDS} shards and report the straggler factor — the
    largest shard over the mean, by DOC COUNT and by BYTE SIZE
    (n_chars). Row-count balance can look perfect while one shard holds
    the long documents; byte skew is what actually serializes a
    1000-executor write, so both dials ride the same one-row audit
    (1e6 ppm = perfectly balanced).

    Exactness: the shard key is the md5-hex construction both engines
    compute identically (Spark hash() is murmur with no DuckDB twin);
    balance ratios are exact integer division. Scale shape: one
    map-side-partial groupBy to {_N_SHARDS} rows, then a 1-row fold —
    the audit never touches text."""
    docs = load(spark, sf_dir, "documents")
    sh = docs.selectExpr(f"{_SHARD_SPARK} AS shard", "n_chars").groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )
    return sh.agg(
        F.count(F.lit(1)).cast("long").alias("n_shards"),
        F.sum("docs").cast("long").alias("total_docs"),
        F.max("docs").cast("long").alias("max_shard_docs"),
        F.expr("(max(docs) * count(1) * 1000000L) div sum(docs)").alias("doc_balance_ppm"),
        F.sum("chars").cast("long").alias("total_chars"),
        F.max("chars").cast("long").alias("max_shard_chars"),
        F.expr("(max(chars) * count(1) * 1000000L) div sum(chars)").alias("chars_balance_ppm"),
    )


# --------------------------------------------------------------------------
# XYZ demand-variability classification (the ABC analysis companion)
# --------------------------------------------------------------------------

_XYZ_ORACLE = """
WITH li AS (
  SELECT l_partkey AS p,
         year(l_shipdate) * 12 + month(l_shipdate) AS mi,
         CAST(round(l_quantity) AS BIGINT) AS q
  FROM lineitem
),
bounds AS (SELECT min(mi) AS lo, max(mi) AS hi FROM li),
grid AS (
  SELECT p.p, m.mi
  FROM (SELECT DISTINCT p FROM li) p, bounds, unnest(range(bounds.lo, bounds.hi + 1)) AS m(mi)
),
demand AS (SELECT p, mi, CAST(sum(q) AS BIGINT) AS q FROM li GROUP BY p, mi),
dense AS (
  SELECT g.p, coalesce(d.q, 0) AS q
  FROM grid g LEFT JOIN demand d ON d.p = g.p AND d.mi = g.mi
),
moments AS (
  SELECT p,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(q) AS BIGINT) AS s,
         CAST(sum(CAST(q AS HUGEINT) * q) AS HUGEINT) AS qq
  FROM dense GROUP BY p
),
classed AS (
  SELECT p, s,
         CASE
           WHEN s = 0 THEN 'Z'
           WHEN 4 * (n * qq - CAST(s AS HUGEINT) * s) <= CAST(s AS HUGEINT) * s THEN 'X'
           WHEN (n * qq - CAST(s AS HUGEINT) * s) <= CAST(s AS HUGEINT) * s THEN 'Y'
           ELSE 'Z'
         END AS xyz_class
  FROM moments
)
SELECT xyz_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(s) AS BIGINT) AS total_demand
FROM classed
GROUP BY xyz_class
ORDER BY xyz_class
"""


@register(
    "orders_demand_variability_xyz",
    _XYZ_ORACLE,
    doc="XYZ demand-variability classes per part (CV over the dense monthly grid)",
)
def orders_demand_variability_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The supply-chain companion to `orders_abc_analysis`: classify each
    part's monthly demand stability — X (CV ≤ 0.5), Y (CV ≤ 1), Z
    (erratic or zero demand). The CV decision is an integer
    cross-multiplication on exact moments — ``CV² = (nΣq² − S²)/S²``, so
    X ⇔ ``4(nΣq² − S²) ≤ S²`` — never a float variance.

    The monthly grid is DENSE (idle months count as q=0 — the sparse
    form silently understates variability, the round-7 CUSUM lesson) —
    but the grid itself never materializes (optimization r12, guide
    §2.1): a zero month adds 0 to both Σq and Σq², and the dense count
    ``n = hi − lo + 1`` is one global calendar constant, so the exact
    moments come straight off the SPARSE per-(part, month) demand with
    the 1-row bounds broadcast on top — bit-identical to the grid form
    the oracle still computes, with the parts×months left join and the
    distinct-parts pass gone. One exchange total: the explicit
    ``repartition(p)`` hash layout satisfies both the (p, month) and
    the (p) aggregate's clustering, so neither groupBy re-shuffles."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p"),
        (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("mi"),
        F.round("l_quantity").cast("long").alias("q0"),
    )
    demand = (
        li.repartition("p")
        .groupBy("p", "mi")
        .agg(F.sum("q0").cast("long").alias("q"))
    )
    per_part = (
        demand.groupBy("p")
        .agg(
            F.sum("q").cast("long").alias("s"),
            F.sum(F.col("q").cast("decimal(38,0)") * F.col("q")).alias("qq"),
            F.min("mi").alias("plo"),
            F.max("mi").alias("phi"),
        )
        .persist(CKPT_LEVEL)  # feeds the 1-row bounds AND the moments
    )
    bounds = per_part.agg(F.min("plo").alias("lo"), F.max("phi").alias("hi"))
    moments = per_part.crossJoin(F.broadcast(bounds)).select(
        "s",
        "qq",
        (F.col("hi") - F.col("lo") + F.lit(1)).cast("long").alias("n"),
    )
    classed = moments.select(
        "s",
        F.expr(
            """CASE
                 WHEN s = 0 THEN 'Z'
                 WHEN 4 * (n * qq - CAST(s AS DECIMAL(38,0)) * s)
                      <= CAST(s AS DECIMAL(38,0)) * s THEN 'X'
                 WHEN (n * qq - CAST(s AS DECIMAL(38,0)) * s)
                      <= CAST(s AS DECIMAL(38,0)) * s THEN 'Y'
                 ELSE 'Z'
               END"""
        ).alias("xyz_class"),
    )
    return (
        classed.groupBy("xyz_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("s").cast("long").alias("total_demand"),
        )
        .orderBy("xyz_class")
    )


# --------------------------------------------------------------------------
# Gini coefficient of customer spend (inequality audit)
# --------------------------------------------------------------------------

_GINI_ORACLE = """
WITH spend AS (
  SELECT o_custkey AS c,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT cents,
         row_number() OVER (ORDER BY cents, c) AS rn,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM spend
),
m AS (
  SELECT CAST(max(n) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS s,
         CAST(sum(CAST(rn AS HUGEINT) * cents) AS HUGEINT) AS a
  FROM ranked
)
SELECT n AS n_customers,
       s AS total_cents,
       2.0 * CAST(a AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))
         - (CAST(n AS DOUBLE) + 1) / n AS gini
FROM m
"""


@register(
    "orders_gini_customers",
    _GINI_ORACLE,
    doc="Gini coefficient of customer spend — exact-rank moment formula",
)
def orders_gini_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spend-concentration audit (the single-number cousin of
    `customer_pareto`): ``G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n`` over
    ascending-sorted spend. The rank moment ``Σ i·xᵢ`` is invariant
    under tie permutation (equal x), so the exact integer moments pin
    the statistic bit-for-bit; the only float math is the final
    expression.

    Scale: ranks come from the range-partitioned `exact_global_rank`
    machinery — no single-task global window anywhere; the moments are
    one hash aggregate over the ranked run."""
    from gluettalax_spark.operators.rank import exact_global_rank

    spend = load(spark, sf_dir, "orders").groupBy(F.col("o_custkey").alias("c")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("cents")
    )
    ranked = exact_global_rank(spend, ["cents", "c"], "rn")
    m = ranked.agg(
        F.max("_n").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.sum(F.col("rn").cast("decimal(38,0)") * F.col("cents")).alias("a"),
    )
    return m.selectExpr(
        "n AS n_customers",
        "s AS total_cents",
        """2.0 * CAST(a AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))
           - (CAST(n AS DOUBLE) + 1) / n AS gini""",
    )


# --------------------------------------------------------------------------
# Customer spend-quartile migration between calendar halves
# --------------------------------------------------------------------------

_MIGRATION_ORACLE = """
WITH bounds AS (
  SELECT (min(CAST(epoch(o_orderdate) AS BIGINT) // 86400)
        + max(CAST(epoch(o_orderdate) AS BIGINT) // 86400)) // 2 AS mid_day
  FROM orders
),
spend AS (
  SELECT o_custkey AS c,
         CAST(epoch(o_orderdate) AS BIGINT) // 86400 < bounds.mid_day AS in_h1,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders, bounds
  GROUP BY c, in_h1
),
q1 AS (
  SELECT c, ntile(4) OVER (ORDER BY cents, c) AS q
  FROM spend WHERE in_h1
),
q2 AS (
  SELECT c, ntile(4) OVER (ORDER BY cents, c) AS q
  FROM spend WHERE NOT in_h1
)
SELECT coalesce(q1.q, 0) AS quartile_h1,
       coalesce(q2.q, 0) AS quartile_h2,
       CAST(count(*) AS BIGINT) AS n_customers
FROM q1 FULL OUTER JOIN q2 USING (c)
GROUP BY quartile_h1, quartile_h2
ORDER BY quartile_h1, quartile_h2
"""


@register(
    "customer_segment_migration",
    _MIGRATION_ORACLE,
    doc="spend-quartile migration matrix between calendar halves (0 = absent)",
)
def customer_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-dynamics staple: where does each spend quartile's customer
    land in the next period? Quartile 0 means absent from that half
    (churned / newly acquired), so the 5×5 matrix carries retention AND
    churn in one view.

    Exactness: integer cents, the calendar midpoint as exact epoch-day
    arithmetic, and ANSI ntile(4) computed from the range-partitioned
    exact global rank (`ntile_from_rank` replicates the engines' shared
    assignment rule) — the matrix is integer-exact.

    Scale: per-half quartiles ride `exact_global_rank` (no single-task
    window), the halves join customer-keyed, and the output is ≤ 25
    rows."""
    from gluettalax_spark.operators.rank import exact_global_rank, ntile_from_rank

    orders = load(spark, sf_dir, "orders")
    day = F.expr("CAST(unix_timestamp(o_orderdate) AS BIGINT) div 86400")
    bounds = orders.agg(((F.min(day) + F.max(day)) / 2).cast("long").alias("mid_day"))
    spend = (
        orders.crossJoin(F.broadcast(bounds))
        .groupBy(
            F.col("o_custkey").alias("c"),
            (day < F.col("mid_day")).alias("in_h1"),
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("cents"))
    )

    def quartiles(df):
        ranked = exact_global_rank(df, ["cents", "c"], "rn")
        return ranked.select(
            "c", ntile_from_rank(F.col("rn"), F.col("_n"), 4).alias("q")
        )

    q1 = quartiles(spend.filter("in_h1")).withColumnRenamed("q", "q1")
    q2 = quartiles(spend.filter("NOT in_h1")).withColumnRenamed("q", "q2")
    return (
        q1.join(q2, "c", "full_outer")
        .groupBy(
            F.coalesce(F.col("q1"), F.lit(0)).cast("long").alias("quartile_h1"),
            F.coalesce(F.col("q2"), F.lit(0)).cast("long").alias("quartile_h2"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        .orderBy("quartile_h1", "quartile_h2")
    )


# --------------------------------------------------------------------------
# Linear quality classifier over hashed n-gram features (fastText-shaped)
# --------------------------------------------------------------------------

# The hashed-feature linear classifier is the workhorse of corpus quality
# filtering (fastText-style models scored every GPT-3/LLaMA-class corpus;
# Joulin et al. 2016 is the public reference). The Spark-side question is
# the PLUMBING at 100 TB — explode features, hash to a bounded bucket
# space, fold weights per doc — so the model here is a deterministic
# surrogate: bucket = md5(feature) mod 2^16, weight(bucket) =
# ((bucket · 2654435761) mod 2^20) − 2^19 (a Knuth-hash spread over
# ±2^19). Every score is then an exact integer, which is what makes the
# op fully oracle-checkable — a trained float model would pin only
# rows-only. Swapping real trained weights in = replacing one
# deterministic map with a broadcast lookup; the plan is identical.
_QC_BUCKETS = 1 << 16
_QC_KNUTH = 2654435761
_QC_WRANGE = 1 << 20


from gluettalax_spark.memory import register_session_df_cache

_LOGITS_CACHE: dict[tuple[str, str], DataFrame] = register_session_df_cache({})


def classifier_doc_logits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, n_feats, logit_milli) — the per-document scores
    behind `quality_classifier_linear`, exposed for composite
    diagnostics (`quality_signal_agreement`, `quality_classifier_auc`).
    Integer-exact.

    Memoized per (application, corpus dir) as a localCheckpointed frame:
    three registry ops score the same corpus, and the unigram+bigram
    explode is the dominant cost of each — the build/search split the
    ANN codebooks and the covariance pass already use (checkpoint blocks
    die with the session, hence the applicationId in the key)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _LOGITS_CACHE:
        return _LOGITS_CACHE[key]
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        _tokens_col().alias("w"),
    )
    feats = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "concat(w, CASE WHEN size(w) >= 2 THEN"
                " transform(sequence(1, size(w) - 1), i -> concat(w[i-1], '_', w[i]))"
                " ELSE array() END)"
            )
        ).alias("f"),
    )
    scored_feat = feats.select(
        "doc_id",
        "source",
        F.expr(
            f"((CAST(conv(substr(md5(f), 1, 15), 16, 10) AS BIGINT) % {_QC_BUCKETS})"
            f" * {_QC_KNUTH}) % {_QC_WRANGE} - {_QC_WRANGE // 2}"
        ).alias("wgt"),
    )
    out = scored_feat.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_feats"),
        F.expr("CAST(CAST(sum(wgt) AS BIGINT) * 1000 div count(*) AS BIGINT)").alias(
            "logit_milli"
        ),
    ).persist(CKPT_LEVEL)
    # Bounded memo: keep only the latest (app, corpus dir) so a
    # long-lived session touching many corpus dirs doesn't pin a
    # checkpoint block per dir (dropping our reference lets Spark's
    # ContextCleaner unpersist the old blocks).
    _LOGITS_CACHE.clear()
    _LOGITS_CACHE[key] = out
    return out


def duck_doc_logits(*carry: str, n_feats: bool = False) -> str:
    """The DuckDB twin of :func:`classifier_doc_logits`: CTEs ``toks``,
    ``feats``, ``hashed`` and ``logits(doc_id, *carry, [n_feats,]
    logit_milli)``."""
    keys = ", ".join(("doc_id",) + carry)
    n_feats_col = "\n         CAST(count(*) AS BIGINT) AS n_feats," if n_feats else ""
    return f"""toks AS (
  SELECT {keys}, {_WS_TOKENS_DUCK} AS w
  FROM documents
),
feats AS (
  SELECT {keys}, unnest(w) AS f FROM toks
  UNION ALL
  SELECT {keys}, unnest(list_transform(range(1, len(w)), i -> {duck_ngram(2, "w", "_")})) AS f
  FROM toks WHERE len(w) >= 2
),
hashed AS (SELECT {keys}, md5(f) AS m FROM feats),
logits AS (
  SELECT {keys},{n_feats_col}
         CAST(CAST(sum((({_duck_hex_int(1, 15)} % {_QC_BUCKETS}) * {_QC_KNUTH})
                        % {_QC_WRANGE} - {_QC_WRANGE // 2}) AS BIGINT)
              * 1000 // count(*) AS BIGINT) AS logit_milli
  FROM hashed GROUP BY {keys}
)"""


def _qc_oracle() -> str:
    return f"""
WITH {duck_doc_logits("source", n_feats=True)}
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN logit_milli > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
       CAST(sum(CASE WHEN logit_milli > 0 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
         AS pos_share_ppm,
       CAST(sum(logit_milli) // count(*) AS BIGINT) AS mean_logit_milli,
       CAST(sum(n_feats) AS BIGINT) AS total_features
FROM logits
GROUP BY source
ORDER BY source
"""


@register(
    "quality_classifier_linear",
    _qc_oracle(),
    doc="hashed-feature linear quality classifier (fastText-shaped), scored per source",
)
def quality_classifier_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a linear bag-of-features quality classifier to every
    document: unigram + bigram features hash into 2^16 buckets, each
    bucket carries an integer weight, a doc's logit is the mean feature
    weight, and the per-source rollup reports positive share and mean
    logit — the classifier-based quality-filtering stage of an LLM data
    pipeline (surrogate weights; see module comment).

    Exactness: bucket ids ride md5 15-hex → int64 (oracle hashes
    identically); the weight map, per-doc mean (milli-scaled floor div,
    truncation identical cross-engine), and every rollup are exact
    integers end-to-end — no float anywhere.

    Scale: features explode map-side from the document scan (no join),
    the only wide exchange is the doc-keyed aggregate, and the weight
    map is a closed-form expression — at 100 TB with a real model it
    becomes a 2^16-row broadcast join, same plan."""
    per_doc = classifier_doc_logits(spark, sf_dir)
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("logit_milli") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_positive"),
            F.expr(
                "CAST(sum(CASE WHEN logit_milli > 0 THEN 1 ELSE 0 END) * 1000000"
                " div count(*) AS BIGINT)"
            ).alias("pos_share_ppm"),
            F.expr("CAST(sum(logit_milli) div count(*) AS BIGINT)").alias(
                "mean_logit_milli"
            ),
            F.sum("n_feats").cast("long").alias("total_features"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Position-based (U-shaped) multi-touch attribution
# --------------------------------------------------------------------------

_POS_FIRST_PPM = 400_000  # first- and last-touch shares of the U
_POS_MID_POOL_PPM = 200_000  # pool split across the middle touches


_POSITION_ATTRIB_ORACLE = f"""
WITH tagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_purchase,
         CASE WHEN event_type IN ('click', 'view') THEN event_type END AS channel
  FROM events
  WHERE event_type IN ('click', 'view', 'purchase')
),
pathed AS (
  SELECT *,
         CAST(sum(is_purchase) OVER (PARTITION BY user_id ORDER BY ts, is_purchase, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - is_purchase AS BIGINT)
           AS path_id
  FROM tagged
),
purchases AS (
  SELECT user_id, path_id FROM pathed WHERE is_purchase = 1
),
touches AS (
  SELECT user_id, path_id, channel,
         CAST(row_number() OVER (PARTITION BY user_id, path_id ORDER BY ts, event_id) AS BIGINT) AS pos,
         CAST(count(*) OVER (PARTITION BY user_id, path_id) AS BIGINT) AS n
  FROM pathed WHERE is_purchase = 0
),
credited AS (
  SELECT t.channel,
         CASE
           WHEN t.n = 1 THEN 1000000
           WHEN t.n = 2 THEN 500000
           WHEN t.pos = 1 THEN {_POS_FIRST_PPM}
                + ({_POS_MID_POOL_PPM} - ({_POS_MID_POOL_PPM} // (t.n - 2)) * (t.n - 2))
           WHEN t.pos = t.n THEN {_POS_FIRST_PPM}
           ELSE {_POS_MID_POOL_PPM} // (t.n - 2)
         END AS w_ppm
  FROM touches t JOIN purchases p
    ON t.user_id = p.user_id AND t.path_id = p.path_id
),
organic AS (
  SELECT 'organic' AS channel, 1000000 AS w_ppm
  FROM purchases p
  WHERE NOT EXISTS (
    SELECT 1 FROM touches t
    WHERE t.user_id = p.user_id AND t.path_id = p.path_id
  )
),
allc AS (SELECT * FROM credited UNION ALL SELECT * FROM organic)
SELECT channel,
       CAST(count(*) AS BIGINT) AS n_credited,
       CAST(sum(CAST(w_ppm AS BIGINT)) AS BIGINT) AS credit_ppm
FROM allc
GROUP BY channel
ORDER BY channel
"""


@register(
    "events_attribution_position",
    _POSITION_ATTRIB_ORACLE,
    doc="U-shaped (position-based) multi-touch attribution — exact ppm credits",
)
def events_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (40/20/40 "U-shaped") multi-touch attribution: each
    purchase's credit splits across ALL touches on its path — 40% to the
    first, 40% to the last, the middle 20% pooled equally across interior
    touches — the multi-touch sibling of `events_attribution_last_touch`.
    Paths are purchase-to-purchase episodes (gaps-and-islands on the
    per-user event stream); pathless purchases credit 'organic'.

    Exactness: weights are integer ppm; the middle pool uses floor
    division with the remainder assigned to the FIRST touch, so every
    path's credits sum to exactly 1,000,000 — the invariant the pytest
    pins (total credit = 10⁶ × purchases, integer-exact cross-engine).

    Scale: the path id is a per-user running sum (user-partitioned
    window, per-user rows are bounded); position/length windows run per
    (user, path); the credit join is equi on (user_id, path_id). No
    range join, nothing all-pairs, all counts integer."""
    events = load(spark, sf_dir, "events")
    tagged = events.filter(
        F.col("event_type").isin("click", "view", "purchase")
    ).select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("is_purchase"),
        F.when(
            F.col("event_type").isin("click", "view"), F.col("event_type")
        ).alias("channel"),
    )
    w_path = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_purchase", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pathed = tagged.withColumn(
        "path_id", (F.sum("is_purchase").over(w_path) - F.col("is_purchase")).cast("long")
    ).persist(CKPT_LEVEL)
    purchases = pathed.filter(F.col("is_purchase") == 1).select("user_id", "path_id")
    w_pos = Window.partitionBy("user_id", "path_id").orderBy("ts", "event_id")
    w_n = Window.partitionBy("user_id", "path_id")
    touches = pathed.filter(F.col("is_purchase") == 0).select(
        "user_id",
        "path_id",
        "channel",
        F.row_number().over(w_pos).cast("long").alias("pos"),
        F.count(F.lit(1)).over(w_n).cast("long").alias("n"),
    )
    mid_w = f"({_POS_MID_POOL_PPM} div (n - 2))"
    credited = touches.join(purchases, ["user_id", "path_id"]).select(
        "channel",
        F.expr(
            f"""CASE
                  WHEN n = 1 THEN 1000000
                  WHEN n = 2 THEN 500000
                  WHEN pos = 1 THEN {_POS_FIRST_PPM}
                       + ({_POS_MID_POOL_PPM} - {mid_w} * (n - 2))
                  WHEN pos = n THEN {_POS_FIRST_PPM}
                  ELSE {mid_w}
                END"""
        ).alias("w_ppm"),
    )
    organic = (
        purchases.join(
            touches.select("user_id", "path_id").distinct(),
            ["user_id", "path_id"],
            "left_anti",
        )
        .select(F.lit("organic").alias("channel"), F.lit(1_000_000).alias("w_ppm"))
    )
    allc = credited.unionAll(organic)
    return (
        allc.groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_credited"),
            F.sum(F.col("w_ppm").cast("long")).cast("long").alias("credit_ppm"),
        )
        .orderBy("channel")
    )


# --------------------------------------------------------------------------
# Quality-signal agreement: classifier terciles × perplexity terciles
# --------------------------------------------------------------------------


def _qsa_oracle() -> str:
    from gluettalax_spark.operators.text import _TERM_TOKENS_DUCK

    return rf"""
WITH {duck_doc_logits()},
ptoks AS (
  SELECT doc_id,
         {_TERM_TOKENS_DUCK} AS tokens
  FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(tokens) AS term FROM ptoks)
  GROUP BY doc_id, term
),
uni AS (SELECT term, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY term),
total AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM uni),
q AS (
  SELECT term, CAST(floor(ln(c / t.t) * 1000000) AS BIGINT) AS q_lnp
  FROM uni CROSS JOIN total t
),
ppl AS (
  SELECT f.doc_id,
         CAST(CAST(sum(f.tf * q.q_lnp) AS BIGINT) * 1000
              // CAST(sum(f.tf) AS BIGINT) AS BIGINT) AS key_nano
  FROM tf f JOIN q USING (term)
  GROUP BY f.doc_id
),
joined AS (
  SELECT logits.doc_id, logits.logit_milli, ppl.key_nano
  FROM logits JOIN ppl ON logits.doc_id = ppl.doc_id
),
tiled AS (
  SELECT ntile(3) OVER (ORDER BY logit_milli, doc_id) AS b_cls,
         ntile(3) OVER (ORDER BY key_nano, doc_id)    AS b_ppl
  FROM joined
),
grid AS (
  SELECT b_cls, b_ppl, CAST(count(*) AS BIGINT) AS n FROM tiled GROUP BY 1, 2
),
m AS (
  SELECT CAST(sum(n) AS BIGINT) AS n,
         CAST(coalesce(sum(n) FILTER (WHERE b_cls = b_ppl), 0) AS BIGINT) AS agree,
         CAST((SELECT sum(CAST(r.rn AS HUGEINT) * c.cn) FROM
               (SELECT b_cls AS t, sum(n) AS rn FROM grid GROUP BY 1) r
               JOIN (SELECT b_ppl AS t, sum(n) AS cn FROM grid GROUP BY 1) c USING (t))
              AS BIGINT) AS pe_num
  FROM grid
)
SELECT m.n, m.agree, m.pe_num,
       {", ".join(
           f"CAST((SELECT coalesce(sum(n), 0) FROM grid WHERE b_cls = {i} AND b_ppl = {j}) AS BIGINT) AS c_{i}{j}"
           for i in (1, 2, 3) for j in (1, 2, 3)
       )},
       (CAST(m.n AS DOUBLE) * m.agree - m.pe_num)
         / (CAST(m.n AS DOUBLE) * m.n - m.pe_num) AS kappa
FROM m
"""


@register(
    "quality_signal_agreement",
    _qsa_oracle(),
    doc="agreement of classifier vs perplexity quality terciles (3×3 grid + kappa)",
)
def quality_signal_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do two INDEPENDENT quality signals agree on which documents are
    good? The classifier logit (`quality_classifier_linear`) and the
    unigram-perplexity key (`text_ppl_buckets`) each split the corpus
    into global terciles; the 3×3 tercile grid plus Cohen's kappa is the
    calibration readout a curation team checks before letting one signal
    gate what the other trained on (near-zero kappa here = the signals
    are orthogonal; strongly negative = one of them is inverted).

    Exactness: both per-doc scores are exact integers (helpers
    `classifier_doc_logits` / `ppl_doc_keys`); terciles ride the
    exact-global-rank + ANSI ntile identity; the grid, agreement, and
    expected-agreement numerator are exact integers; kappa is one
    shared IEEE expression.

    Scale: two per-doc score passes (each one doc-keyed aggregate), one
    doc-keyed join, ONE range-partitioned rank pass (r13 fusion, guide
    §2.1 — VERDICT r12 #8: both signals ride one exchange as tagged
    (tag, sortval, doc_id) rows; in-tag rank = rn − tag·N since each tag
    block holds exactly N rows — one isolation checkpoint instead of
    two, one offsets pass, one pivot), a 9-cell grid."""
    from gluettalax_spark.operators.rank import exact_global_rank, ntile_from_rank
    from gluettalax_spark.operators.text import ppl_doc_keys

    logits = classifier_doc_logits(spark, sf_dir).select("doc_id", "logit_milli")
    keys = ppl_doc_keys(spark, sf_dir).select("doc_id", "key_nano")
    joined = logits.join(keys, "doc_id")  # single consumer now — no cut
    tagged = joined.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(F.lit(0).cast("long").alias("tag"), F.col("logit_milli").alias("sortval")),
                F.struct(F.lit(1).cast("long").alias("tag"), F.col("key_nano").alias("sortval")),
            )
        ).alias("_t"),
    ).select(F.col("_t.tag").alias("tag"), F.col("_t.sortval").alias("sortval"), "doc_id")
    ranked = exact_global_rank(tagged, [F.col("tag"), F.col("sortval"), F.col("doc_id")], "_rn")
    n_tag = F.expr("_n DIV 2")
    tiled = (
        ranked.select(
            "doc_id",
            "tag",
            ntile_from_rank(F.col("_rn") - F.col("tag") * n_tag, n_tag, 3).alias("_b"),
        )
        .groupBy("doc_id")
        .agg(
            F.max(F.when(F.col("tag") == 0, F.col("_b"))).alias("b_cls"),
            F.max(F.when(F.col("tag") == 1, F.col("_b"))).alias("b_ppl"),
        )
    )
    grid = tiled.groupBy("b_cls", "b_ppl").agg(F.count(F.lit(1)).cast("long").alias("n"))
    grid = grid.persist(CKPT_LEVEL)
    rowm = grid.groupBy(F.col("b_cls").alias("t")).agg(F.sum("n").alias("rn"))
    colm = grid.groupBy(F.col("b_ppl").alias("t")).agg(F.sum("n").alias("cn"))
    pe = rowm.join(colm, "t").agg(
        F.sum(F.col("rn").cast("decimal(38,0)") * F.col("cn")).cast("long").alias("pe_num")
    )
    cells = grid.agg(
        F.sum("n").cast("long").alias("n"),
        F.coalesce(
            F.sum(F.when(F.col("b_cls") == F.col("b_ppl"), F.col("n"))), F.lit(0)
        ).cast("long").alias("agree"),
        *[
            F.coalesce(
                F.sum(F.when((F.col("b_cls") == i) & (F.col("b_ppl") == j), F.col("n"))),
                F.lit(0),
            ).cast("long").alias(f"c_{i}{j}")
            for i in (1, 2, 3)
            for j in (1, 2, 3)
        ],
    )
    return cells.crossJoin(F.broadcast(pe)).selectExpr(
        "n",
        "agree",
        "pe_num",
        *[f"c_{i}{j}" for i in (1, 2, 3) for j in (1, 2, 3)],
        "(CAST(n AS DOUBLE) * agree - pe_num) / (CAST(n AS DOUBLE) * n - pe_num) AS kappa",
    )


# --------------------------------------------------------------------------
# Classifier AUC against the heuristic quality label (rank-sum identity)
# --------------------------------------------------------------------------


def _auc_oracle() -> str:
    from gluettalax_spark.operators.text import _QUALITY_DUCK

    return rf"""
WITH {duck_doc_logits()},
quality AS (
  SELECT doc_id, CAST(round(({_QUALITY_DUCK}) * 10000) AS BIGINT) AS q_int
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
labeled AS (
  SELECT j.logit_milli AS v,
         CASE WHEN j.q_int > med.m THEN 1 ELSE 0 END AS in_pos
  FROM j, med
),
dict AS (
  SELECT v, CAST(sum(in_pos) AS BIGINT) AS n1v, CAST(count(*) AS BIGINT) AS nv
  FROM labeled GROUP BY v
),
ranked AS (
  SELECT *, CAST(sum(nv) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM dict
),
m AS (
  SELECT CAST(sum(n1v) AS BIGINT) AS n_pos,
         CAST(sum(nv - n1v) AS BIGINT) AS n_neg,
         CAST(sum(CAST(n1v AS HUGEINT) * (2 * (cum - nv) + nv + 1)) AS BIGINT) AS r1_x2
  FROM ranked
)
SELECT n_pos, n_neg,
       CAST(r1_x2 - n_pos * (n_pos + 1) AS BIGINT) AS u_x2,
       round(CAST(r1_x2 - n_pos * (n_pos + 1) AS DOUBLE)
             / (2.0 * CAST(n_pos AS DOUBLE) * n_neg), 6) AS auc,
       round(CAST(r1_x2 - n_pos * (n_pos + 1) AS DOUBLE)
             / (CAST(n_pos AS DOUBLE) * n_neg) - 1.0, 6) AS gini
FROM m
"""


@register(
    "quality_classifier_auc",
    _auc_oracle(),
    doc="classifier AUC vs the heuristic-quality top-half label (exact rank-sum)",
)
def quality_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of the hashed-feature classifier's logit against the
    binary label "heuristic quality above corpus median" — THE
    model-eval number for a quality filter, computed by the rank-sum
    identity AUC = U/(n_pos*n_neg) instead of a threshold sweep. At
    scale the sweep materializes per-threshold confusion matrices; the
    U form is one value-dictionary pass — the same exact tie-corrected
    rank machinery as `stats_mannwhitney_events` (AUC IS the
    Mann-Whitney statistic, normalized).

    The label median is the LOWER median of the quality ints off a
    bounded value dictionary (quality quantizes to 1e4 steps); ties in
    logit values get average ranks via the 2x-rank identity, so u_x2 is
    an exact integer cross-engine; AUC/Gini are single IEEE divisions.

    Scale: the classifier pass is the `quality_classifier_linear`
    explode (data-scale, one shuffle to doc grain); the AUC itself runs
    on the logit dictionary. The deterministic-surrogate weights make
    the whole readout oracle-checkable end to end."""
    from gluettalax_spark.operators.rank import grouped_running_sums
    from gluettalax_spark.operators.text import _quality_parts

    docs = load(spark, sf_dir, "documents")
    _, _, _, quality = _quality_parts()
    q = docs.select("doc_id", F.round(quality * 10000).cast("long").alias("q_int"))
    logits = classifier_doc_logits(spark, sf_dir).select("doc_id", "logit_milli")
    j = logits.join(q, "doc_id").persist(CKPT_LEVEL)

    # Lower median off the BOUNDED quality dictionary (quality quantizes
    # to 1e4 steps, so the dictionary is ≤ 10,001 rows at any corpus
    # size): one sorted-array fold instead of a range-shuffle rank pass —
    # the logit dictionary below still uses the scale-safe rank
    # machinery because logit cardinality grows with the corpus.
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
        F.col("logit_milli").alias("v"),
        F.when(F.col("q_int") > F.col("m"), 1).otherwise(0).alias("in_pos"),
    )
    dict_df = (
        labeled.groupBy("v")
        .agg(
            F.sum("in_pos").cast("long").alias("n1v"),
            F.count(F.lit(1)).cast("long").alias("nv"),
        )
    )
    ranked = grouped_running_sums(dict_df, [], ["v"], [("nv", "cum")])
    m = ranked.agg(
        F.sum("n1v").cast("long").alias("n_pos"),
        F.sum(F.col("nv") - F.col("n1v")).cast("long").alias("n_neg"),
        F.sum(
            F.col("n1v").cast("decimal(38,0)")
            * (2 * (F.col("cum") - F.col("nv")) + F.col("nv") + 1)
        )
        .cast("long")
        .alias("r1_x2"),
    )
    return m.selectExpr(
        "n_pos",
        "n_neg",
        "CAST(r1_x2 - n_pos * (n_pos + 1) AS BIGINT) AS u_x2",
        "round(CAST(r1_x2 - n_pos * (n_pos + 1) AS DOUBLE)"
        " / (2.0 * CAST(n_pos AS DOUBLE) * n_neg), 6) AS auc",
        "round(CAST(r1_x2 - n_pos * (n_pos + 1) AS DOUBLE)"
        " / (CAST(n_pos AS DOUBLE) * n_neg) - 1.0, 6) AS gini",
    )


# --------------------------------------------------------------------------
# Budget-constrained source selection (greedy fill by quality rank)
# --------------------------------------------------------------------------


def _mix_budget_oracle() -> str:
    from gluettalax_spark.operators.text import _QUALITY_DUCK

    return rf"""
WITH per_doc AS (
  SELECT source,
         {_WORD_COUNT_DUCK} AS n_tok,
         CAST(round(({_QUALITY_DUCK}) * 10000) AS BIGINT) AS q_int
  FROM documents
),
per_source AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         CAST(sum(q_int) * 100 // count(*) AS BIGINT) AS qmean_e6
  FROM per_doc GROUP BY source
),
tot AS (SELECT CAST(sum(n_tokens) // 2 AS BIGINT) AS budget FROM per_source),
ranked AS (
  SELECT *, CAST(sum(n_tokens) OVER (ORDER BY qmean_e6 DESC, source
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM per_source
)
SELECT r.source, r.n_docs, r.qmean_e6, r.n_tokens,
       CAST(r.cum - r.n_tokens AS BIGINT) AS cum_before,
       CAST(least(r.n_tokens, greatest(CAST(0 AS BIGINT),
            t.budget - (r.cum - r.n_tokens))) AS BIGINT) AS taken_tokens,
       CAST(CAST(least(r.n_tokens, greatest(CAST(0 AS BIGINT),
            t.budget - (r.cum - r.n_tokens))) AS HUGEINT) * 1000000
            // r.n_tokens AS BIGINT) AS take_frac_ppm
FROM ranked r, tot t
ORDER BY r.qmean_e6 DESC, r.source
"""


@register(
    "corpus_mix_budget",
    _mix_budget_oracle(),
    doc="greedy quality-ranked source selection under a 50% token budget",
)
def corpus_mix_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-constrained data selection: rank sources by mean heuristic
    quality and greedily fill a token budget (here 50% of the corpus) —
    the decision table a pretraining-data team produces when the compute
    budget forces a cut (the rank-and-fill baseline that DoReMi-style
    learned mixtures are compared against). Output per source: quality
    rank order, token count, cumulative tokens before it, tokens taken,
    and the taken fraction — the boundary source gets a partial take,
    everything below it zero.

    Exactness: token counts are exact integers; mean quality quantizes
    via one floor division (1e-6 units of the 0-1 score); the greedy
    fill is pure integer min/max over an exact running sum; the take
    fraction is one floor division in ppm.

    Scale: one corpus scan to source grain (map-side combinable);
    the rank-and-fill runs on the SOURCE dictionary (20 rows here,
    thousands in production — the `grouped_running_sums` machinery keeps
    even that path range-partitioned, never a single-task window)."""
    from gluettalax_spark.operators.rank import grouped_running_sums
    from gluettalax_spark.operators.text import _quality_parts

    docs = load(spark, sf_dir, "documents")
    _, _, _, quality = _quality_parts()
    per_doc = docs.select(
        "source",
        word_count().alias("n_tok"),
        F.round(quality * 10000).cast("long").alias("q_int"),
    )
    per_source = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.expr("CAST(sum(q_int) * 100 div count(1) AS BIGINT)").alias("qmean_e6"),
    )
    ranked = grouped_running_sums(
        per_source.withColumn("neg_q", -F.col("qmean_e6")),
        [],
        ["neg_q", "source"],
        [("n_tokens", "cum")],
    ).withColumn("budget", F.expr("cum_total div 2"))
    return (
        ranked.selectExpr(
            "source",
            "n_docs",
            "qmean_e6",
            "n_tokens",
            "CAST(cum - n_tokens AS BIGINT) AS cum_before",
            "CAST(least(n_tokens, greatest(CAST(0 AS BIGINT),"
            " budget - (cum - n_tokens))) AS BIGINT) AS taken_tokens",
            "CAST(CAST(least(n_tokens, greatest(CAST(0 AS BIGINT),"
            " budget - (cum - n_tokens))) AS DECIMAL(38,0)) * 1000000"
            " div n_tokens AS BIGINT) AS take_frac_ppm",
        )
        .orderBy(F.desc("qmean_e6"), "source")
    )


# --------------------------------------------------------------------------
# Classifier calibration: reliability diagram + integer-exact ECE terms
# --------------------------------------------------------------------------

# Sigmoid temperature (milli-logit units): chosen so the fixture logit
# IQR (~±2e7 milli) maps to probabilities spread across the bins rather
# than saturating at 0/1 — the same role as Platt scaling's scalar.
_ECE_TEMP_MILLI = 30000000.0
_ECE_BINS = 10

_ECE_P_E6 = (
    "CAST(round(1000000.0 / (1.0 + exp(-CAST(logit_milli AS DOUBLE)"
    f" / {_ECE_TEMP_MILLI}))) AS BIGINT)"
)


def _ece_oracle() -> str:
    from gluettalax_spark.operators.text import _QUALITY_DUCK

    return rf"""
WITH {duck_doc_logits()},
quality AS (
  SELECT doc_id, CAST(round(({_QUALITY_DUCK}) * 10000) AS BIGINT) AS q_int
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
  SELECT {_ECE_P_E6} AS p_e6,
         CASE WHEN j.q_int > med.m THEN 1 ELSE 0 END AS in_pos
  FROM j, med
)
SELECT CAST(least(p_e6 * {_ECE_BINS} // 1000000, {_ECE_BINS - 1}) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT)            AS n_docs,
       CAST(sum(in_pos) AS BIGINT)         AS n_pos,
       CAST(sum(p_e6) AS BIGINT)           AS conf_sum_e6,
       CAST(sum(in_pos) * 1000000 // count(*) AS BIGINT) AS acc_ppm,
       CAST(sum(p_e6) // count(*) AS BIGINT)             AS conf_ppm,
       CAST(abs(sum(in_pos) * 1000000 - sum(p_e6)) AS BIGINT) AS gap_num
FROM scored
GROUP BY 1
ORDER BY bin
"""


@register(
    "quality_ece_calibration",
    _ece_oracle(),
    doc="classifier reliability diagram + integer-exact ECE terms (10 sigmoid-probability bins)",
)
def quality_ece_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is the quality classifier CALIBRATED, not just discriminative?
    The reliability diagram (Guo et al. 2017's ECE readout): sigmoid the
    deterministic hashed-feature logits into probabilities, bin into 10
    equal-width bins, and compare each bin's empirical positive rate to
    its mean predicted confidence. `quality_classifier_auc` ranks;
    this op checks the probabilities themselves — the difference
    between "sorts well" and "its 0.9 means 90%".

    Exactness: p quantizes to e6 per distinct logit (one IEEE sigmoid);
    every bin column is then an exact integer — acc_ppm and conf_ppm by
    integer division, and gap_num = |Σ1_pos·1e6 − Σp_e6| per bin, so
    ECE = Σ gap_num / (N·1e6) is exactly recoverable from the output
    with no float fold anywhere.

    Scale: rides the memoized `classifier_doc_logits` pass (the one
    data-scale explode); the diagram is a 10-row aggregate of the doc
    frame; the median label reuses the bounded quality dictionary."""
    docs = load(spark, sf_dir, "documents")
    from gluettalax_spark.operators.text import _quality_parts

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
    scored = j.crossJoin(F.broadcast(med)).selectExpr(
        f"{_ECE_P_E6} AS p_e6",
        "CASE WHEN q_int > m THEN 1 ELSE 0 END AS in_pos",
    )
    return (
        scored.groupBy(
            F.expr(
                f"CAST(least(p_e6 * {_ECE_BINS} DIV 1000000, {_ECE_BINS - 1}) AS BIGINT)"
            ).alias("bin")
        )
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("in_pos").cast("long").alias("n_pos"),
            F.sum("p_e6").cast("long").alias("conf_sum_e6"),
            F.expr("CAST(sum(in_pos) * 1000000 DIV count(*) AS BIGINT)").alias("acc_ppm"),
            F.expr("CAST(sum(p_e6) DIV count(*) AS BIGINT)").alias("conf_ppm"),
            F.expr("CAST(abs(sum(in_pos) * 1000000 - sum(p_e6)) AS BIGINT)").alias("gap_num"),
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# Epoch schedule: turn mixing weights + a token budget into repeat counts
# --------------------------------------------------------------------------

# Budget multiple of the corpus token mass (2 "average epochs" — the
# typical LLM pretraining regime where small high-weight sources repeat
# several times and the bulk source stays near one pass).
_EPOCH_BUDGET_X = 2

_EPOCH_ORACLE = rf"""
WITH per_source AS (
  SELECT source,
         CAST(sum(len({_WORDS_DUCK})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
q AS (
  SELECT source, n_tokens,
         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1048576) AS BIGINT) AS qs
  FROM per_source
),
tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS n_total, CAST(sum(qs) AS BIGINT) AS q_total
  FROM q
),
tgt AS (
  SELECT source, n_tokens,
         CAST(qs * 1000000 // q_total AS BIGINT) AS w_temp_ppm,
         CAST({_EPOCH_BUDGET_X} * n_total * CAST(qs AS HUGEINT) // q_total AS BIGINT)
           AS target_tokens
  FROM q, tot
)
SELECT source, n_tokens, w_temp_ppm, target_tokens,
       CAST(target_tokens // n_tokens AS BIGINT) AS n_full_epochs,
       CAST((target_tokens % n_tokens) * 1000000 // n_tokens AS BIGINT)
         AS last_epoch_frac_ppm,
       CAST(target_tokens * 1000 // n_tokens AS BIGINT) AS epochs_milli
FROM tgt
ORDER BY source
"""


@register(
    "corpus_epoch_schedule",
    _EPOCH_ORACLE,
    doc=f"per-source epoch/repeat schedule for a {_EPOCH_BUDGET_X}x-corpus token budget "
    "under sqrt-temperature weights",
)
def corpus_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The executable form of the mixing weights: given a training
    budget of {mult}x the corpus token mass and sqrt-temperature source
    weights (`source_mix_temperature`'s alpha=1/2 rule, on TOKENS), how
    many times does each source repeat? Emits full epochs plus the
    fractional last-epoch sampling rate — the repeat schedule a
    pretraining dataloader actually consumes (upweighted small sources
    repeat; the bulk source runs ~one pass).

    Exactness: sqrt is the one IEEE-exact non-trivial exponent; each
    source's sqrt(tokens) floor-quantizes at 2^20 and every downstream
    number is integer division of exact int64/int128 products (the
    `source_mix_temperature` discipline), so both engines agree bit-
    for-bit.

    Scale: one corpus scan partial-aggregates token counts per source;
    everything after is source-dictionary-scale with one 1-row total
    broadcast.""".replace("{mult}", str(_EPOCH_BUDGET_X))
    docs = load(spark, sf_dir, "documents")
    per_source = (
        docs.select(
            "source",
            word_count().alias("t"),
        )
        .groupBy("source")
        .agg(F.sum("t").cast("long").alias("n_tokens"))
        .withColumn(
            "qs",
            F.expr("CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1048576) AS BIGINT)"),
        )
        .persist(CKPT_LEVEL)  # feeds the 1-row total AND the schedule
    )
    tot = per_source.agg(
        F.sum("n_tokens").cast("long").alias("n_total"),
        F.sum("qs").cast("long").alias("q_total"),
    )
    return (
        per_source.crossJoin(F.broadcast(tot))
        .selectExpr(
            "source",
            "n_tokens",
            "CAST(qs * 1000000 DIV q_total AS BIGINT) AS w_temp_ppm",
            f"CAST({_EPOCH_BUDGET_X} * n_total * CAST(qs AS DECIMAL(38,0)) DIV q_total"
            " AS BIGINT) AS target_tokens",
        )
        .selectExpr(
            "source",
            "n_tokens",
            "w_temp_ppm",
            "target_tokens",
            "CAST(target_tokens DIV n_tokens AS BIGINT) AS n_full_epochs",
            "CAST((target_tokens % n_tokens) * 1000000 DIV n_tokens AS BIGINT)"
            " AS last_epoch_frac_ppm",
            "CAST(target_tokens * 1000 DIV n_tokens AS BIGINT) AS epochs_milli",
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Open-order backlog aging (as-of the calendar's last order date)
# --------------------------------------------------------------------------

_BACKLOG_BUCKET = """CASE WHEN age_days <= 30 THEN '000-030'
            WHEN age_days <= 90 THEN '031-090'
            WHEN age_days <= 365 THEN '091-365'
            ELSE '365+' END"""

_BACKLOG_ORACLE = f"""
WITH asof_d AS (SELECT max(o_orderdate) AS d FROM orders),
open_orders AS (
  SELECT o_orderpriority AS priority,
         CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(asof_d.d AS DATE)) AS BIGINT)
           AS age_days,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders, asof_d
  WHERE o_orderstatus <> 'F'
),
b AS (SELECT priority, {_BACKLOG_BUCKET} AS age_bucket, age_days, cents FROM open_orders)
SELECT priority, age_bucket,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       CAST(max(age_days) AS BIGINT) AS max_age_days
FROM b
GROUP BY priority, age_bucket
ORDER BY priority, age_bucket
"""


@register(
    "orders_backlog_aging",
    _BACKLOG_ORACLE,
    doc="open-order backlog aged into 30/90/365-day buckets per priority (as-of max order date)",
)
def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operations dashboard's backlog table: every order not yet
    finalized (status ≠ 'F'), aged against the as-of date (the
    calendar's last order date) into 30/90/365-day bands per priority,
    with order counts and value. Old high-priority backlog is the row
    someone gets paged for; the aging-bucket × priority grid is the
    classic receivables/fulfilment shape.

    Exactness: ages are integer day differences against a single as-of
    date; money folds in exact cents; bucket edges are the SAME CASE
    text in both engines.

    Scale: the status filter pushes into the parquet scan; one
    data-scale groupBy lands on the 4×5-bounded (bucket × priority)
    grid; the 1-row as-of aggregate broadcasts."""
    orders = load(spark, sf_dir, "orders")
    asof = orders.agg(F.max("o_orderdate").alias("d"))
    open_orders = (
        orders.filter(F.col("o_orderstatus") != "F")
        .crossJoin(F.broadcast(asof))
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(F.col("d").cast("date"), F.col("o_orderdate").cast("date"))
            .cast("long")
            .alias("age_days"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    return (
        open_orders.selectExpr("priority", f"{_BACKLOG_BUCKET} AS age_bucket", "age_days", "cents")
        .groupBy("priority", "age_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("total_cents"),
            F.max("age_days").cast("long").alias("max_age_days"),
        )
        .orderBy("priority", "age_bucket")
    )


# --------------------------------------------------------------------------
# Basket-size histogram (distinct parts per order)
# --------------------------------------------------------------------------

_BASKET_HIST_ORACLE = """
WITH b AS (
  SELECT l_orderkey, CAST(count(DISTINCT l_partkey) AS BIGINT) AS sz
  FROM lineitem GROUP BY l_orderkey
),
h AS (SELECT sz, CAST(count(*) AS BIGINT) AS n_orders FROM b GROUP BY sz),
t AS (SELECT CAST(sum(n_orders) AS BIGINT) AS total FROM h)
SELECT sz AS basket_size, n_orders,
       CAST(sum(n_orders) OVER (ORDER BY sz
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_orders,
       CAST(n_orders * 1000000 // t.total AS BIGINT) AS share_ppm
FROM h, t
ORDER BY basket_size
"""


@register(
    "orders_basket_size_histogram",
    _BASKET_HIST_ORACLE,
    doc="distinct-parts-per-order histogram (+ cumulative and ppm shares)",
)
def orders_basket_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How wide are the baskets? The distinct-part count per order,
    histogrammed — the distribution that justifies `MAX_BASKET` (the
    pair-explode cap every co-occurrence operator replays) and sizes
    the market-basket joins: C(n,2) pair work per order grows with
    exactly this tail.

    Exactness: counts, cumulative counts, and ppm shares are all exact
    integers.

    Scale: one groupBy(l_orderkey) with a distinct-count (the
    unavoidable shuffle), then the histogram and its running sum live
    on the basket-size dictionary (data-model bounded) via the
    range-partitioned machinery."""
    from gluettalax_spark.operators.rank import grouped_running_sums

    li = load(spark, sf_dir, "lineitem")
    h = (
        li.groupBy("l_orderkey")
        .agg(F.countDistinct("l_partkey").cast("long").alias("sz"))
        .groupBy(F.col("sz").alias("basket_size"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )
    cum = grouped_running_sums(h, [], ["basket_size"], [("n_orders", "cum_orders")])
    return cum.selectExpr(
        "basket_size",
        "n_orders",
        "CAST(cum_orders AS BIGINT) AS cum_orders",
        "CAST(n_orders * 1000000 DIV cum_orders_total AS BIGINT) AS share_ppm",
    ).orderBy("basket_size")


# --------------------------------------------------------------------------
# Lorenz curve of customer revenue (whole-population decile concentration)
# --------------------------------------------------------------------------

_LORENZ_ORACLE = """
WITH cust AS (
  SELECT o_custkey AS c,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
tiled AS (
  SELECT c, cents, CAST(ntile(10) OVER (ORDER BY cents, c) AS BIGINT) AS decile
  FROM cust
),
dec AS (
  SELECT decile,
         CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(cents) AS BIGINT) AS decile_cents
  FROM tiled GROUP BY decile
),
tot AS (SELECT CAST(sum(decile_cents) AS BIGINT) AS total FROM dec)
SELECT decile, n_customers, decile_cents,
       CAST(sum(decile_cents) OVER (ORDER BY decile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents,
       CAST(CAST(decile_cents AS HUGEINT) * 1000000 // tot.total AS BIGINT) AS share_ppm,
       CAST(CAST(sum(decile_cents) OVER (ORDER BY decile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT)
            * 1000000 // tot.total AS BIGINT) AS cum_share_ppm
FROM dec, tot
ORDER BY decile
"""


@register(
    "orders_lorenz_curve",
    _LORENZ_ORACLE,
    doc="Lorenz curve of customer revenue: decile cumulative shares (integer ppm)",
)
def orders_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole-population concentration readout: customers sorted
    poorest→richest, revenue share per decile and cumulative — the
    curve whose gap from the diagonal IS the Gini coefficient
    (`text_doc_length_gini`'s revenue sibling) and whose top-decile
    point answers "how much of revenue is the top 10%".
    `customer_pareto` shows the head (top-50 customers); this shows the
    full distribution shape on a fixed 10-row grid.

    Exactness: per-customer revenue is exact integer cents; the decile
    assignment is ANSI ntile(10) over the total order (cents, custkey) —
    computed here via `ntile_from_rank` over `exact_global_rank`, bit-
    identical to both engines' builtin ntile — and every share is an
    integer ppm floor-division (HUGEINT/DECIMAL(38,0) intermediates).

    Scale: one data-scale groupBy(custkey); the global sort is the
    range-exchange rank machinery (no single-task window over
    customers); everything after lives on the 10-row decile table,
    where the running sum is metadata-scale."""
    orders = load(spark, sf_dir, "orders")
    cust = (
        orders.select(
            F.col("o_custkey").alias("c"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("c")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    ranked = exact_global_rank(cust, [F.col("cents").asc(), F.col("c").asc()], "rn")
    tiled = ranked.withColumn("decile", ntile_from_rank(F.col("rn"), F.col("_n"), 10))
    dec = (
        tiled.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("cents").cast("long").alias("decile_cents"),
        )
    )
    from gluettalax_spark.operators.rank import grouped_running_sums

    cum = grouped_running_sums(dec, [], ["decile"], [("decile_cents", "cum_cents")])
    return (
        cum.withColumnRenamed("cum_cents_total", "total")
        .withColumn("cum_cents", F.col("cum_cents").cast("long"))
        .selectExpr(
            "decile",
            "n_customers",
            "decile_cents",
            "cum_cents",
            "CAST(CAST(decile_cents AS DECIMAL(38,0)) * 1000000 div total AS BIGINT) AS share_ppm",
            "CAST(CAST(cum_cents AS DECIMAL(38,0)) * 1000000 div total AS BIGINT) AS cum_share_ppm",
        )
        .orderBy("decile")
    )
