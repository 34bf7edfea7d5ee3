"""Stream-static join and streaming dedup over ``events``.

Two Structured Streaming shapes every production pipeline needs beyond
windowed aggregates:

* **stream-static enrichment** — each micro-batch joins against a static
  dimension; Spark re-plans the join per batch, so a broadcastable dim
  never shuffles the stream side (at 100 TB/day of events that is the
  only viable plan);
* **streaming dedup** — ``dropDuplicates`` on the event key with a
  watermark bounding the dedup state: ids older than the horizon are
  evicted, which is what keeps state finite on an infinite stream.

No SQL oracle is possible for a streaming query; tests drive these to
completion on the finite fixture and compare against the batch truth
(the pattern of ``streaming/windows.py``).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gluettalax_spark.streaming.windows import read_events_stream
from gluettalax_spark.tables import load


def user_tier_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static per-user dimension derived from historical events: lifetime
    event count and a spend tier. Stand-in for the user-profile table an
    enrichment join would hit."""
    return (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("lifetime_events"), F.sum("value").alias("lifetime_value"))
        .withColumn(
            "tier",
            F.when(F.col("lifetime_value") >= 1000, "gold")
            .when(F.col("lifetime_value") >= 100, "silver")
            .otherwise("bronze"),
        )
    )


def streaming_enriched_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join enriching each micro-batch with the user-profile
    dim. NO forced broadcast: the dim is per-USER, so its size grows with
    the data — Spark sizes the join per micro-batch (AQE demotes to a
    shuffled join when the profile table outgrows the broadcast
    threshold). At cluster scale the profile table would be a compacted,
    bucketed table so the join co-locates without a full dim shuffle."""
    stream = read_events_stream(spark, sf_dir)
    dim = user_tier_dim(spark, sf_dir).select("user_id", "tier")
    return stream.join(dim, "user_id", "left").select(
        "event_id", "user_id", "event_type", "value", F.coalesce("tier", F.lit("bronze")).alias("tier")
    )


def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dedup on event_id: state holds only ids within
    the 1-hour horizon of max event time; older state evicts."""
    stream = read_events_stream(spark, sf_dir)
    return stream.withWatermark("ts", "1 hour").dropDuplicates(["event_id"]).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` (Spark 3.5+): unlike
    ``dropDuplicates`` — whose state for a key only evicts when the
    *event-time column is part of the key set or the watermark passes the
    recorded event time* — this variant guarantees eviction once the
    watermark passes the FIRST sighting's time plus the delay, and
    deduplicates records whose event times differ (e.g. at-least-once
    sources re-delivering with a later ingest ts). The right default for
    re-delivery dedup on an infinite stream: state is strictly bounded by
    the watermark delay regardless of key recurrence."""
    stream = read_events_stream(spark, sf_dir)
    return (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


# --------------------------------------------------------------------------
# Stream-stream join (view → purchase conversions within a horizon)
# --------------------------------------------------------------------------

CONVERSION_HORIZON_MS = 12 * 3600 * 1000

_CONVERSION_ORACLE = f"""
SELECT
  a.event_id                        AS view_id,
  b.event_id                        AS purchase_id,
  a.user_id,
  epoch_ms(b.ts) - epoch_ms(a.ts)   AS delta_ms
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'view' AND b.event_type = 'purchase'
 AND epoch_ms(b.ts) > epoch_ms(a.ts)
 AND epoch_ms(b.ts) <= epoch_ms(a.ts) + {CONVERSION_HORIZON_MS}
ORDER BY view_id, purchase_id
"""


def _register_conversion_pairs():
    from gluettalax_spark.registry import register

    @register(
        "events_conversion_pairs",
        _CONVERSION_ORACLE,
        doc="view→purchase pairs within 12 h (batch twin of the stream-stream join)",
    )
    def events_conversion_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Batch twin of the stream-stream conversion join: every view
        paired with the same user's purchases in the following 12 hours.
        The time comparison runs on millisecond epochs in BOTH engines —
        flooring ns (DuckDB) and µs (Spark loader) timestamps to ms agrees
        always, so the boundary predicate can't drift cross-engine.

        Plan: equi-join on user_id (the range condition rides along as a
        join filter — SortMergeJoin, never a cross product); both sides
        prune to (event_id, user_id, ts) before the exchange."""
        ev = load(spark, sf_dir, "events")
        a = ev.filter(F.col("event_type") == "view").select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.unix_millis("ts").alias("a_ms"),
        )
        b = ev.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("b_user"),
            F.unix_millis("ts").alias("b_ms"),
        )
        return (
            a.join(
                b,
                (F.col("user_id") == F.col("b_user"))
                & (F.col("b_ms") > F.col("a_ms"))
                & (F.col("b_ms") <= F.col("a_ms") + CONVERSION_HORIZON_MS),
            )
            .select(
                "view_id",
                "purchase_id",
                "user_id",
                (F.col("b_ms") - F.col("a_ms")).alias("delta_ms"),
            )
            .orderBy("view_id", "purchase_id")
        )


_register_conversion_pairs()


def streaming_conversion_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True stream-stream inner join: views and purchases are SEPARATE
    watermarked streams joined on user with an event-time range — the
    shape Spark buffers both sides in state for, and the watermarks +
    time bound are what let it EVICT: a view older than the horizon plus
    the watermark delay can never match a future purchase, so its state
    drops. Without the time bound this join is unrunnable on infinite
    streams (state grows forever) — that constraint is the operator."""
    views = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("view_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("purchase_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return views.join(
        purchases,
        (F.col("view_user") == F.col("purchase_user"))
        & (F.col("purchase_ts") > F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 12 HOURS")),
    ).select(
        "view_id",
        "purchase_id",
        F.col("view_user").alias("user_id"),
        (F.unix_millis("purchase_ts") - F.unix_millis("view_ts")).alias("delta_ms"),
    )


def streaming_conversion_join_outer(spark: SparkSession, src_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join — the harder half of stream joins:
    an unconverted view emits (with NULL purchase columns) only once the
    watermark proves no matching purchase can still arrive (view_ts +
    horizon + delay). Reads a parquet directory of
    ``event_id long, user_id long, event_type string, ts timestamp``;
    far-future sentinel rows (negative user_id) advance both streams'
    watermarks so a finite fixture actually flushes the NULL side."""
    schema = "event_id long, user_id long, event_type string, ts timestamp"
    raw = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src_dir)
    views = (
        raw.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("view_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "10 seconds")
    )
    purchases = (
        raw.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("purchase_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "10 seconds")
    )
    return views.join(
        purchases,
        (F.col("view_user") == F.col("purchase_user"))
        & (F.col("purchase_ts") > F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 12 HOURS")),
        "leftOuter",
    ).select(
        "view_id",
        F.col("view_user").alias("user_id"),
        "purchase_id",
        (F.unix_millis("purchase_ts") - F.unix_millis("view_ts")).alias("delta_ms"),
    )


# --------------------------------------------------------------------------
# Incremental corpus dedup: new documents vs the existing corpus index
# --------------------------------------------------------------------------

CORPUS_SPLIT_DOC_ID = 250  # fixture convention: ids < split = "existing corpus"

_INCREMENTAL_DEDUP_ORACLE = rf"""
WITH fp AS (
  SELECT doc_id, source,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
  FROM documents
),
idx AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id < {CORPUS_SPLIT_DOC_ID})
SELECT f.doc_id, f.source, f.fingerprint
FROM fp f
WHERE f.doc_id >= {CORPUS_SPLIT_DOC_ID}
  AND f.fingerprint NOT IN (SELECT fingerprint FROM idx)
ORDER BY f.doc_id
"""


def _corpus_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gluettalax_spark.operators.text import normalized_text
    from gluettalax_spark.tables import load

    return load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5(normalized_text()).alias("fingerprint")
    )


def _register_incremental_dedup():
    from gluettalax_spark.registry import register

    @register(
        "corpus_incremental_dedup",
        _INCREMENTAL_DEDUP_ORACLE,
        doc="new docs surviving exact-dedup against the existing corpus index",
    )
    def corpus_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The daily-crawl shape: dedup ONLY the new documents against the
        accumulated corpus's fingerprint index — never re-shuffle the
        existing corpus. An anti-join on the 16-byte fingerprint: the new
        batch (small) shuffles; the index side is a compacted fingerprint
        table that at scale is bucketed on fingerprint so the join
        co-locates. Batch twin of ``streaming_incremental_dedup`` —
        identical output, micro-batch at a time."""
        fp = _corpus_fingerprints(spark, sf_dir)
        idx = fp.filter(F.col("doc_id") < CORPUS_SPLIT_DOC_ID).select("fingerprint").distinct()
        new = fp.filter(F.col("doc_id") >= CORPUS_SPLIT_DOC_ID)
        return new.join(idx, "fingerprint", "left_anti").select(
            "doc_id", "source", "fingerprint"
        ).orderBy("doc_id")


_register_incremental_dedup()


def streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin: each micro-batch of incoming documents anti-joins
    the static corpus fingerprint index. State-free (the index is the
    state, maintained by the batch compaction job) — the stream never
    accumulates fingerprints, so a re-crawled duplicate already in the
    corpus is dropped at ingest regardless of how long ago the original
    arrived. Within-stream re-deliveries are handled downstream by the
    watermarked dedup (streaming_dedup_within_watermark pattern)."""
    from gluettalax_spark.operators.text import normalized_text
    from gluettalax_spark.tables import load

    docs_schema = load(spark, sf_dir, "documents").schema
    stream = (
        spark.readStream.schema(docs_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    fp = stream.select("doc_id", "source", F.md5(normalized_text()).alias("fingerprint"))
    idx = (
        _corpus_fingerprints(spark, sf_dir)
        .filter(F.col("doc_id") < CORPUS_SPLIT_DOC_ID)
        .select("fingerprint")
        .distinct()
    )
    return fp.filter(F.col("doc_id") >= CORPUS_SPLIT_DOC_ID).join(
        idx, "fingerprint", "left_anti"
    ).select("doc_id", "source", "fingerprint")


# --------------------------------------------------------------------------
# Time-to-convert histogram over the conversion pairs
# --------------------------------------------------------------------------

_LATENCY_BUCKET_MS = 30 * 60 * 1000  # 30-minute bins across the 12 h horizon

_FUNNEL_LATENCY_ORACLE = f"""
WITH conv AS (
  SELECT a.event_id AS view_id,
         min(epoch_ms(b.ts) - epoch_ms(a.ts)) AS first_delta_ms
  FROM events a
  JOIN events b
    ON a.user_id = b.user_id
   AND a.event_type = 'view' AND b.event_type = 'purchase'
   AND epoch_ms(b.ts) > epoch_ms(a.ts)
   AND epoch_ms(b.ts) <= epoch_ms(a.ts) + {CONVERSION_HORIZON_MS}
  GROUP BY a.event_id
),
hist AS (
  SELECT CAST(first_delta_ms // {_LATENCY_BUCKET_MS} AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS n_views
  FROM conv GROUP BY 1
),
tot AS (SELECT CAST(sum(n_views) AS BIGINT) AS total FROM hist)
SELECT bucket,
       CAST(bucket * 30 AS BIGINT) AS bucket_start_min,
       n_views,
       CAST(sum(n_views) OVER (ORDER BY bucket) AS BIGINT) AS cum_views,
       CAST(sum(n_views) OVER (ORDER BY bucket) * 1000000 // total AS BIGINT) AS cum_ppm
FROM hist CROSS JOIN tot
ORDER BY bucket
"""


def _register_funnel_latency():
    from gluettalax_spark.registry import register

    @register(
        "events_funnel_latency",
        _FUNNEL_LATENCY_ORACLE,
        doc="time-to-first-conversion histogram (30-min bins over the 12 h horizon)",
    )
    def events_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
        """How long does view→purchase take? Each view's FIRST
        conversion latency (same user/horizon predicate as
        `events_conversion_pairs`), histogrammed into 30-minute bins
        with the cumulative conversion share — the curve a growth team
        reads to set retargeting windows ("80% of conversions land
        within N hours"), and the empirical CDF that justifies the 12 h
        stream-stream join horizon above.

        Exactness: ms epochs both engines (the conversion-pairs
        contract); bins, counts, and cumulative ppm are all integer
        floor-divisions.

        Scale: the pair join is the same user-key equi-join; min() per
        view is a partial-aggregated groupBy on the view id; everything
        after lives on the ≤24-row bucket dictionary, where the running
        sum rides `grouped_running_sums` (no single-task window)."""
        from gluettalax_spark.operators.rank import grouped_running_sums

        ev = load(spark, sf_dir, "events")
        a = ev.filter(F.col("event_type") == "view").select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.unix_millis("ts").alias("a_ms"),
        )
        b = ev.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("b_user"), F.unix_millis("ts").alias("b_ms")
        )
        conv = (
            a.join(
                b,
                (F.col("user_id") == F.col("b_user"))
                & (F.col("b_ms") > F.col("a_ms"))
                & (F.col("b_ms") <= F.col("a_ms") + CONVERSION_HORIZON_MS),
            )
            .groupBy("view_id")
            .agg(F.min(F.col("b_ms") - F.col("a_ms")).alias("first_delta_ms"))
        )
        hist = (
            conv.select(
                F.expr(f"CAST(first_delta_ms DIV {_LATENCY_BUCKET_MS} AS BIGINT)").alias(
                    "bucket"
                )
            )
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n_views"))
        )
        cum = grouped_running_sums(hist, [], ["bucket"], [("n_views", "cum_views")])
        return cum.selectExpr(
            "bucket",
            "CAST(bucket * 30 AS BIGINT) AS bucket_start_min",
            "n_views",
            "CAST(cum_views AS BIGINT) AS cum_views",
            "CAST(cum_views * 1000000 DIV cum_views_total AS BIGINT) AS cum_ppm",
        ).orderBy("bucket")


_register_funnel_latency()
