"""Format readers/writers (SURVEY.md §2.F scans/sinks rows).

The reference's data layer is "whatever InputFormat says" — opaque to the
tool (gluettalax.py:408-410 reads formats but never data). Our engine
makes the formats first-class through the Spark datasource API:
parquet/orc (columnar, predicate pushdown, the 100 TB default), csv/json
(schema'd in production — inference costs a full extra pass).

Delta/Iceberg/Hudi would slot in via the same API but need their jars;
gated behind availability checks (not in this container).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

FORMATS = ("parquet", "orc", "csv", "json")


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: str | None = None,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Read a table from ``path``.

    Schema-on-read: pass ``schema`` (DDL string) for text formats in
    anything but exploration — ``inferSchema`` reads the data twice.
    """
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; expected one of {FORMATS}")
    reader = spark.read.format(fmt).options(**(options or {}))
    if fmt == "csv":
        # Our csv writer always emits a header; inference only when no schema.
        reader = reader.option("header", "true")
        if schema is None:
            reader = reader.option("inferSchema", "true")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    options: dict[str, str] | None = None,
) -> None:
    writer = df.write.format(fmt).mode(mode).options(**(options or {}))
    if fmt == "csv":
        writer = writer.option("header", "true")
    writer.save(path)


def overwrite_partitions(
    df: DataFrame,
    table: str,
    fmt: str = "parquet",  # noqa: ARG001 - table format fixed at creation
) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions present in
    ``df``, leaving the rest untouched (Glue-style per-partition reload —
    the incremental-sink pattern; a static overwrite would drop the whole
    table).

    ``insertInto`` ignores per-writer options, so the
    ``partitionOverwriteMode=dynamic`` conf is set on the session for the
    duration of the write and restored after.
    """
    spark = df.sparkSession
    # insertInto is POSITIONAL — align to the table's column order so
    # callers can pass frames whose joins reordered columns.
    df = df.select(*spark.table(table).columns)
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try:
        df.write.mode("overwrite").insertInto(table)
    finally:
        spark.conf.set(key, prev)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    fmt: str = "parquet",
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> None:
    """Hive-layout partitioned write (``k=v/`` dirs) — the sink that
    feeds the partition-DDL control plane.

    Layout: a ``rebalance`` hint on the partition columns shuffles each
    partition value's rows into one writer task, so a small write leaves
    one file per value instead of one per value per input task (the
    small-files problem that every later crawl, leaf listing and pruned
    read pays for). At scale AQE sizes the writer tasks: a value larger
    than the advisory partition size is split across several tasks
    rather than funnelled into one. ``maxRecordsPerFile`` additionally
    caps file size for downstream scan parallelism.
    """
    df = df.hint("rebalance", *partition_by)
    writer = df.write.format(fmt).mode(mode).partitionBy(*partition_by)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.save(path)


def upsert_partitioned(
    spark,  # SparkSession
    table: str,
    updates: DataFrame,
    key: str,
    partition_col: str,
    detect_moves: bool = False,
) -> None:
    """MERGE-style upsert into a partitioned parquet table without a
    table format (no Delta/Iceberg jars in this container): new rows
    insert, matching keys overwrite — implemented as

      1. prune: only partitions PRESENT in ``updates`` participate
         (partition-pruned anti-join, not a full-table rewrite);
      2. keep = existing rows of those partitions whose key is NOT in
         the update set (left-anti join on the key);
      3. dynamic partition overwrite of keep ∪ updates.

    CONTRACT: with the default ``detect_moves=False``, ``partition_col``
    must be a pure function of ``key`` (the usual layout: partition =
    hash/date of the key). If an update can MOVE a key to a different
    partition, the stale row in the old partition is outside the pruned
    set and would survive — pass ``detect_moves=True``, which additionally
    semi-joins the table's partition column against the update keys (a
    key-broadcast scan, no shuffle of the table) and folds any partition
    holding a moved key into the rewrite set.

    At 100 TB the rewrite cost is proportional to the TOUCHED partitions
    only — the same contract a Glue-job author gets from
    `overwrite_partitions` after their own merge. With Delta/Iceberg the
    same call becomes a single MERGE INTO (jars gated out here).
    """
    from pyspark.sql import functions as F

    parts = {r[0] for r in updates.select(partition_col).distinct().collect()}
    if detect_moves:
        upd_keys = updates.select(key).distinct()
        holding = (
            spark.table(table)
            .join(F.broadcast(upd_keys), key, "left_semi")
            .select(partition_col)
            .distinct()
        )
        parts |= {r[0] for r in holding.collect()}
    existing = spark.table(table).filter(F.col(partition_col).isin(list(parts)))
    # Anti-join on the key ALONE (not key+partition): inside the rewrite
    # set this is equivalent when partition is a function of key, and it
    # is what drops the old-partition copy of a moved key.
    keep = existing.join(updates.select(key), on=[key], how="left_anti")
    merged = keep.unionByName(updates)
    overwrite_partitions(merged, table)


def write_range_sorted(
    df: DataFrame,
    path: str,
    order_col: str,
    n_files: int = 8,
    fmt: str = "parquet",
) -> None:
    """Range-partition + sort-within-partitions before writing — the
    data-layout lever for scan pruning: each output file covers a
    disjoint range of ``order_col``, so parquet footer min/max statistics
    let a filtered scan skip whole files/row-groups (poor-man's
    Z-ordering for a single dimension).

    At 100 TB this is the difference between a time-range query touching
    one file per day and touching every file; tests verify the disjoint-
    range property directly from the parquet footers.
    """
    (
        df.repartitionByRange(n_files, order_col)
        .sortWithinPartitions(order_col)
        .write.mode("overwrite")
        .format(fmt)
        .save(path)
    )


def write_with_audit(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    audit_cols: tuple[str, ...] = (),
) -> dict:
    """Write ``df`` while collecting audit metrics (row count + per-column
    null counts) via the Observation API — metrics ride along with the
    write job itself, so there is NO second scan of the data (the naive
    ``df.count(); df.write...`` pattern reads everything twice; at 100 TB
    that doubles the pipeline). Returns the observed metrics dict."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    metrics = [F.count(F.lit(1)).alias("n_rows")]
    for c in audit_cols:
        metrics.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"n_null_{c}"))
    obs = Observation("write_audit")
    df.observe(obs, *metrics).write.format(fmt).mode("overwrite").save(path)
    return obs.get


def write_training_shards(
    df: DataFrame,
    path: str,
    doc_id_col: str = "doc_id",
    n_shards: int = 16,
    fmt: str = "parquet",
) -> None:
    """Write a training export as ``shard=K/`` Hive directories with a
    content-stable shard id (md5 of the doc id — see
    ``operators.pipeline.shard_col``): re-exports, engine swaps, and
    input repartitions put every document in the same shard, so
    downstream dataloaders can resume mid-epoch against a re-written
    export.

    Layout mechanics: ``repartition(n_shards, shard)`` puts each shard's
    rows in exactly one task → one file per shard directory (no
    small-file spray); rows sort by the md5 within the shard, giving a
    deterministic, pseudo-random document order — exactly what a
    sequential training reader wants (no post-hoc shuffle pass over
    100 TB). For bigger corpora raise ``n_shards``; the assignment stays
    stable across different ``n_shards`` only modulo-compatibly, so pick
    the final count once.
    """
    from pyspark.sql import functions as F

    from gluettalax_spark.operators.pipeline import shard_col

    (
        df.withColumn("shard", shard_col(F.col(doc_id_col), n_shards))
        .withColumn("_h", F.md5(F.col(doc_id_col).cast("string")))
        .repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "_h")
        .drop("_h")
        .write.mode("overwrite")
        .format(fmt)
        .partitionBy("shard")
        .save(path)
    )


Z_BITS = 8  # quantile buckets per dimension = 2^Z_BITS


def _zorder_col(bucket_a, bucket_b):
    """Interleave the bits of two ``Z_BITS``-bit bucket ids (Morton code):
    a fully JVM-side expression — unrolled shifts/masks, no UDF."""
    from pyspark.sql import functions as F

    z = F.lit(0)
    for i in range(Z_BITS):
        bit_a = F.shiftright(bucket_a, i).bitwiseAND(F.lit(1))
        bit_b = F.shiftright(bucket_b, i).bitwiseAND(F.lit(1))
        z = z + F.shiftleft(bit_a, 2 * i) + F.shiftleft(bit_b, 2 * i + 1)
    return z


def write_zorder(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 8,
    fmt: str = "parquet",
) -> None:
    """Z-order clustered write (multi-dimensional extension of
    ``write_range_sorted``, the layout behind Delta's OPTIMIZE ZORDER):
    each dimension is quantile-bucketed into 2^Z_BITS ranks via one
    ``approxQuantile`` pass (driver state = 2·2^Z_BITS cutoffs — constant
    size), the two bucket ids are bit-interleaved into a Morton code, and
    the data is range-partitioned + sorted on that code before writing.

    Result: every output file covers a small rectangle of the
    (col_a, col_b) space instead of a thin slab of just one column, so
    parquet footer min/max stats prune files for predicates on EITHER
    column (or both). At 100 TB this is what keeps a two-dimensional
    point/range query from scanning the whole table; the test measures
    the pruning effectiveness directly from the footers against an
    unclustered baseline.

    Quantile bucketing (not min/max-uniform) keeps the code balanced
    under skew — each bucket holds ~1/2^Z_BITS of the rows by
    construction."""
    from pyspark.sql import functions as F

    n_buckets = 1 << Z_BITS
    probs = [i / n_buckets for i in range(1, n_buckets)]
    cuts_a, cuts_b = df.approxQuantile([col_a, col_b], probs, 0.001)

    def bucket(col: str, cuts: list[float]):
        # rank = number of cutoffs <= value (0..n_buckets-1); the cutoff
        # array is a literal folded into the plan, so this is a pure
        # JVM-side expression over a constant — no join, no UDF.
        arr = F.array(*[F.lit(float(c)) for c in cuts])
        return F.aggregate(
            arr,
            F.lit(0),
            lambda acc, c: acc + F.when(c <= F.col(col).cast("double"), 1).otherwise(0),
        )

    zed = df.withColumn("_z", _zorder_col(bucket(col_a, cuts_a), bucket(col_b, cuts_b)))
    (
        zed.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z", col_a, col_b)
        .drop("_z")
        .write.mode("overwrite")
        .format(fmt)
        .save(path)
    )
