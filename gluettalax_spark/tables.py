"""Fixture-table loading (the TPC-H-ish star schema in TESTDATA.md).

Every operator reads a fixture table through :func:`load`, which leaves
column pruning and predicate pushdown to Catalyst. No data is cached (at
100 TB you want the parquet scan, not a driver-side cache); what is
cached is each file's inferred schema. A bare ``spark.read.parquet``
runs a one-task Spark job on every call to read the schema from the
footer. ``load`` infers once per file and then reads with
``spark.read.schema(cached)``, which runs no job.

The cache key covers everything the inferred schema depends on:

- the file, through :func:`fixture_fingerprint` (dir, table, size,
  mtime_ns), so a fixture rewritten in-process is inferred again;
- the session confs that change how the parquet reader maps physical
  types to Spark types (``_SCHEMA_CONFS``), so toggling one of them is
  a fresh inference, not a stale schema.

The cache is module-level, so an entry outlives the SparkSession that
inferred it, across a SparkContext restart in the same process too. That
is sound: a schema is a plain value, and nothing it depends on lives in
the session beyond the confs in the key.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables — always broadcast-join candidates. At 100 TB the
# fact tables (lineitem/orders/events/documents) grow; these stay tiny.
SMALL_DIMS = frozenset({"region", "nation", "supplier", "part", "customer"})


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; expected one of {TABLES}")
    df = spark.read.schema(_schema(spark, sf_dir, name)).parquet(f"{sf_dir}/{name}.parquet")
    return _normalize_events_ts(df) if name == "events" else df


# One scan split per spark.sql.files.openCostInBytes (4 MB) is the most a
# small file can parallelize to — and a single-row-group parquet (every
# fixture table) decodes in ONE task regardless. Below this per-core
# threshold a scan therefore cannot feed all cores.
_SPREAD_OPEN_COST = 4 * (1 << 20)


def load_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load`` plus a map-side parallelism guard (optimization r12,
    guide §2.5 "input skew: one huge unsplittable file … repartition
    immediately after the read").

    A fixture table is a single-row-group parquet file, so its scan is
    ONE task no matter the split config — and every expensive per-row
    stage fed straight by that scan (64-dim cosine folds, shingle
    explodes, regex tokenization) runs on one core of the machine. When
    the file is too small for the scan to reach core-count parallelism
    (size < cores × openCostInBytes — below that Spark cannot plan more
    splits than cores even for splittable files), insert one round-robin
    repartition so the compute above it uses the whole machine. The
    shuffle moves at most cores × 4 MB, bounded by the same condition.

    At scale the condition is false (a 100 TB table has thousands of
    splits) and this is byte-for-byte ``load`` — no extra exchange, no
    plan change. Only operators whose map-side compute dominates call
    this; scan-dominated queries keep the plain loader (the repartition
    cannot parallelize the single-row-group DECODE itself, only the
    compute above it)."""
    df = load(spark, sf_dir, name)
    try:
        sz = os.stat(os.path.join(sf_dir, f"{name}.parquet")).st_size
    except OSError:
        return df
    cores = spark.sparkContext.defaultParallelism
    if sz < cores * _SPREAD_OPEN_COST:
        return df.repartition(cores)
    return df


# Session confs that change the schema Spark infers from a parquet footer.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
)

# Inferred schema per (fixture fingerprint, values of _SCHEMA_CONFS).
_SCHEMA_CACHE: dict = {}


def _schema(spark: SparkSession, sf_dir: str, name: str):
    """Physical schema of ``<sf_dir>/<name>.parquet`` as Spark infers it
    (events: before the ts normalization), cached as the module docstring
    describes. A missing file is not cached: the inference raises the real
    error."""
    key = (fixture_fingerprint(sf_dir, name), *(spark.conf.get(k) for k in _SCHEMA_CONFS))
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        # events.ts is parquet TIMESTAMP(NANOS), which Spark 4 rejects
        # (PARQUET_TYPE_ILLEGAL): infer it as a raw int64 under the legacy
        # conf. The explicit schema then reads the column as int64 with
        # the conf off, and _normalize_events_ts truncates ns → µs.
        with _events_legacy_nanos_conf(spark) if name == "events" else contextlib.nullcontext():
            schema = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        _SCHEMA_CACHE[key] = schema
    return schema


def fixture_fingerprint(sf_dir: str, name: str) -> tuple:
    """Cache key for anything derived from a fixture table: the dir, the
    table, and the file's (size, mtime_ns). The per-``sf_dir`` caches —
    this module's schema cache, the PCA covariance memo, the ANN
    codebook/quantizer models — were correct only because fixture dirs
    are immutable; keying them on this fingerprint makes an in-process
    fixture rewrite invalidate instead of silently serving stale state.
    A missing file fingerprints as (None, None) so the subsequent read
    raises the real error, not a KeyError here."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        return (sf_dir, name, st.st_size, st.st_mtime_ns)
    except OSError:
        return (sf_dir, name, None, None)


@contextlib.contextmanager
def _events_legacy_nanos_conf(spark: SparkSession):
    """Set spark.sql.legacy.parquet.nanosAsLong for the duration of a
    schema inference, restoring the prior value after — leaving it set
    session-wide would change how any other NANOS parquet is read."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to TIMESTAMP regardless of the
    fixture's physical layout (ns-as-long legacy, NTZ µs, or already-µs).
    Shared by the batch loader and the streaming reader so the two can't
    drift."""
    from pyspark.sql import functions as F

    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # ns as int64: integer DIV, since float division would lose ~256 ns
        # of precision at 2024 epoch magnitudes.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if ts_type == "timestamp_ntz":
        # Parquet timestamp[us] with isAdjustedToUTC=false loads as
        # TIMESTAMP_NTZ; normalize to TIMESTAMP so time functions that
        # require it (unix_millis etc.) work. Session tz is pinned UTC
        # (session.py), so the cast is value-preserving and matches the
        # oracle's naive-timestamp reading.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def events_raw_schema(spark: SparkSession, sf_dir: str):
    """Physical schema of ``events.parquet`` (pre-ts-normalization), from
    the schema cache — a stream source must declare its schema up front."""
    return _schema(spark, sf_dir, "events")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for the SQL-flavored ops)."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
