"""SparkSession construction with scale-aware defaults.

The reference caches one boto3 Glue client per process
(``gluettalax.py:170-181``); our analog is one shared SparkSession.

Local testing runs ``local[N]`` (single JVM), but every config below is
chosen to also be the right default on a real multi-executor cluster:
AQE for runtime re-planning (coalescing post-shuffle partitions, skew-join
splitting), Arrow for the Python boundary, UTC session time so results are
reproducible against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Shuffle partitions: ~cores locally; on a real cluster AQE coalesces the
# post-shuffle side, so a higher static number is safe there.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "gluettalax_spark", cpus: str | None = None) -> SparkSession:
    """Build (or fetch) the shared session.

    Settings rationale (all apply at cluster scale, not just local):

    * ``spark.sql.adaptive.*`` — AQE re-plans at runtime: coalesces tiny
      post-shuffle partitions, converts sort-merge joins to broadcast when
      the built side turns out small, and splits skewed partitions.
    * ``spark.sql.shuffle.partitions`` — sized to the local core count;
      AQE coalescing makes the exact value non-critical.
    * ``spark.sql.session.timeZone=UTC`` — deterministic timestamps
      (parquet fixtures are UTC; the DuckDB oracle is TZ-naive).
    * Arrow enabled — vectorized transfer for every Pandas UDF /
      ``applyInPandas`` path (the sanctioned slow path).
    * ``spark.sql.streaming.checkpointFileManagerClass`` — the
      FileSystem-based manager. The default FileContext manager renames
      each offset/commit/state file through ``FileContext``, and on a
      local path without libhadoop every such rename forks ``readlink``
      twice (Hadoop's shell fallback): about 190 subprocesses for the
      benchmark's two-batch drain over 4 state partitions.
      ``RawLocalFileSystem.rename`` is an atomic,
      overwriting ``rename(2)`` on a local path, and the checksum wrapper
      (``ChecksumCheckpointFileManager``) stays on. This session always
      runs a ``local[N]`` master; for HDFS checkpoint paths on a cluster
      the FileContext manager stays the right choice: its overwriting
      rename is atomic on HDFS, where ``FileSystem.rename`` refuses an
      existing target.
    * ``spark.broadcast.blockSize=1m`` — every broadcast, each stage's
      task binary included, is cut into chunks of this size. The 4m
      default equals the G1 region size of the 8 GB driver heap, so each
      chunk was a humongous object (one of at least half a region),
      allocated straight into the old generation; the humongous-allocation
      GCs made the control plane's CPU time swing from run to run. 1m is
      below half of a 4 MB region, and of the larger regions of every
      larger heap.
    """
    cpus = cpus or _DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Bound every Pandas-UDF/mapInPandas batch: with multimodal binary
        # payloads in flight, batch size × row width is the Python worker's
        # peak memory — keep it explicit rather than inherited.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # Let custom Python data sources (sources/pydatasource.py) accept
        # Catalyst filter pushdown via their pushFilters() hook.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Iterative operators (connected components, PageRank, HITS, label
        # propagation) cut lineage with localCheckpoint each round; the
        # checkpoint blocks land in the UNIFIED pool's storage side. With
        # the default storageFraction=0.5 those blocks are protected from
        # execution-side eviction up to half the pool, and on a bounded
        # heap a long iterative chain starves hash aggregates outright
        # (UNABLE_TO_ACQUIRE_MEMORY in the r12 sf10 sweep at 8g). 0.1
        # keeps storage evictable: execution pressure demotes MEMORY_AND
        # _DISK checkpoint blocks to disk instead of OOMing the query.
        # Cluster-scale rationale is identical — iterative caches should
        # yield to shuffle/agg memory, never the reverse.
        .config("spark.memory.storageFraction", "0.1")
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.broadcast.blockSize", "1m")
    )
    # ANSI sweep mode (make correctness-ansi): surfaces div-by-zero /
    # overflow / strict-cast divergences that silently return null in
    # legacy mode. Spark 4 defaults this ON, so the unset default and
    # SPARK_GRAFT_ANSI=true coincide; SPARK_GRAFT_ANSI=false forces the
    # LEGACY (pre-4) semantics so the contract can prove operators are
    # mode-independent in both directions (make correctness-legacy).
    ansi_env = os.environ.get("SPARK_GRAFT_ANSI", "").lower()
    if ansi_env in ("1", "true"):
        builder = builder.config("spark.sql.ansi.enabled", "true")
    elif ansi_env in ("0", "false"):
        builder = builder.config("spark.sql.ansi.enabled", "false")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_for_fixture(spark: SparkSession, sf_dir: str) -> int:
    """Scale ``spark.sql.shuffle.partitions`` to the fixture actually
    being read (VERDICT r11 task #6 — the scheduler floor).

    AQE coalesces post-shuffle partitions, but with the default
    ``parallelismFirst=true`` it still targets ~one partition per core,
    so a 17 MB fixture pays 32 reduce tasks of pure dispatch per shuffle.
    The INITIAL partition count is the knob that actually reduces task
    setup. Heuristic: one shuffle partition per ~1 MB of fixture, floored
    at 4 (explode-heavy text/dedup ops fan the data out ~50×, so the
    floor keeps them parallel) and capped at the core count. On a real
    cluster the inputs are TB-scale, the heuristic saturates at the
    core-count cap, and behavior is unchanged — this only bites when the
    data is small enough that dispatch dominates.

    Returns the chosen partition count (the conf is runtime-settable)."""
    total_mb = 0
    try:
        for f in os.listdir(sf_dir):
            if f.endswith(".parquet"):
                total_mb += os.path.getsize(os.path.join(sf_dir, f)) // (1 << 20)
    except OSError:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    cores = spark.sparkContext.defaultParallelism
    n = max(4, min(cores, total_mb))
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    return n
