"""Scalable exact global ranking — the distributed replacement for
``Window.orderBy(...)`` with no PARTITION BY.

An unpartitioned window funnels every row through ONE task (Spark's
``WindowExec: No Partition Defined`` path): correct on a fixture, dead at
100 TB. But when the ordering is a *total* order (it always is here — every
ordering carries a unique tiebreak column), the global rank is computable
with ordinary distributed primitives:

1. ``repartitionByRange`` on the sort key — partition *i* holds keys
   strictly before partition *i+1*'s (RangePartitioner samples boundaries
   with per-partition deterministic seeds, so the layout is reproducible);
2. per-partition row counts → exclusive prefix sums = rank offsets. This
   aggregate has one row per shuffle partition — bounded by a *config
   constant*, not by data — so its own prefix-sum window is metadata-scale;
3. local position within the sorted partition from
   ``monotonically_increasing_id`` (pid·2³³ + a counter in physical row
   order — i.e. sorted order), plus the partition's broadcast offset. No
   second shuffle: the windowed alternative (``row_number`` partitioned by
   pid) would hash-exchange the data again just to regroup by partition.

The counts branch and the main branch both read ONE materialized run of
the range shuffle — the subplan is frozen with ``localCheckpoint`` before
fan-out, because pid consistency and the sort-below-id invariant only hold
when this plan is optimized in isolation (embedded in a larger query,
optimizer/AQE re-planning can drop the "redundant" local sort or re-execute
the exchange with different boundaries; the sf0.1 RFM sweep caught exactly
that). Cluster analog: write the ranked run, then fan out.

From the exact rank ``rn`` and total ``n``, the distribution functions are
closed-form (valid because the total order means a row has no peers):

* ``ntile(k)``      — first ``n % k`` tiles get ``n//k + 1`` rows, the rest
  ``n//k`` (ANSI semantics, matched by Spark and DuckDB);
* ``percent_rank``  — ``(rn - 1) / (n - 1)`` (0.0 when n == 1);
* ``cume_dist``     — ``rn / n``.

Used by ``window_ntile_distribution``, ``customer_rfm_segments`` and
``customer_pareto`` (the round-4 verdict's three plan-quality findings).
"""

from __future__ import annotations

from gluettalax_spark.memory import CKPT_LEVEL

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

RANK_TOTAL_COL = "_n"


def exact_global_rank(
    df: DataFrame,
    order_cols: list[Column | str],
    rank_name: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Append an exact 1-based global rank under ``order_cols`` (which MUST
    be a total order — include a unique tiebreak) without any single-task
    window. Also appends the total row count as ``_n`` (a constant column,
    pruned by the optimizer when no consumer reads it).

    Cost: one range shuffle of ``df`` + one pid-hash shuffle for the
    per-partition ``row_number`` + a broadcast of the (#partitions)-row
    offset table. Every stage is parallel; nothing driver-side.
    """
    spark = df.sparkSession
    npart = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    # ONE shuffle total: range exchange + local sort, then partition id
    # and the 0-based position WITHIN the sorted partition both come from
    # monotonically_increasing_id (== pid·2³³ + local counter, assigned in
    # physical row order — i.e. sorted order, since the nondeterministic
    # projection cannot be reordered below the sort). The alternative —
    # row_number() over Window.partitionBy(_pid) — would hash-exchange
    # the whole table a second time just to regroup by partition id.
    part = df.repartitionByRange(npart, *order_cols).sortWithinPartitions(*order_cols)
    with_pid = (
        part.withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.shiftright(F.col("_mid"), 33).cast("long"))
        .withColumn("_local", (F.col("_mid") % F.lit(1 << 33)).cast("long"))
        .drop("_mid")
    )
    # Freeze this subplan. The rank is only correct if (a) the counts
    # branch and the data branch see the SAME range partitioning and (b)
    # the local sort physically executes below the id assignment. Both
    # hold when this plan is optimized in isolation — but embedded in a
    # larger query (e.g. a second exact_global_rank downstream, whose own
    # range exchange makes this sort look redundant to the optimizer /
    # AQE), either can be silently re-planned and the ranks scramble
    # (caught by the sf0.1 RFM sweep). Cutting lineage here makes both
    # consumers read one materialized RDD — cluster analog: write the
    # ranked run to storage, then fan out.
    with_pid = with_pid.localCheckpoint(eager=False, storageLevel=CKPT_LEVEL)

    # Offsets: one row per range partition (≤ npart rows — config-bounded,
    # so the single-partition prefix-sum window here is metadata-scale,
    # not data-scale; tests/test_plans.py pins that every unpartitioned
    # window in callers' plans sits above exactly this pid-grouped
    # aggregate or a limit). Both branches read the checkpointed RDD, so
    # they see the same partition ids by construction.
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = with_pid.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt")).select(
        "_pid",
        F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)).alias("_off"),
        F.sum("_cnt").over(Window.partitionBy()).alias(RANK_TOTAL_COL),
    )

    return (
        with_pid.join(F.broadcast(offsets), "_pid")
        .withColumn(rank_name, (F.col("_local") + F.lit(1) + F.col("_off")).cast("long"))
        .drop("_pid", "_local", "_off")
    )


def grouped_running_sums(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column | str],
    sums: "list[tuple[str, str]]",
    num_partitions: int | None = None,
    lead_of: str | None = None,
    lead_name: str = "_lead",
) -> DataFrame:
    """Exact running ``sum(value_col)`` per group under ``order_cols``
    (a total order within the group) for every ``(value_col, sum_name)``
    pair in ``sums``, WITHOUT ``Window.partitionBy(group)`` — that window
    funnels each group through one task, and groups here (e.g. a crawl
    source) grow with the corpus. ``group_cols=[]`` is one global group.

    Same offsets construction as :func:`exact_global_rank`, grouped:

    1. range-repartition on ``(group, order)`` — a group spans a run of
       consecutive partitions;
    2. per-``(pid, group)`` value sums → per-group exclusive prefix over
       pid. This offsets table has ≤ npart + G − 1 rows (each partition
       contributes one row per group it *intersects*, and a partition
       boundary splits at most one group), so the prefix window — though
       partitioned by group — runs over per-group partition counts, i.e.
       metadata scale;
    3. local running sum within ``(pid, group)`` + broadcast offset.

    Every pair also emits the group total as ``<sum_name>_total`` — the
    sum of the group's per-partition sums on the same offsets table. It
    is an ordinary column, so the optimizer prunes it when unread.

    Cost: the range exchange plus ONE more hash exchange of the data on
    ``(pid, group)`` for the local window — unlike row_number, a running
    sum over an arbitrary column cannot ride monotonically_increasing_id.
    Every ``(pid, group)`` window group is bounded by the range-partition
    size, so no task sees more than one partition's rows. All pairs share
    that one range run, offsets broadcast and local window (guide §2.2
    "shuffle once, aggregate many"); integer/decimal running sums are
    exact under any partitioning.

    ``lead_of`` (must be the single ASCENDING order column) additionally
    emits the group's next order value as ``lead_name`` — the partition-
    local ``lead()`` patched at range-partition boundaries with the next
    partition's first value from the (metadata-scale) offsets table —
    replacing a separate exact_global_rank + rank-shifted self-join."""
    spark = df.sparkSession
    npart = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    part = df.repartitionByRange(npart, *group_cols, *order_cols).sortWithinPartitions(
        *group_cols, *order_cols
    )
    # Same isolation as exact_global_rank: offsets and data must label
    # rows with the SAME _pid, which is only guaranteed when both consume
    # one materialized run rather than two re-planned executions of the
    # range exchange.
    with_pid = part.withColumn("_pid", F.spark_partition_id()).localCheckpoint(
        eager=False, storageLevel=CKPT_LEVEL
    )

    # Prefix, total and lead share one partition/order spec, hence one
    # WindowExec over the offsets table.
    w_pid = Window.partitionBy(*group_cols).orderBy("_pid")
    w_off = w_pid.rowsBetween(Window.unboundedPreceding, -1)
    w_all = w_pid.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    off_aggs = [F.sum(vc).alias(f"_gsum_{i}") for i, (vc, _) in enumerate(sums)]
    off_cols = []
    for i, (_, sn) in enumerate(sums):
        off_cols += [
            F.coalesce(F.sum(f"_gsum_{i}").over(w_off), F.lit(0)).alias(f"_off_{i}"),
            F.sum(f"_gsum_{i}").over(w_all).alias(f"{sn}_total"),
        ]
    if lead_of is not None:
        # first order value per (pid, group) — sorted ascending, so min()
        off_aggs.append(F.min(lead_of).alias("_first_v"))
        off_cols.append(F.lead("_first_v").over(w_pid).alias("_next_first"))
    offsets = (
        with_pid.groupBy("_pid", *group_cols)
        .agg(*off_aggs)
        .select("_pid", *group_cols, *off_cols)
    )

    # Running sums and lead share one partition/order spec, hence one
    # WindowExec over the data.
    w_part = Window.partitionBy("_pid", *group_cols).orderBy(*order_cols)
    w_local = w_part.rowsBetween(Window.unboundedPreceding, 0)
    out = with_pid
    for i, (vc, _) in enumerate(sums):
        out = out.withColumn(f"_run_{i}", F.sum(vc).over(w_local))
    if lead_of is not None:
        out = out.withColumn("_llead", F.lead(lead_of).over(w_part))
    out = out.join(F.broadcast(offsets), ["_pid", *group_cols])
    for i, (_, sn) in enumerate(sums):
        out = out.withColumn(sn, F.col(f"_run_{i}") + F.col(f"_off_{i}"))
    drop = ["_pid"] + [f"_run_{i}" for i in range(len(sums))] + [
        f"_off_{i}" for i in range(len(sums))
    ]
    if lead_of is not None:
        out = out.withColumn(lead_name, F.coalesce(F.col("_llead"), F.col("_next_first")))
        drop += ["_llead", "_next_first"]
    return out.drop(*drop)


def ntile_from_rank(rn: Column, n: Column, k: int) -> Column:
    """ANSI ``ntile(k)`` from an exact global rank: the first ``n % k``
    tiles hold ``n//k + 1`` rows each, the remaining tiles ``n//k``.
    Exactly Spark's and DuckDB's assignment for a total order."""
    base = F.floor(n / F.lit(k)).cast("long")  # rows in a small tile
    rem = (n % F.lit(k)).cast("long")          # number of big tiles
    cut = rem * (base + F.lit(1))              # ranks covered by big tiles
    big = F.floor((rn - 1) / (base + F.lit(1))) + F.lit(1)
    small = rem + F.floor((rn - cut - 1) / F.greatest(base, F.lit(1))) + F.lit(1)
    return F.when(rn <= cut, big).otherwise(small).cast("long")


def percent_rank_from_rank(rn: Column, n: Column) -> Column:
    """``percent_rank`` = (rank-1)/(n-1); defined as 0.0 for n == 1.
    Valid only under a total order (no peers ⇒ rank == row_number)."""
    return F.when(n > 1, (rn - F.lit(1)) / (n - F.lit(1))).otherwise(F.lit(0.0))


def cume_dist_from_rank(rn: Column, n: Column) -> Column:
    """``cume_dist`` = rn/n under a total order (rows ≤ current == rank)."""
    return rn / n
