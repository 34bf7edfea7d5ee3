"""Unit tests for operators/rank.py — the distributed exact-global-rank
that replaces unpartitioned windows in ntile/RFM/pareto.

The closed-form ntile/percent_rank/cume_dist are checked against Spark's
own window functions (the semantics authority) over many (n, k) shapes,
including n < k, and the rank itself against row_number() over a global
window. Determinism is pinned by running the distributed form twice.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gluettalax_spark.operators.rank import (
    cume_dist_from_rank,
    exact_global_rank,
    grouped_running_sums,
    ntile_from_rank,
    percent_rank_from_rank,
)


def _sample(spark, n, seed=7):
    # Non-unique sort values (collisions on v) + unique id tiebreak: the
    # exact shape the production orderings have.
    return spark.range(n).select(
        F.col("id"),
        (F.hash(F.col("id") + seed) % 97).alias("v"),
    )


@pytest.mark.parametrize("n", [1, 3, 250, 1000])
def test_exact_rank_matches_global_window(spark, n):
    df = _sample(spark, n)
    order = [F.col("v").desc(), F.col("id")]
    got = exact_global_rank(df, order, "rn", num_partitions=7)
    exp = df.select("id", F.row_number().over(Window.orderBy(*order)).cast("long").alias("rn"))
    assert (
        got.select("id", "rn").exceptAll(exp).count() == 0
        and exp.exceptAll(got.select("id", "rn")).count() == 0
    )
    # _n is the constant total row count.
    assert got.select("_n").distinct().collect()[0][0] == n


@pytest.mark.parametrize("n,k", [(1, 4), (3, 4), (4, 4), (5, 4), (250, 7), (1000, 3)])
def test_closed_forms_match_spark_window_functions(spark, n, k):
    df = _sample(spark, n, seed=k)
    order = [F.col("v").asc(), F.col("id")]
    w = Window.orderBy(*order)
    exp = df.select(
        "id",
        F.ntile(k).over(w).cast("long").alias("nt"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    ranked = exact_global_rank(df, order, "rn", num_partitions=5)
    got = ranked.select(
        "id",
        ntile_from_rank(F.col("rn"), F.col("_n"), k).alias("nt"),
        percent_rank_from_rank(F.col("rn"), F.col("_n")).alias("pr"),
        cume_dist_from_rank(F.col("rn"), F.col("_n")).alias("cd"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))


def test_exact_rank_deterministic_across_runs(spark):
    df = _sample(spark, 500, seed=11)
    order = [F.col("v").desc(), F.col("id")]
    a = sorted(map(tuple, exact_global_rank(df, order, "rn", num_partitions=6).collect()))
    b = sorted(map(tuple, exact_global_rank(df, order, "rn", num_partitions=6).collect()))
    assert a == b


def test_exact_rank_is_a_permutation(spark):
    """Ranks are exactly 1..n — no gap or duplicate even when range
    partition boundaries split ties of the non-unique leading sort key."""
    df = _sample(spark, 777, seed=3)
    got = exact_global_rank(df, [F.col("v").asc(), F.col("id")], "rn", num_partitions=9)
    ranks = sorted(r[0] for r in got.select("rn").collect())
    assert ranks == list(range(1, 778))


def test_exact_rank_all_ties_on_leading_key(spark):
    """Worst tie case: EVERY row shares the leading sort value, so range
    partition boundaries fall entirely inside one tie group and only the
    id tiebreak orders rows — ranks must still be the exact permutation."""
    df = spark.range(1000).select(F.lit(42).alias("v"), F.col("id"))
    got = exact_global_rank(df, [F.col("v").asc(), F.col("id")], "rn", num_partitions=8)
    rows = {r.id: r.rn for r in got.collect()}
    assert rows == {i: i + 1 for i in range(1000)}


def test_exact_rank_empty_and_single_partition(spark):
    empty = spark.range(0).select(F.col("id"), (F.col("id") % 3).alias("v"))
    assert exact_global_rank(empty, [F.col("v"), F.col("id")], "rn").count() == 0
    one = _sample(spark, 50)
    got = exact_global_rank(one, [F.col("v"), F.col("id")], "rn", num_partitions=1)
    assert sorted(r.rn for r in got.collect()) == list(range(1, 51))


# --------------------------------------------------------------------------
# grouped_running_sums
# --------------------------------------------------------------------------

def _grouped_sample(spark, n, groups):
    return spark.range(n).select(
        F.col("id"),
        (F.col("id") % groups).cast("string").alias("g"),
        (F.hash("id") % 50 + 50).alias("val"),
    )


def _same_rows(got, exp, cols):
    assert got.select(*cols).exceptAll(exp.select(*cols)).count() == 0
    assert exp.select(*cols).exceptAll(got.select(*cols)).count() == 0


@pytest.mark.parametrize("n,groups,npart", [(1, 1, 4), (50, 3, 4), (1000, 7, 5), (1000, 7, 1)])
def test_grouped_running_sums_matches_naive_window(spark, n, groups, npart):
    """The distributed grouped running sum must equal the single-task
    Window.partitionBy(group) form it replaces, for degenerate and
    multi-partition shapes (including groups that span partitions)."""
    df = _grouped_sample(spark, n, groups)
    got = grouped_running_sums(df, ["g"], ["id"], [("val", "run")], num_partitions=npart)
    w = Window.partitionBy("g").orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    exp = df.withColumn("run", F.sum("val").over(w))
    _same_rows(got, exp, ["id", "g", "run"])


@pytest.mark.parametrize("n,groups,npart", [(1, 1, 4), (1000, 7, 5)])
def test_grouped_running_sums_total_matches_naive_group_sum(spark, n, groups, npart):
    df = _grouped_sample(spark, n, groups)
    got = grouped_running_sums(df, ["g"], ["id"], [("val", "run")], num_partitions=npart)
    exp = df.withColumn("run_total", F.sum("val").over(Window.partitionBy("g")))
    _same_rows(got, exp, ["id", "g", "run_total"])


@pytest.mark.parametrize("npart", [1, 6])
def test_grouped_running_sums_empty_group_list_is_one_global_group(spark, npart):
    df = _grouped_sample(spark, 500, 5)
    got = grouped_running_sums(
        df, [], ["val", "id"], [("val", "run"), ("id", "id_run")], num_partitions=npart
    )
    w = Window.orderBy("val", "id")
    exp = df.select(
        "id",
        F.sum("val").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("run"),
        F.sum("id").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("id_run"),
        F.sum("val").over(Window.partitionBy()).alias("run_total"),
        F.sum("id").over(Window.partitionBy()).alias("id_run_total"),
    )
    _same_rows(got, exp, ["id", "run", "id_run", "run_total", "id_run_total"])


def test_grouped_running_sums_empty_input(spark):
    empty = _grouped_sample(spark, 0, 1)
    assert grouped_running_sums(empty, ["g"], ["id"], [("val", "run")]).count() == 0
    assert grouped_running_sums(empty, [], ["id"], [("val", "run")]).count() == 0


def test_grouped_running_sums_lead_with_empty_group_list(spark):
    df = spark.range(300).select((F.col("id") * 3 % 301).alias("v"), F.lit(1).alias("one"))
    got = grouped_running_sums(
        df, [], ["v"], [("one", "rank")], num_partitions=5, lead_of="v", lead_name="v_next"
    )
    exp = df.select("v", F.lead("v").over(Window.orderBy("v")).alias("v_next"))
    _same_rows(got, exp, ["v", "v_next"])


def test_grouped_running_sums_deterministic(spark):
    df = spark.range(500).select(
        F.col("id"), (F.col("id") % 5).cast("string").alias("g"), F.lit(3).alias("val")
    )
    a = grouped_running_sums(df, ["g"], ["id"], [("val", "run")], num_partitions=6).collect()
    b = grouped_running_sums(df, ["g"], ["id"], [("val", "run")], num_partitions=6).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_grouped_running_sums_no_group_partitioned_data_window(spark):
    """The plan must not contain a WindowExec partitioned ONLY by the
    group column over the raw data — every data-path window is keyed by
    (_pid, group); the group-only window may appear solely over the
    metadata-scale offsets aggregate."""
    df = spark.range(10_000).select(
        F.col("id"), (F.col("id") % 4).cast("string").alias("g"), F.lit(1).alias("val")
    )
    out = grouped_running_sums(df, ["g"], ["id"], [("val", "run")], num_partitions=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    for ln in plan.splitlines():
        if "windowspecdefinition(" in ln and "_pid" not in ln:
            # the offsets prefix window orders by _pid — anything else
            # would be the single-task-per-group shape we banned
            raise AssertionError(f"group-only data window in plan: {ln.strip()[:160]}")


def test_rfm_monetary_quartile_rounds_cents(spark, tmp_path):
    """monetary is a DOUBLE: 0.29 * 100 is 28.999..., so truncated cents
    would tie 0.29 with 0.28 and hand the order to the custkey tiebreak.
    The 0.29 customer sits on the larger custkey so a tie flips them."""
    import datetime as dt

    import duckdb
    import pandas as pd

    from gluettalax_spark.registry import all_queries

    orders = pd.DataFrame(
        {
            "o_orderkey": [1, 2, 3, 4],
            "o_custkey": [1, 2, 3, 4],
            "o_totalprice": [0.28, 0.29, 5.00, 0.10],
            "o_orderdate": [dt.datetime(1998, 1, d) for d in (1, 2, 3, 4)],
        }
    )
    orders.to_parquet(tmp_path / "orders.parquet", index=False, coerce_timestamps="us")
    spec = all_queries()["customer_rfm_segments"]
    got = {r["o_custkey"]: r["m_quartile"] for r in spec.builder(spark, str(tmp_path)).collect()}
    con = duckdb.connect()
    con.register("orders", orders)
    want = dict(con.execute(spec.oracle).df()[["o_custkey", "m_quartile"]].values.tolist())
    con.close()
    assert want == {3: 1, 2: 2, 1: 3, 4: 4}  # ORDER BY monetary DESC, o_custkey
    assert got == want
