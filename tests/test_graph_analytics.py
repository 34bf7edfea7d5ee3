"""Independent recomputation + plan pins for the round-5 additions:
paragraph-level dedup, degree-oriented triangle counting, and the
approx_top_k heavy-hitters sketch.

The DuckDB oracle compare is the driver's job; these tests re-derive the
same answers in plain Python (a third engine) and pin the plan shapes
that make each operator scale."""

from __future__ import annotations

import hashlib
import re
from collections import defaultdict

import pandas as pd
import pytest

from gluettalax_spark.operators.graph import MAX_BASKET
from gluettalax_spark.registry import queries
from tests.test_plans import physical_plan

P_WORDS = 8


def _paragraphs(text: str) -> list[str]:
    toks = [t for t in re.split(r"\s+", text.lower()) if t]
    return [" ".join(toks[i : i + P_WORDS]) for i in range(0, len(toks), P_WORDS)]


def test_paragraph_dedup_matches_python_recompute(spark, sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    seen: set[str] = set()
    agg: dict[str, list] = defaultdict(lambda: [0, 0, 0, set()])
    for _, row in docs.sort_values(["doc_id"]).iterrows():
        for para in _paragraphs(row["text"]):
            h = hashlib.md5(para.encode()).hexdigest()
            a = agg[row["source"]]
            a[0] += 1
            if h in seen:
                a[1] += 1
                a[2] += len(para)
                a[3].add(row["doc_id"])
            else:
                seen.add(h)
    got = {
        r["source"]: (r["n_paras"], r["n_dup_paras"], r["chars_removed"], r["docs_affected"])
        for r in queries()["paragraph_dedup"](spark, sf_dir).collect()
    }
    want = {s: (a[0], a[1], a[2], len(a[3])) for s, a in agg.items()}
    assert got == want


def test_paragraph_dedup_window_keyed_and_text_not_shuffled(spark, sf_dir):
    plan = physical_plan(queries()["paragraph_dedup"](spark, sf_dir))
    # Keeper selection is a window over the paragraph-hash key — never a
    # single-task global window — and the shuffle feeding it is keyed on
    # the hash.
    assert "windowspecdefinition(h" in plan, plan
    assert re.search(r"Exchange hashpartitioning\(h#", plan), plan
    # The paragraph text is reduced to (hash, length) in the same Project
    # that computes md5 — i.e. below the exchange, so only the 32-char
    # hash shuffles, never the paragraph string.
    assert re.search(r"Project \[[^\]]*md5\(cast\(para", plan), plan


def _triangle_brute(sf_dir: str) -> tuple[int, int, int, int]:
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_partkey"])
    op = li.drop_duplicates()
    pair_count: dict[tuple[int, int], int] = defaultdict(int)
    for _, grp in op.groupby("l_orderkey"):
        ps = sorted(grp["l_partkey"].tolist())
        if len(ps) > MAX_BASKET:  # cap replayed from graph.py
            continue
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                pair_count[(ps[i], ps[j])] += 1
    edges = {e for e, c in pair_count.items() if c >= 2}
    adj: dict[int, set[int]] = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    tri = sum(1 for a, b in edges for c in (adj[a] & adj[b]) if c > b)
    return len(adj), len(edges), max(len(v) for v in adj.values()), tri


def test_triangle_count_matches_python_recompute(spark, sf_dir):
    row = queries()["graph_triangle_count"](spark, sf_dir).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["max_degree"], row["n_triangles"]) == _triangle_brute(sf_dir)


def test_triangle_count_no_cartesian(spark, sf_dir):
    plan = physical_plan(queries()["graph_triangle_count"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # The only nested-loop joins are the single-row stat combiners.
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan


def test_heavy_hitters_sketch_equals_exact(spark, sf_dir):
    from pyspark.sql import functions as F

    from gluettalax_spark.tables import load

    got = [(r["user_id"], r["n_events"]) for r in queries()["events_heavy_hitters_sketch"](spark, sf_dir).collect()]
    exact = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("user_id"))
        .limit(20)
        .collect()
    )
    assert got == [(r["user_id"], r["n"]) for r in exact]
    # Deterministic ordering contract: strictly sorted by (-count, user).
    assert got == sorted(got, key=lambda t: (-t[1], t[0]))


@pytest.mark.parametrize("q", ["paragraph_dedup", "graph_triangle_count"])
def test_new_ops_nonempty(spark, sf_dir, q):
    assert queries()[q](spark, sf_dir).count() > 0


def test_containment_pairs_match_python_recompute(spark, sf_dir):
    """Third-engine recompute of dedup_containment_pairs, including the
    df cap, on the fixture."""
    import pandas as pd

    from gluettalax_spark.operators.dedup import (
        CONTAINMENT_DF_CAP,
        CONTAINMENT_THRESHOLD,
    )

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    shingle_docs: dict[str, set[int]] = defaultdict(set)
    sizes: dict[int, int] = {}
    for _, row in docs.iterrows():
        toks = [t for t in re.split(r"\s+", row["text"].lower()) if t]
        shs = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        if not shs:
            continue
        sizes[row["doc_id"]] = len(shs)
        for s in shs:
            shingle_docs[s].add(row["doc_id"])
    inter: dict[tuple[int, int], int] = defaultdict(int)
    for s, ds in shingle_docs.items():
        if not (2 <= len(ds) <= CONTAINMENT_DF_CAP):
            continue
        ds = sorted(ds)
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                inter[(ds[i], ds[j])] += 1
    want = {
        (a, b, n, round(n / min(sizes[a], sizes[b]), 4))
        for (a, b), n in inter.items()
        if n / min(sizes[a], sizes[b]) >= CONTAINMENT_THRESHOLD
    }
    got = {
        (r["doc_a"], r["doc_b"], r["n_shared"], r["containment"])
        for r in queries()["dedup_containment_pairs"](spark, sf_dir).collect()
    }
    assert got == want


def test_containment_window_keyed_no_self_join(spark, sf_dir):
    """The df count must be a window over the shingle key (shingle
    lineage computed once), and candidate generation must be the bounded
    pair explode — never a shingle-table self-join or cartesian."""
    plan = physical_plan(queries()["dedup_containment_pairs"](spark, sf_dir))
    assert "windowspecdefinition(hs" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def _pagerank_brute(sf_dir: str, iters: int = 8):
    """Independent pure-Python replay of the integer-quantized power
    iteration over the same co-occurrence graph (support >= 2),
    symmetric, uniform init — mirrors graph_pagerank's e12 fixed-point
    spec exactly. Python ints, no floats anywhere: `//` on positives
    equals both engines' truncating DIV."""
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_partkey"])
    op = li.drop_duplicates()
    pair_count: dict[tuple[int, int], int] = defaultdict(int)
    for _, grp in op.groupby("l_orderkey"):
        ps = sorted(grp["l_partkey"].tolist())
        if len(ps) > MAX_BASKET:  # cap replayed from graph.py
            continue
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                pair_count[(ps[i], ps[j])] += 1
    edges = [e for e, c in pair_count.items() if c >= 2]
    nodes = sorted({n for e in edges for n in e})
    n = len(nodes)
    deg: dict[int, int] = defaultdict(int)
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    base = 150_000_000_000 // n
    r = {v: 1_000_000_000_000 // n for v in nodes}
    for _ in range(iters):
        nxt: dict[int, int] = defaultdict(int)
        for a, b in edges:
            nxt[a] += r[b] // deg[b]
            nxt[b] += r[a] // deg[a]
        r = {v: base + (85 * nxt[v]) // 100 for v in nodes}
    return {v: (r[v], deg[v]) for v in nodes}


@pytest.mark.slow  # gate tier (make gate): heavyweight recompute/replay (r13 tiering)
def test_pagerank_matches_integer_recompute(spark, sf_dir):
    want = _pagerank_brute(sf_dir)
    got = queries()["graph_pagerank"](spark, sf_dir).collect()
    assert len(got) == 20
    for row in got:
        w_rank, w_deg = want[row["part"]]
        assert row["degree"] == w_deg
        assert row["rank_e12"] == w_rank  # exact integer equality
    # The top-20 really are the global top by rank: no missed head, and
    # integer ranks make the boundary order exact (no float-tie flake).
    top_want = sorted(want.items(), key=lambda kv: (-kv[1][0], kv[0]))[:20]
    assert [r["part"] for r in got] == [v for v, _ in top_want]
    # Embedded invariant: whole-graph integer mass — floor losses keep it
    # just under 1e12, identically in the brute replay.
    want_mass = sum(v[0] for v in want.values())
    assert all(row["mass_e12"] == want_mass for row in got)
    assert 999_000_000_000 <= want_mass <= 1_000_000_000_000


@pytest.mark.slow  # gate tier (make gate): heavyweight recompute/replay (r13 tiering)
def test_pagerank_matches_duckdb_oracle(spark, sf_dir, oracle_con):
    """The whole point of the integer quantization: the 8-round fixpoint
    trajectory is now hash-exact cross-engine (VERDICT r10 task #3)."""
    from gluettalax_spark.registry import all_queries

    spec = all_queries()["graph_pagerank"]
    assert spec.oracle is not None
    got = [tuple(r) for r in queries()["graph_pagerank"](spark, sf_dir).collect()]
    want = [tuple(r) for r in oracle_con.execute(spec.oracle).fetchall()]
    assert got == want


def test_pagerank_plan_stays_one_iteration_deep(spark, sf_dir):
    """Lineage must be cut per iteration: the final plan reads the
    checkpointed previous ranks (ExistingRDD), not 8 unrolled joins."""
    plan = physical_plan(queries()["graph_pagerank"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # One rank join + one degree join at most remain visible above the
    # checkpoint boundary.
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") + plan.count("BroadcastHashJoin") <= 3, plan


def test_cc_decimal_ids_match_join_probe(spark):
    """Fractional DECIMAL node ids converge to the same components as the
    DOUBLE copy of the same graph. A probe that summed labels as
    decimal(38,0) would round 1.10..1.40 all to 1 and stop while labels
    still move; the "no label lowered" probe is exact for any ordered
    key type."""
    from pyspark.sql import functions as F

    from gluettalax_spark.operators.graph import connected_components

    chain = [("1.10", "1.20"), ("1.20", "1.30"), ("1.30", "1.40"), ("2.50", "2.60")]
    edges = spark.createDataFrame(chain, "u string, v string")
    dec = edges.select(F.col("u").cast("decimal(10,2)"), F.col("v").cast("decimal(10,2)"))
    dbl = edges.select(F.col("u").cast("double"), F.col("v").cast("double"))
    got = {(float(r.node), float(r.component)) for r in connected_components(dec).collect()}
    want = {(r.node, r.component) for r in connected_components(dbl).collect()}
    assert want == {(1.1, 1.1), (1.2, 1.1), (1.3, 1.1), (1.4, 1.1), (2.5, 2.5), (2.6, 2.5)}
    assert got == want
