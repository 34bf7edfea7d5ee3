"""Edge-case totality: reusable operators must handle empty and
degenerate inputs without crashing — the states a 100 TB pipeline WILL
hit (empty partitions after a filter, blank documents, single-node
graphs)."""

from __future__ import annotations

import pathlib
import string
from collections import Counter
from decimal import Decimal
from itertools import combinations

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


@pytest.mark.slow  # iterative CC stress (25-90 s each): gate tier (make gate)
def test_connected_components_empty_and_singleton(spark):
    from gluettalax_spark.operators.graph import connected_components

    empty = spark.createDataFrame([], "u long, v long")
    assert connected_components(empty).count() == 0

    one_edge = spark.createDataFrame([(7, 3)], "u long, v long")
    got = {(r.node, r.component) for r in connected_components(one_edge).collect()}
    assert got == {(3, 3), (7, 3)}

    self_loop = spark.createDataFrame([(5, 5)], "u long, v long")
    got = {(r.node, r.component) for r in connected_components(self_loop).collect()}
    assert got == {(5, 5)}


@pytest.mark.slow  # iterative CC stress (25-90 s each): gate tier (make gate)
def test_connected_components_chain_beyond_one_round(spark):
    """A path graph 0-1-2-...-9 needs multiple propagation rounds — the
    loop must actually iterate to the fixpoint, not stop after one."""
    from gluettalax_spark.operators.graph import connected_components

    edges = spark.createDataFrame([(i, i + 1) for i in range(9)], "u long, v long")
    labels = connected_components(edges).collect()
    assert len(labels) == 10
    assert all(r.component == 0 for r in labels)


def test_banded_interval_join_empty_sides(spark):
    from gluettalax_spark.operators.interval import banded_interval_join

    probe = spark.createDataFrame([], "event_id long, ts timestamp")
    build = spark.createDataFrame([], "err_id long, err_ts timestamp")
    assert banded_interval_join(probe, build, "ts", "err_ts", 600).count() == 0

    import datetime as dt

    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    probe2 = spark.createDataFrame([(1, t)], "event_id long, ts timestamp")
    # Build row exactly AT the band edge (600s away) must match (<=).
    build2 = spark.createDataFrame(
        [(10, t + dt.timedelta(seconds=600)), (11, t + dt.timedelta(seconds=601))],
        "err_id long, err_ts timestamp",
    )
    got = {r.err_id for r in banded_interval_join(probe2, build2, "ts", "err_ts", 600).collect()}
    assert got == {10}


def test_shingles_skip_short_and_blank_docs(spark, tmp_path):
    """Documents with <3 tokens (including blank/whitespace-only) are
    dropped by shingling, not crashed on."""
    from gluettalax_spark.operators.dedup import shingles_df

    df = spark.createDataFrame(
        [
            (1, "", "en", "s", 0),
            (2, "   ", "en", "s", 3),
            (3, "two tokens", "en", "s", 10),
            (4, "three token doc", "en", "s", 15),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = str(tmp_path / "docs")
    df.write.parquet(f"{out}/documents.parquet")
    sh = {r.doc_id: r.shingles for r in shingles_df(spark, out).collect()}
    assert set(sh) == {4}
    assert sh[4] == ["three token doc"]


def test_format_time_extremes():
    from gluettalax_spark.functions.scalars import format_time

    assert format_time(0) == "0s"
    assert format_time(0.9) == "0s"  # truncates like the reference
    assert format_time(86400 + 2 * 3600 + 3 * 60 + 4) == "1d 2h 3m 4s"
    assert format_time(-61) == "-1m -1s"
    assert format_time(59.99) == "59s"


def test_glob_to_rlike_special_chars(spark):
    """Glob translation survives regex metacharacters in table names."""
    from gluettalax_spark.functions.scalars import glob_to_rlike

    df = spark.createDataFrame(
        [("a.b-c",), ("axb-c",), ("usage_2020",), ("usage",)], "name string"
    )
    # '.' in the glob is literal, not regex-any.
    got = {r.name for r in df.filter(F.col("name").rlike(glob_to_rlike("a.b*"))).collect()}
    assert got == {"a.b-c"}
    got = {r.name for r in df.filter(F.col("name").rlike(glob_to_rlike("usage*"))).collect()}
    assert got == {"usage", "usage_2020"}


@pytest.mark.slow  # iterative CC stress (25-90 s each): gate tier (make gate)
def test_star_cc_matches_min_label(spark):
    """Large-star/small-star and min-label propagation reach the same
    fixpoint on chains (worst case for min-label), forests, and cliques."""
    from gluettalax_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    cases = [
        [(i, i + 1) for i in range(12)],                      # one long chain
        [(0, 1), (2, 3), (3, 4), (10, 11), (11, 10)],         # forest + dup edge
        [(a, b) for a in range(5) for b in range(a + 1, 5)]   # clique
        + [(20, 21)],
        [(7, 7), (1, 2)],                                     # self-loop
    ]
    for edges in cases:
        df = spark.createDataFrame(edges, "u long, v long")
        a = {(r.node, r.component) for r in connected_components(df).collect()}
        b = {(r.node, r.component) for r in connected_components_star(df).collect()}
        assert a == b, (edges, a ^ b)


@pytest.mark.slow  # iterative CC stress (25-90 s each): gate tier (make gate)
def test_cc_deep_chain_converges_in_bounded_rounds(spark):
    """Adversarial chained graph (a 200-doc path, the shape a
    templated-spam corpus produces): diameter 199 would need 199 min-label
    rounds — and the old 25-round cap silently returned WRONG labels.
    The round-count fallover must contract to the star variant and still
    produce the exact fixpoint (everything labelled 0), within the
    bounded round budget (5 min-label + O(log² n) star)."""
    from gluettalax_spark.operators import graph
    from gluettalax_spark.operators.graph import connected_components

    path = spark.createDataFrame([(i, i + 1) for i in range(199)], "u long, v long")
    got = {(r.node, r.component) for r in connected_components(path).collect()}
    assert got == {(i, 0) for i in range(200)}

    # Two chains + an isolated pair: fallover must keep components apart.
    edges = (
        [(i, i + 1) for i in range(50)]
        + [(1000 + i, 1001 + i) for i in range(50)]
        + [(5000, 5001)]
    )
    df = spark.createDataFrame(edges, "u long, v long")
    got = {(r.node, r.component) for r in connected_components(df).collect()}
    want = (
        {(i, 0) for i in range(51)}
        | {(1000 + i, 1000) for i in range(51)}
        | {(5000, 5000), (5001, 5000)}
    )
    assert got == want
    # Guard documents the budget the fallover relies on.
    assert graph._FALLOVER_ROUNDS < 25


def _union_find_components(edges):
    """Reference (node, component) pairs: component = min node reachable."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {(n, find(n)) for n in parent}


# Node i of a generated graph as each key type. The string and decimal
# keys order the nodes differently from the integer ones, and the
# decimals are fractional, so no convergence probe can lean on sums.
_CC_KEY_TYPES = {
    "long": lambda i: i * 7,
    "string": lambda i: f"n{(i * 7) % 10}",
    "decimal(10,2)": lambda i: Decimal(100 + (i * 37) % 100) / 100,
}


@settings(max_examples=6, deadline=None)
@example(kind="long", edges=[(i, i + 1) for i in range(9)])  # past the fallover budget
@given(
    kind=st.sampled_from(sorted(_CC_KEY_TYPES)),
    edges=st.lists(st.tuples(st.integers(0, 9), st.integers(0, 9)), max_size=12),
)
def test_cc_matches_union_find(spark, kind, edges):
    """Min-label propagation (and, on deep graphs, the star fallover)
    reaches the union-find components on random graphs of ≤ 10 nodes,
    self-loops and duplicate edges included, for every key type."""
    from gluettalax_spark.operators.graph import connected_components

    key = _CC_KEY_TYPES[kind]
    typed = [(key(u), key(v)) for u, v in edges]
    df = spark.createDataFrame(typed, f"u {kind}, v {kind}")
    got = {(r.node, r.component) for r in connected_components(df).collect()}
    assert got == _union_find_components(typed)


def test_cc_empty_input_job_budget(spark):
    """An empty edge frame converges on the first round's probe: no
    further rounds, no star fallover."""
    from gluettalax_spark.operators.graph import connected_components
    from tests.harness import jobs_in_group

    empty = spark.createDataFrame([], "u long, v long")
    rows = []
    jobs = jobs_in_group(spark, lambda: rows.extend(connected_components(empty).collect()))
    assert rows == []
    assert len(jobs) <= 6, jobs


# Differential tests of the vertex-state graph loops: each registered
# loop, run end to end on a co-occurrence graph written as baskets, must
# equal a pure-Python replay of its schedule. Edge (u, v) with support s
# is s two-part orders, so the support-pruned graph is exactly the drawn
# one and the support doubles as the SSSP cost's input.
_GRAPHS = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9), st.integers(2, 4)), max_size=14
).map(lambda es: {(min(u, v), max(u, v)): s for u, v, s in reversed(es) if u != v})


def _run_graph_key(spark, key, edges, partitions):
    """Rows of registered ``key`` over the weighted edge dict ``edges``
    at ``partitions`` shuffle partitions."""
    import shutil
    import tempfile

    from gluettalax_spark.registry import queries

    rows, o = [], 0
    for (u, v), s in sorted(edges.items()):
        for _ in range(s):
            rows += [(o, u, 1, 1.0), (o, v, 2, 1.0)]
            o += 1
    root = tempfile.mkdtemp(prefix="graph-diff-")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
        sf = _write_lineitem(spark, pathlib.Path(root), rows or [(0, 0, 1, 1.0)])
        return [tuple(r) for r in queries()[key](spark, sf).collect()]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
        shutil.rmtree(root, ignore_errors=True)


def _adjacency(edges):
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    return adj


_PARTITIONS = st.sampled_from([1, 7, 200])


@settings(max_examples=4, deadline=None)
@given(edges=_GRAPHS, partitions=_PARTITIONS)
def test_kcore_matches_python_peeling(spark, edges, partitions):
    """graph_kcore peels like the synchronous reference: at most
    ``_KCORE_MAX_ROUNDS`` rounds, each dropping every under-k node."""
    from gluettalax_spark.operators.graph import _KCORE_K, _KCORE_MAX_ROUNDS

    adj = _adjacency(edges)
    converged = False
    for _ in range(_KCORE_MAX_ROUNDS + 1):
        low = {n for n, ns in adj.items() if len(ns) < _KCORE_K}
        if not low:
            converged = True
            break
        adj = {n: ns - low for n, ns in adj.items() if n not in low and ns - low}
    n_edges = sum(len(ns) for ns in adj.values()) // 2
    want = [
        (n, len(ns), len(adj), n_edges, converged)
        for n, ns in sorted(adj.items(), key=lambda kv: (-len(kv[1]), kv[0]))[:20]
    ]
    assert _run_graph_key(spark, "graph_kcore", edges, partitions) == want


@settings(max_examples=4, deadline=None)
@given(edges=_GRAPHS, partitions=_PARTITIONS)
def test_bounded_sssp_matches_bellman_ford(spark, edges, partitions):
    """graph_bounded_sssp equals 4 synchronous Bellman-Ford rounds from
    the least node with integer costs 1e6 DIV support."""
    from gluettalax_spark.operators.graph import _SSSP_ROUNDS

    dist = {min(edges)[0]: 0} if edges else {}
    for _ in range(_SSSP_ROUNDS):
        nxt = dict(dist)
        for (u, v), s in edges.items():
            for a, b in ((u, v), (v, u)):
                if a in dist:
                    nxt[b] = min(nxt.get(b, dist[a] + 1_000_000 // s), dist[a] + 1_000_000 // s)
        dist = nxt
    want = sorted(dist.items(), key=lambda kv: (kv[1], kv[0]))[:20] if edges else [(None, 0)]
    assert _run_graph_key(spark, "graph_bounded_sssp", edges, partitions) == want


@settings(max_examples=4, deadline=None)
@example(edges={}, partitions=1, ansi=True)
@example(edges={}, partitions=1, ansi=False)
@given(edges=_GRAPHS, partitions=_PARTITIONS, ansi=st.booleans())
def test_lpa_and_modularity_match_python_lpa(spark, edges, partitions, ansi):
    """graph_communities_lpa and graph_modularity score the labels of 3
    synchronous rounds in which every node adopts its neighbours' most
    frequent label, ties going to the smaller label. An edgeless graph
    scores a NULL Q in either ANSI mode, as the DuckDB oracle does."""
    from gluettalax_spark.operators.graph import _LPA_ITERS

    adj = _adjacency(edges)
    lab = {n: n for n in adj}
    for _ in range(_LPA_ITERS):
        votes = {n: Counter(lab[x] for x in ns) for n, ns in adj.items()}
        lab = {n: min(c, key=lambda k: (-c[k], k)) for n, c in votes.items()}
    sizes = Counter(lab.values())
    want = sorted(sizes.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    m = len(edges)
    a = sum(lab[u] == lab[v] for u, v in edges)
    dsum = Counter()
    for n, ns in adj.items():
        dsum[lab[n]] += len(ns)
    b = sum(d * d for d in dsum.values())
    q = a / m - b / (4.0 * m * m) if m else None

    before = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", str(ansi).lower())
        assert _run_graph_key(spark, "graph_communities_lpa", edges, partitions) == want
        got = _run_graph_key(spark, "graph_modularity", edges, partitions)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", before)
    assert got == [(len(dsum), m, a, q)]


@settings(max_examples=4, deadline=None)
@given(edges=_GRAPHS, partitions=_PARTITIONS)
def test_pagerank_matches_integer_replay(spark, edges, partitions):
    """graph_pagerank equals the 8-round integer recurrence
    r' = base + (85 * sum(r DIV degree)) DIV 100."""
    from gluettalax_spark.operators.graph import _PR_ITERS, _PR_SCALE, _PR_TELEPORT_E12

    adj = _adjacency(edges)
    want = []
    if adj:
        n = len(adj)
        r = {v: _PR_SCALE // n for v in adj}
        for _ in range(_PR_ITERS):
            r = {
                v: _PR_TELEPORT_E12 // n + 85 * sum(r[x] // len(adj[x]) for x in ns) // 100
                for v, ns in adj.items()
            }
        mass = sum(r.values())
        top = sorted(r, key=lambda v: (-r[v], v))[:20]
        want = [(v, r[v], len(adj[v]), mass) for v in top]
    assert _run_graph_key(spark, "graph_pagerank", edges, partitions) == want


def _write_docs(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = str(tmp_path / "docs")
    df.write.parquet(f"{out}/documents.parquet")
    return out


def test_decontaminate_bloom_empty_eval_set(spark, tmp_path):
    """No src0 (eval) docs → empty bloom that rejects everything; the
    query returns zero rows instead of crashing on the empty collect or
    the empty verify build side."""
    from gluettalax_spark.registry import queries

    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, "alpha beta gamma delta", "en", "src5", 22),
            (2, "alpha beta gamma delta", "en", "src6", 22),
        ],
    )
    assert queries()["decontaminate_bloom"](spark, sf).count() == 0


def test_decontaminate_bloom_exact_hit(spark, tmp_path):
    """One shared shingle between eval (src0) and train must survive the
    bloom prefilter AND the exact verify."""
    from gluettalax_spark.registry import queries

    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, "alpha beta gamma", "en", "src0", 16),
            (2, "alpha beta gamma tail", "en", "src5", 21),
            (3, "totally different words here", "en", "src5", 28),
        ],
    )
    rows = queries()["decontaminate_bloom"](spark, sf).collect()
    assert [(r.source, r.n_docs_flagged, r.n_hit_shingles) for r in rows] == [("src5", 1, 1)]


def test_decontaminate_bloom_oversized_eval_refused(spark, tmp_path, monkeypatch):
    """A misconfigured eval split (more distinct shingles than the
    documented cap) must fail LOUDLY before anything is collected to the
    driver — the LIMIT cap+1 tripwire — not OOM it (VERDICT r8 finding
    #3). The cap is monkeypatched down so the fixture trips it."""
    import pytest

    from gluettalax_spark.operators import text as text_mod
    from gluettalax_spark.registry import queries

    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta", "en", "src0", 40),
            (2, "alpha beta gamma tail", "en", "src5", 21),
        ],
    )
    monkeypatch.setattr(text_mod, "_BLOOM_EVAL_SHINGLE_CAP", 2)
    with pytest.raises(ValueError, match="contractually small"):
        queries()["decontaminate_bloom"](spark, sf)


def _write_lineitem(spark, tmp_path, rows):
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long, l_linenumber long, l_extendedprice double")
    out = str(tmp_path / "li")
    df.write.parquet(f"{out}/lineitem.parquet")
    return out


@pytest.mark.slow  # gate tier (make gate): heavyweight recompute/replay (r13 tiering)
def test_graph_ops_no_qualifying_edges(spark, tmp_path):
    """Every basket pair occurs once (support < 2) → the pruned edge set
    is empty; pagerank / LPA / recursive reach / basket rules must all
    return empty, not crash on empty checkpoints or empty recursion."""
    from gluettalax_spark.registry import queries

    sf = _write_lineitem(
        spark,
        tmp_path,
        [(1, 10, 1, 5.0), (1, 11, 2, 5.0), (2, 10, 1, 5.0), (2, 12, 2, 5.0)],
    )
    for name in ("graph_pagerank", "graph_communities_lpa", "sql_recursive_reach", "basket_rules"):
        assert queries()[name](spark, sf).count() == 0, name


def test_cms_single_user_is_exact(spark, tmp_path):
    """One distinct user: the sketch can't collide with anyone, so the
    estimate must be exactly the true count (overcount 0)."""
    import datetime as dt

    from gluettalax_spark.registry import queries

    df = spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1, 0, 0, i), 42, "view", 1.0, "{}") for i in range(7)],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    out = str(tmp_path / "ev")
    df.write.parquet(f"{out}/events.parquet")
    rows = queries()["events_freq_cms"](spark, out).collect()
    assert [(r.user_id, r.n_exact, r.n_est, r.overcount) for r in rows] == [(42, 7, 7, 0)]


def test_scd2_as_of_before_any_event(spark, tmp_path):
    """Every event is after the AS-OF point → no user existed yet; the
    reconstruction is empty, not an error."""
    import datetime as dt

    from gluettalax_spark.registry import queries

    df = spark.createDataFrame(
        [(1, dt.datetime(2025, 6, 1), 1, "view", 1.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    out = str(tmp_path / "ev2")
    df.write.parquet(f"{out}/events.parquet")
    assert queries()["scd2_as_of"](spark, out).count() == 0


def test_kcore_no_qualifying_edges(spark, tmp_path):
    """Support-pruned edge set empty → empty core, converged, no crash
    on the empty degree aggregate or the early-exit probe."""
    from gluettalax_spark.registry import queries

    sf = _write_lineitem(
        spark,
        tmp_path,
        [(1, 10, 1, 5.0), (1, 11, 2, 5.0), (2, 10, 1, 5.0), (2, 12, 2, 5.0)],
    )
    assert queries()["graph_kcore"](spark, sf).count() == 0


def _write_events(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    out = str(tmp_path / "ev")
    df.write.parquet(f"{out}/events.parquet")
    return out


def test_ewma_single_event_user(spark, tmp_path):
    """n = 1 hits the degenerate fold (no shifted terms, denom 2^0): the
    EWMA must equal the value itself, exactly quantized."""
    import datetime as dt

    from gluettalax_spark.registry import queries

    sf = _write_events(spark, tmp_path, [(1, dt.datetime(2024, 1, 1), 42, "view", 3.5, "{}")])
    rows = queries()["events_user_ewma"](spark, sf).collect()
    assert [(r.user_id, r.n_used, r.ewma_micro, r.ewma) for r in rows] == [(42, 1, 3_500_000, 3.5)]


def test_drift_psi_category_in_one_half_only(spark, tmp_path):
    """A type absent from one half must yield a FINITE smoothed term —
    the Laplace +1 path, which the organic fixture never exercises."""
    import datetime as dt

    from gluettalax_spark.registry import queries

    sf = _write_events(
        spark,
        tmp_path,
        [
            (1, dt.datetime(2024, 1, 1, 0, 0, 0), 1, "alpha", 1.0, "{}"),
            (2, dt.datetime(2024, 1, 1, 10, 0, 0), 1, "beta", 1.0, "{}"),
        ],
    )
    rows = {r.event_type: r for r in queries()["events_drift_psi"](spark, sf).collect()}
    assert (rows["alpha"].c_ref, rows["alpha"].c_cur) == (1, 0)
    assert (rows["beta"].c_ref, rows["beta"].c_cur) == (0, 1)
    # Symmetric split → equal-magnitude opposite drift terms, all finite.
    assert rows["alpha"].term_e8 == rows["beta"].term_e8
    assert all(r.psi_e8_total == rows["alpha"].term_e8 * 2 for r in rows.values())


def test_cumulative_distinct_single_day(spark, tmp_path):
    import datetime as dt

    from gluettalax_spark.registry import queries

    sf = _write_events(
        spark,
        tmp_path,
        [
            (1, dt.datetime(2024, 3, 1, 5), 7, "view", 1.0, "{}"),
            (2, dt.datetime(2024, 3, 1, 9), 8, "view", 1.0, "{}"),
            (3, dt.datetime(2024, 3, 1, 9), 7, "view", 1.0, "{}"),
        ],
    )
    rows = queries()["events_cumulative_distinct_users"](spark, sf).collect()
    assert [(r.day, r.dau, r.users_to_date) for r in rows] == [("2024-03-01", 2, 2)]


def test_vocab_coverage_tiny_corpus_saturates(spark, tmp_path):
    """Vocabulary smaller than every checkpoint: all rows cover the whole
    corpus (ppm exactly 1e6) and blank docs are tolerated."""
    from gluettalax_spark.registry import queries

    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, "alpha beta beta", "en", "src1", 15),
            (2, "   ", "en", "src1", 3),
        ],
    )
    rows = queries()["text_vocab_coverage"](spark, sf).collect()
    assert len(rows) == 5
    assert all((r.n_terms, r.covered_tokens, r.total_tokens, r.coverage_ppm) == (2, 3, 3, 1_000_000) for r in rows)


def test_bigram_logppl_all_docs_too_short(spark, tmp_path):
    """Every doc under 2 tokens → no bigrams anywhere; empty result, not
    a crash on the empty count tables."""
    from gluettalax_spark.registry import queries

    sf = _write_docs(spark, tmp_path, [(1, "alpha", "en", "src1", 5), (2, "x y", "en", "src1", 3)])
    assert queries()["text_bigram_logppl"](spark, sf).count() == 0


def test_covariance_and_pca_tiny_corpus(spark, tmp_path):
    """Five vectors: covariance still emits the full upper triangle and
    PCA's identity witness holds (loose bound — tiny n, quantized cov)."""
    import numpy as np

    from gluettalax_spark.registry import queries

    rng = np.random.default_rng(7)
    vecs = [(i, [float(x) for x in rng.uniform(-0.4, 0.4, 64)], 0) for i in range(5)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>, label int")
    out = str(tmp_path / "emb")
    df.write.parquet(f"{out}/embeddings.parquet")
    cov = queries()["embedding_covariance"](spark, out).collect()
    assert len(cov) == 64 * 65 // 2
    rows = queries()["embedding_pca_project"](spark, out).collect()
    assert len(rows) == 5
    assert abs(rows[0]["var_pc1"] / rows[0]["eig1"] - 1.0) < 0.05


def test_explode_pairs_emits_each_ordered_pair_once(spark):
    """Arrays of size 0, 1, 2 and 5 give C(n, 2) pairs, each x < y."""
    from gluettalax_spark.operators.graph import explode_pairs

    arrays = {0: [], 1: [4], 2: [3, 8], 5: [1, 2, 5, 7, 9]}
    df = spark.createDataFrame(list(arrays.items()), "k long, xs array<long>")
    got = {}
    for r in explode_pairs(df, "xs", "x", "y", "k").collect():
        got.setdefault(r.k, []).append((r.x, r.y))
    for k, xs in arrays.items():
        want = list(combinations(xs, 2))
        assert sorted(got.get(k, [])) == want
        assert len(want) == k * (k - 1) // 2
        assert all(x < y for x, y in want)


def test_node_degrees_match_counter(spark):
    from gluettalax_spark.operators.graph import node_degrees

    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (3, 9), (4, 9), (1, 9)]
    df = spark.createDataFrame(edges, "pa long, pb long")
    want = Counter(n for e in edges for n in e)
    got = {r.n: r.d for r in node_degrees(df).collect()}
    assert got == dict(want)
    got = {r.node: r.c for r in node_degrees(df.toDF("a", "b"), "a", "b", "node", "c").collect()}
    assert got == dict(want)


def test_closed_wedges_k4_plus_pendant(spark):
    """K4 on 1..4 plus the pendant edge 4-5: four triangles, and the
    per-node triangle credit is 3/3/3/3/0."""
    from gluettalax_spark.operators.graph import closed_wedges, node_degrees

    edges = list(combinations([1, 2, 3, 4], 2)) + [(4, 5)]
    df = spark.createDataFrame(edges, "pa long, pb long")
    closed = closed_wedges(df, node_degrees(df)).collect()
    assert len(closed) == 4
    assert len({frozenset((r.wsrc, r.ta, r.tb)) for r in closed}) == 4
    credit = Counter(n for r in closed for n in (r.wsrc, r.ta, r.tb))
    assert [credit[n] for n in range(1, 6)] == [3, 3, 3, 3, 0]


def _capped_pairs_ref(rows, cap):
    """Python reference for dedup.capped_bucket_pairs over (key, id)
    rows: per bucket within ``cap`` every pair a < b, per bucket over it
    the star (min id, member) — a multiset, one entry per bucket."""
    buckets = {}
    for key, i in rows:
        buckets.setdefault(key, []).append(i)
    out = []
    for ids in buckets.values():
        if len(ids) <= cap:
            out += [(a, b) for a in ids for b in ids if a < b]
        else:
            out += [(min(ids), m) for m in ids if m != min(ids)]
    return sorted(out)


def test_capped_bucket_pairs_clique_and_star_with_payload(spark):
    """Bucket 1 (4 ids) is over the cap of 3 and degrades to the star
    around its min id; bucket 2 stays a clique; a singleton pairs with
    nothing. Both payload columns ride along on both ends."""
    from gluettalax_spark.operators.dedup import capped_bucket_pairs

    keyed = [(1, 5), (1, 2), (1, 9), (1, 7), (2, 3), (2, 1), (3, 4)]
    df = spark.createDataFrame(
        [(k, i, f"p{i}", i * 10) for k, i in keyed], "k long, doc_id long, p string, q long"
    )
    for cap in (3, 10):
        got = capped_bucket_pairs(df, ["k"], "doc_id", ("p", "q"), cap)
        assert got.columns == ["doc_a", "doc_b", "p_a", "p_b", "q_a", "q_b"]
        rows = [tuple(r) for r in got.collect()]
        assert sorted((a, b) for a, b, *_ in rows) == _capped_pairs_ref(keyed, cap)
        assert all(r[2:] == (f"p{r[0]}", f"p{r[1]}", r[0] * 10, r[1] * 10) for r in rows)


def test_capped_bucket_pairs_ids_in_several_buckets(spark):
    """Ids 1 and 2 share two (k1, k2) buckets and an over-cap bucket:
    one pair per shared bucket before ``distinct``, one after. Star
    payloads come from the one-row-per-id ``lookup`` frame."""
    from gluettalax_spark.operators.dedup import capped_bucket_pairs

    keyed = [((0, 1), 1), ((0, 1), 2), ((0, 2), 1), ((0, 2), 2)]
    keyed += [((1, 1), i) for i in (4, 1, 3, 2)]
    df = spark.createDataFrame(
        [(k1, k2, i, i * 7) for (k1, k2), i in keyed], "k1 long, k2 long, doc_id long, w long"
    )
    lookup = df.select("doc_id", "w").distinct()
    pairs = capped_bucket_pairs(df, ["k1", "k2"], "doc_id", ("w",), 3, lookup=lookup)
    want = _capped_pairs_ref(keyed, 3)
    assert want == [(1, 2), (1, 2), (1, 2), (1, 3), (1, 4)]
    assert sorted((r.doc_a, r.doc_b) for r in pairs.collect()) == want
    got = pairs.distinct().collect()
    assert sorted((r.doc_a, r.doc_b) for r in got) == sorted(set(want))
    assert all((r.w_a, r.w_b) == (r.doc_a * 7, r.doc_b * 7) for r in got)


def test_capped_bucket_pairs_empty_input(spark):
    from gluettalax_spark.operators.dedup import capped_bucket_pairs

    empty = spark.createDataFrame([], "bucket long, vec_id long, e double")
    got = capped_bucket_pairs(empty, ["bucket"], "vec_id", ("e",), 1)
    assert got.columns == ["vec_a", "vec_b", "e_a", "e_b"]
    assert got.count() == 0


# --------------------------------------------------------------------------
# Text primitives: each Spark builder against its DuckDB twin
# --------------------------------------------------------------------------

# Printable ASCII already holds every ASCII whitespace character, U+000B
# (vertical tab) included: Java's \s matches it, RE2's \s does not.
_TEXT_PIECES = st.one_of(
    st.sampled_from(["the", "and", "of", "to", "is", "a", "in", "The", "data", "x9", "it's"]),
    st.sampled_from(list(" \t\n\r\x0b\x0c")),
    st.text(string.printable, max_size=4),
)
_DOCS = st.lists(st.lists(_TEXT_PIECES, max_size=14).map("".join), min_size=1, max_size=6)


def _text_primitive_pairs(spark, sf_dir):
    """(name, Spark frame, DuckDB query) per shared text primitive over
    the ``documents`` table in ``sf_dir``."""
    from gluettalax_spark.operators.dedup import (
        _BPE_ISH_COUNT_DUCK,
        _NORMALIZED_DUCK,
        _SHINGLES_CTE,
        _WORD_COUNT_DUCK,
        _WS_TOKENS_DUCK,
        _tokens_col,
        bpe_ish_count,
        normalized_text,
        shingles_df,
        word_count,
    )
    from gluettalax_spark.operators.pipeline import classifier_doc_logits, duck_doc_logits
    from gluettalax_spark.operators.text import (
        _QUALITY_DUCK,
        _STOP_HITS_DUCK,
        _TERM_TOKENS_DUCK,
        STOP_COUNT_SQL,
        _quality_parts,
        term_tokens,
    )
    from gluettalax_spark.tables import load

    def per_doc(col, duck):
        spark_df = load(spark, sf_dir, "documents").select("doc_id", col.alias("v"))
        return spark_df, f"SELECT doc_id, {duck} AS v FROM documents"

    return [
        ("ws_tokens", *per_doc(_tokens_col(), _WS_TOKENS_DUCK)),
        ("term_tokens", *per_doc(term_tokens(), _TERM_TOKENS_DUCK)),
        ("word_count", *per_doc(word_count(), _WORD_COUNT_DUCK)),
        ("bpe_ish_count", *per_doc(bpe_ish_count(), _BPE_ISH_COUNT_DUCK)),
        ("normalized_text", *per_doc(normalized_text(), _NORMALIZED_DUCK)),
        ("stop_count", *per_doc(F.expr(STOP_COUNT_SQL), f"CAST({_STOP_HITS_DUCK} AS BIGINT)")),
        ("quality", *per_doc(_quality_parts()[3], _QUALITY_DUCK)),
        (
            "shingles",
            shingles_df(spark, sf_dir).select("doc_id", F.sort_array("shingles")),
            f"WITH {_SHINGLES_CTE} SELECT doc_id, list_sort(shingles) FROM sh",
        ),
        (
            "logits",
            classifier_doc_logits(spark, sf_dir),
            f"WITH {duck_doc_logits('source', n_feats=True)}"
            " SELECT doc_id, source, n_feats, logit_milli FROM logits",
        ),
    ]


def _assert_text_primitives_match(spark, texts):
    """Every text primitive's Spark builder and DuckDB fragment give the
    same sorted rows over a corpus of ``texts``."""
    import shutil
    import tempfile

    import duckdb

    root = tempfile.mkdtemp(prefix="text-diff-")
    try:
        rows = [(i, t, "en", f"s{i % 2}", len(t)) for i, t in enumerate(texts)]
        sf_dir = _write_docs(spark, pathlib.Path(root), rows)
        with duckdb.connect() as con:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
            )
            for name, spark_df, duck_sql in _text_primitive_pairs(spark, sf_dir):
                got = sorted(tuple(r) for r in spark_df.collect())
                want = sorted(con.execute(duck_sql).fetchall())
                assert got == want, name
    finally:
        shutil.rmtree(root, ignore_errors=True)


@settings(max_examples=6, deadline=None)
@example(texts=["a\x0bb c\td\x0ce", "the cat\x0bsat in a hat"], partitions=1, ansi=True)
@example(texts=["a\x0bb"], partitions=7, ansi=False)
@given(texts=_DOCS, partitions=st.sampled_from([1, 7, 200]), ansi=st.booleans())
def test_text_primitives_match_duckdb(spark, texts, partitions, ansi):
    """Tokenizers, word, BPE-ish and stop-word counts, the fingerprint
    normalization, the quality composite, the 3-gram shingles and the
    classifier logits agree with their DuckDB fragments on random ASCII
    text, whitespace runs of every kind included, at any
    shuffle-partition count and ANSI mode."""
    confs = {
        "spark.sql.shuffle.partitions": str(partitions),
        "spark.sql.ansi.enabled": str(ansi).lower(),
    }
    before = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        _assert_text_primitives_match(spark, texts)
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


@pytest.mark.xfail(
    strict=True,
    raises=AssertionError,
    reason="Spark lowercases U+0130 to 'i' + U+0307, DuckDB to plain 'i': every "
    "lowercased token differs, and the term tokenizer drops the word in Spark only",
)
def test_text_primitives_match_duckdb_dotted_capital_i(spark):
    _assert_text_primitives_match(spark, ["İst"])
