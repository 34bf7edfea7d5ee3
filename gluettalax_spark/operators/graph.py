"""Iterative graph operators — near-dup pairs → duplicate CLUSTERS.

A dedup pipeline doesn't stop at pairs: (a,b) and (b,c) must collapse into
one group with one canonical keeper. That's connected components over the
similarity graph — the canonical iterative-algorithm workload a training-
data pipeline runs after MinHash/SimHash candidate generation.

The reference has no graph code (its only iteration is service polling,
``gluettalax.py:220-224``); this is part of the LLM-pipeline extension
surface (BASELINE.json north star).

Scale design: every iterative loop here (connected components, k-core,
bounded SSSP, label propagation, PageRank) runs the same vertex-state
round, :func:`vertex_round`: one row per node carrying its adjacency and
state, exploded into its own row plus one message per neighbour, and ONE
groupBy(node) that rebuilds the adjacency and combines the messages —
one hash exchange per round, no join against an edge table, no
broadcast. :func:`run_rounds` holds the one lineage-cut policy. A
connected-components graph still unconverged after ``_FALLOVER_ROUNDS``
rounds is deep, and falls over automatically to the large-star/small-star
variant (Kiveris et al., "Connected Components in MapReduce and
Beyond"), whose round count does not grow with the diameter.
"""

from __future__ import annotations

from gluettalax_spark.memory import CKPT_LEVEL

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gluettalax_spark.operators.dedup import _NGRAM_ORACLE, dedup_ngram_jaccard
from gluettalax_spark.registry import register
from gluettalax_spark.tables import load

_MAX_ROUNDS = 25

# Min-label rounds before falling over to the large-star/small-star
# variant. Near-dup clusters are shallow (diameter ≲ 3), so the common
# case converges here at one exchange per round; a chained graph (a
# template-spam corpus produces paths, diameter ~ corpus size) would need
# DIAMETER rounds, so past this budget the remaining work is contracted
# and finished in O(log² n) star rounds instead of being truncated.
_FALLOVER_ROUNDS = 5


class _GenerationRotator:
    """Lazy localCheckpoint generations of an iterative loop, releasing
    the storage blocks of each SUPERSEDED generation.

    A loop that cuts every round keeps the blocks of EVERY past round
    alive until the py4j refs are GC'd — Spark's ContextCleaner lags a
    tight sequential loop badly enough that at sf10 the dead generations
    starve hash-aggregate execution memory (the r12 sweep's
    UNABLE_TO_ACQUIRE_MEMORY at the default 8g heap). The rotator reads
    the checkpoint RDD's id straight off the returned frame's
    ``LogicalRDD`` and, once the new generation is materialized AND the
    loop no longer references the old one, unpersists exactly the old
    generation's blocks (not a diff of the persistent-RDD ids around the
    call: that misattributes an upstream ``persist`` the lazy checkpoint
    first materializes; ADVICE r12). Unpersisting a locally-checkpointed
    RDD makes it unrecomputable — ``retire()`` only after the last read.
    Cluster analog: deleting the previous round's checkpoint files.

    Every checkpoint is lazy: its blocks register at once, but the old
    generation must stay readable until an action on the new one has
    materialized it, so the convergence probe that a loop already runs
    doubles as the materializing job (under AQE the upstream stages still
    execute at call time). A localCheckpoint truncates the LOGICAL plan,
    which a persist does not (CacheManager substitutes only at execution
    planning): a loop whose round reads its predecessor more than once
    would otherwise grow its logical tree exponentially and the driver
    dies analyzing it (observed r12: graph_kcore heap OOM at 3^rounds)."""

    def __init__(self, spark: SparkSession) -> None:
        self._jsc = spark.sparkContext._jsc
        self._live: set[int] = set()
        self._pending: set[int] = set()

    def checkpoint(self, df: DataFrame) -> DataFrame:
        out = df.localCheckpoint(eager=False, storageLevel=CKPT_LEVEL)
        # Track ONLY the checkpoint RDD this call created: the analyzed
        # plan of a checkpointed frame is a LogicalRDD over exactly the
        # persisted RDD.
        self._pending = {out._jdf.queryExecution().analyzed().rdd().id()}
        return out

    def retire(self) -> None:
        """Unpersist the PREVIOUS generation; promote the pending one."""
        rdds = self._jsc.getPersistentRDDs()
        for rid in self._live:
            jrdd = rdds.get(rid)
            if jrdd is not None:
                jrdd.unpersist(False)
        self._live = self._pending
        self._pending = set()


def vertex_state(
    edges: DataFrame, a: str = "pa", b: str = "pb", weight: str | None = None
) -> DataFrame:
    """(n, nbrs): every node of the undirected edge set ``(a, b)`` with
    its distinct neighbours — node ids, or ``struct(v, w)`` with ``w`` the
    SQL expression ``weight`` over the edge row. Both orientations
    explode from each edge row in-row, so one aggregate builds it."""

    def nbr(x: str) -> F.Column:
        if weight is None:
            return F.col(x)
        return F.struct(F.col(x).alias("v"), F.expr(weight).alias("w"))

    both = edges.select(
        F.explode(
            F.array(
                F.struct(F.col(a).alias("n"), nbr(b).alias("nbr")),
                F.struct(F.col(b).alias("n"), nbr(a).alias("nbr")),
            )
        ).alias("e")
    )
    return both.groupBy(F.col("e.n").alias("n")).agg(F.collect_set("e.nbr").alias("nbrs"))


def vertex_round(
    state: DataFrame, *combine: F.Column, own: F.Column | None = None, to: str = "m", by: tuple = ()
) -> DataFrame:
    """One message-passing round (the Pregel form) over the vertex-state
    frame ``state`` — one row per node, ``(n, nbrs, *state)``.

    ``posexplode(concat(array(own), nbrs))`` gives every node its own row
    (``i = 0``, element ``m`` = ``own``, default ``n``) and one message
    row per neighbour (``i > 0``, ``m`` = that neighbour), each carrying
    the sender's columns. ONE ``groupBy(to, *by)`` brings each node's
    rows back together, rebuilds ``nbrs`` from the own row alone
    (``collect_list`` skips the messages' NULLs; ``max(nbrs)`` would plan
    as a SortAggregate) and applies ``combine``. Result: ``(n, *by, nbrs,
    *combine)`` — one hash exchange, no join, no broadcast; the adjacency
    travels with the shuffle."""
    own_first = F.concat(F.array(F.col("n") if own is None else own), F.col("nbrs"))
    sent = state.select("*", F.posexplode(own_first).alias("i", "m"))
    return sent.groupBy(F.col(to).alias("n"), *by).agg(
        F.flatten(F.collect_list(F.when(F.col("i") == 0, F.col("nbrs")))).alias("nbrs"), *combine
    )


def run_rounds(state: DataFrame, step, rounds: int, done=None) -> tuple[DataFrame, bool]:
    """(last generation, converged): ``step`` applied to ``state`` up to
    ``rounds`` times — the one lineage-cut policy of the graph loops.

    Without ``done`` the rounds are fixed: each reads its predecessor
    once, so the chain is planned uncut and only the last generation is
    cut, once, for the callers that read it more than once. With ``done``
    the loop probes for convergence: every generation, ``state``
    included, is cut lazily through :class:`_GenerationRotator`;
    ``done(generation)`` — a full scan, since it is the job that
    materializes the cut — says whether it is a fixed point; and the
    superseded generation is released after the probe, its last read.
    ``converged`` is False only when a probing loop spent its budget."""
    rot = _GenerationRotator(state.sparkSession)
    if done is None:
        for _ in range(rounds):
            state = step(state)
        return rot.checkpoint(state), True
    state = rot.checkpoint(state)
    converged = done(state)
    rot.retire()
    for _ in range(rounds):
        if converged:
            break
        state = rot.checkpoint(step(state))
        converged = done(state)
        rot.retire()
    return state, converged


def connected_components(edges: DataFrame, src: str = "u", dst: str = "v") -> DataFrame:
    """(node, component) for every node in ``edges``; component = min node
    id reachable. Pure DataFrame iteration — no RDDs, no collect of data
    (only a 1-row convergence flag per round crosses to the driver).

    Hybrid: min-label propagation on :func:`vertex_round` — each node's
    message is its label, the combine is ``min``, and ``moved`` flags a
    label lowered this round — with a round-count guard: if the graph
    hasn't converged in ``_FALLOVER_ROUNDS`` it is DEEP, so the
    partially-collapsed graph is contracted to label space (every label =
    one supernode; edges between equal labels drop) and handed to
    :func:`connected_components_star`, whose round count is O(log² n)
    regardless of diameter. Same fixpoint either way (component = min
    reachable id); the fallover only changes which schedule reaches it."""

    def relabel(s: DataFrame) -> DataFrame:
        return vertex_round(
            s, F.min("lab").alias("lab"), F.min(F.when(F.col("i") == 0, F.col("lab"))).alias("was")
        ).select("n", "nbrs", "lab", (F.col("lab") < F.col("was")).alias("moved"))

    def settled(s: DataFrame) -> bool:
        # Min-label only ever LOWERS a label, so "no label lowered this
        # round" is exactly the fixed point, for any ordered key type (ids,
        # decimals, strings). NULL means no nodes at all: converged.
        return s.agg(F.bool_or("moved")).collect()[0][0] is not True

    # A fixed point needs the neighbours' labels, so the first probed
    # generation is the first round's.
    first = relabel(vertex_state(edges, src, dst).withColumn("lab", F.col("n")))
    state, converged = run_rounds(first, relabel, _FALLOVER_ROUNDS - 1, settled)
    labels = state.select(F.col("n").alias("node"), "lab")
    if converged:
        return labels.select("node", F.col("lab").alias("component"))
    # Deep graph: contract to label space and finish with star rounds.
    # Each partially-collapsed cluster is one supernode, so the contracted
    # edge set is no larger than the input and usually far smaller.
    contracted = (
        state.select(F.col("lab").alias("u"), F.explode("nbrs").alias("node"))
        .join(labels, "node")
        .where(F.col("u") != F.col("lab"))
        .select("u", F.col("lab").alias("v"))
        .distinct()
    )
    star = connected_components_star(contracted).selectExpr(
        "node AS lab", "component AS comp"
    )
    return labels.join(star, "lab", "left").select(
        "node", F.coalesce(F.col("comp"), F.col("lab")).alias("component")
    )


# Shared recursive-CTE prefix: near-dup pairs → transitive closure → per-doc
# min-reachable component. Used by dedup_clusters and dedup_filter_corpus.
_CC_COMP_CTES = f"""
WITH RECURSIVE {_NGRAM_ORACLE.strip().split("WITH", 1)[1].rsplit("SELECT doc_a", 1)[0].rstrip().rstrip(")").rstrip()}
),
pairs AS (
  SELECT doc_a, doc_b FROM scored WHERE jaccard >= 0.3
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
verts AS (SELECT DISTINCT u AS doc FROM edges),
reach(doc, lab) AS (
  SELECT doc, doc FROM verts
  UNION
  SELECT e.u, r.lab FROM edges e JOIN reach r ON e.v = r.doc
),
comp AS (
  SELECT doc AS doc_id, CAST(min(lab) AS BIGINT) AS component
  FROM reach GROUP BY doc
)
"""

_CC_ORACLE = f"""
{_CC_COMP_CTES}
SELECT
  c.doc_id,
  c.component,
  s.cluster_size,
  CASE WHEN c.doc_id = c.component THEN TRUE ELSE FALSE END AS is_keeper
FROM comp c
JOIN (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component) s
  USING (component)
ORDER BY c.component, c.doc_id
"""


@register(
    "dedup_clusters",
    _CC_ORACLE,
    doc="connected components over near-dup pairs → cluster id + keeper flag",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs (blocked n-gram Jaccard ≥ 0.3) → connected
    components via iterative min-label propagation. The oracle replays the
    exact semantics with a recursive CTE (transitive closure + min) —
    different algorithm, identical fixpoint, which is the point: the
    result is algorithm-independent."""
    return _cluster_rows(dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b"))


def _cluster_rows(pairs: DataFrame) -> DataFrame:
    """(doc_id, component, cluster_size, is_keeper) over near-dup
    ``(doc_a, doc_b)`` pairs, ordered by (component, doc_id): connected
    components, then the keeper (min doc_id) of each cluster."""
    from pyspark.sql.window import Window

    comp = connected_components(pairs, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), F.col("component")
    )
    # cluster_size via a window, NOT an aggregate broadcast back — the
    # per-component table grows with the data (same unbounded-broadcast
    # class as the round-1 cohort bug); one hash-partition on component
    # covers both the count and the keeper flag.
    w = Window.partitionBy("component")
    return (
        comp.withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .select(
            "doc_id",
            "component",
            "cluster_size",
            (F.col("doc_id") == F.col("component")).alias("is_keeper"),
        )
        .orderBy("component", "doc_id")
    )


_FILTER_CORPUS_ORACLE = f"""
{_CC_COMP_CTES}
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d
LEFT JOIN (SELECT doc_id FROM comp WHERE doc_id <> component) dup
  ON d.doc_id = dup.doc_id
WHERE dup.doc_id IS NULL
ORDER BY d.doc_id
"""


@register(
    "dedup_filter_corpus",
    _FILTER_CORPUS_ORACLE,
    doc="end-to-end dedup: corpus minus non-keeper near-dup cluster members",
)
def dedup_filter_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The op a training pipeline actually runs: pairs → components →
    drop every cluster member except the keeper (min doc_id), keeping the
    surviving corpus. The anti-join ships only loser doc_ids — never
    text; Spark picks broadcast vs shuffle by the loser count (a heavily
    duplicated corpus can have many losers, so no forced broadcast)."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs, "doc_a", "doc_b")
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    docs = load(spark, sf_dir, "documents")
    return (
        docs.join(losers, "doc_id", "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Large-star / small-star connected components (Kiveris et al., the
# provably-few-rounds variant promised in SCALING.md)
# --------------------------------------------------------------------------


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: every node points its LARGER neighbors at the
    minimum of its neighborhood (incl. itself)."""
    sym = edges.unionByName(edges.selectExpr("v AS u", "u AS v")).distinct()
    m = (
        sym.groupBy("u")
        .agg(F.min("v").alias("nbr_min"))
        .select("u", F.least(F.col("nbr_min"), F.col("u")).alias("m"))
    )
    return (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient each edge large→small, then every node
    rewires its smaller neighbors (and itself) to the minimum."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v")).distinct()
    m = oriented.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = oriented.join(m, "u")
    rewired = nbrs.filter(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    self_edges = m.select("u", F.col("m").alias("v"))
    return rewired.unionByName(self_edges).distinct()


def connected_components_star(edges: DataFrame, src: str = "u", dst: str = "v") -> DataFrame:
    """(node, component) via alternating large-star/small-star rounds —
    O(log² n) rounds with bounded per-node fanout, versus graph-DIAMETER
    rounds for plain min-label propagation (`connected_components`). Same
    fixpoint; tests assert equivalence. Use this variant for deep/chained
    graphs; the min-label one for shallow near-dup clusters."""
    rot = _GenerationRotator(edges.sparkSession)
    # The isEmpty probe / per-round convergence compare consume each
    # generation before retire(), so each lazy cut materializes inside the
    # probe job it already pays for.
    e = rot.checkpoint(
        edges.selectExpr(f"{src} AS u", f"{dst} AS v")
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    rot.retire()
    singletons = edges.selectExpr(f"{src} AS n").unionByName(
        edges.selectExpr(f"{dst} AS n")
    ).distinct()
    if e.rdd.isEmpty():
        return singletons.select(F.col("n").alias("node"), F.col("n").alias("component"))
    for _ in range(_MAX_ROUNDS):
        e2 = rot.checkpoint(_small_star(_large_star(e)))
        # Converged when the edge set is unchanged (both are distinct sets).
        same = e2.count() == e.count() and e2.exceptAll(e).rdd.isEmpty()
        # The convergence compare was the old generation's last read.
        rot.retire()
        e = e2
        if same:
            break
    # After convergence every edge points node → its component root.
    labels = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("node"), F.col("v").alias("component")).distinct()
    covered = labels.unionByName(roots)
    isolated = singletons.join(
        covered.select(F.col("node").alias("n")).distinct(), "n", "left_anti"
    ).select(F.col("n").alias("node"), F.col("n").alias("component"))
    return covered.unionByName(isolated).distinct()


# --------------------------------------------------------------------------
# Clusters over MinHash+LSH pairs (the production dedup chain)
# --------------------------------------------------------------------------

def _minhash_cc_oracle() -> str:
    from gluettalax_spark.operators.dedup import _MINHASH_ORACLE

    mh = _MINHASH_ORACLE.strip().removesuffix("ORDER BY doc_a, doc_b").rstrip()
    return f"""
WITH RECURSIVE mh AS (
{mh}
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM mh
  UNION
  SELECT doc_b AS u, doc_a AS v FROM mh
),
verts AS (SELECT DISTINCT u AS doc FROM edges),
reach(doc, lab) AS (
  SELECT doc, doc FROM verts
  UNION
  SELECT e.u, r.lab FROM edges e JOIN reach r ON e.v = r.doc
),
comp AS (
  SELECT doc AS doc_id, CAST(min(lab) AS BIGINT) AS component
  FROM reach GROUP BY doc
)
SELECT
  doc_id,
  component,
  CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_size,
  doc_id = component AS is_keeper
FROM comp
ORDER BY component, doc_id
"""


@register(
    "dedup_minhash_clusters",
    _minhash_cc_oracle(),
    doc="connected components over MinHash+LSH pairs (the production dedup chain)",
)
def dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chain a 100 TB corpus dedup actually runs: MinHash signatures →
    LSH band candidates → Jaccard-verified pairs → connected components →
    keeper per cluster. Same cluster tail as dedup_clusters."""
    from gluettalax_spark.operators.dedup import dedup_minhash_lsh

    return _cluster_rows(dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b"))


# --------------------------------------------------------------------------
# Triangle counting (degree-oriented wedge join)
# --------------------------------------------------------------------------

_TRI_MIN_SUPPORT = 2

# Basket-size cap for every pair-explode over per-order baskets: one
# degenerate mega-basket (a bulk order, a crawler artifact) yields
# C(n,2) pairs from a single row — quadratic work the data model never
# promised. Production market-basket pipelines drop oversized baskets
# (they carry no signal: co-occurrence in a 10k-item order is noise);
# the cap is REPLAYED in every DuckDB oracle, so it is part of the
# operator spec, not a silent divergence (the round-5 lesson). The
# fixture's widest basket is ~7, so fixture outputs are unchanged.
MAX_BASKET = 256

# Oracle fragment: orders whose DISTINCT part count is within the cap.
_DUCK_CAPPED_OP = f"""(
  SELECT o, p FROM (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem)
  WHERE o IN (
    SELECT l_orderkey FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    GROUP BY l_orderkey HAVING count(*) <= {MAX_BASKET}
  )
)"""


def explode_pairs(df: DataFrame, arr: str, a: str, b: str, *keep: str) -> DataFrame:
    """(a, b, *keep): one row per ordered pair (x, y) of the sorted array
    column ``arr``, x before y — C(n, 2) rows for an array of n, none for
    n < 2 — generated map-side from each row, with the ``keep`` columns
    of that row riding along. Over a bounded array this replaces a
    distinct + self-join (two shuffles) with none. Two code-generated
    explodes: each element x at position _i, then the elements after it."""
    xs = df.select(*keep, arr, F.posexplode(arr).alias("_i", a))
    return xs.select(a, F.explode(F.expr(f"slice({arr}, _i + 2, size({arr}))")).alias(b), *keep)


def order_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o, ps): each order's sorted distinct parts — one groupBy(order),
    bounded by items-per-order, a data-model constant. Baskets wider than
    ``MAX_BASKET`` distinct parts are dropped whole (see the cap comment
    above)."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("o"))
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .filter(F.size("ps") <= MAX_BASKET)
    )


def pair_support(baskets: DataFrame) -> DataFrame:
    """(pa, pb, support), pa < pb: the number of ``baskets`` rows whose
    ``ps`` array holds both parts."""
    return (
        explode_pairs(baskets, "ps", "pa", "pb")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("support"))
    )


def cooccurrence_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(pa, pb, support), pa < pb — the weighted part co-occurrence
    graph: parts co-ordered in >= ``_TRI_MIN_SUPPORT`` distinct orders
    (the min-support prune that keeps a basket graph sparse). One shuffle
    for the baskets, one for the pair count."""
    return pair_support(order_baskets(spark, sf_dir)).where(
        F.col("support") >= _TRI_MIN_SUPPORT
    )


def cooccurrence_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(pa, pb), pa < pb — the part co-occurrence graph of
    :func:`cooccurrence_support`, unweighted."""
    return cooccurrence_support(spark, sf_dir).select("pa", "pb")


def node_degrees(
    edges: DataFrame, a: str = "pa", b: str = "pb", n: str = "n", d: str = "d"
) -> DataFrame:
    """(n, d): how many ``edges`` rows name each node as endpoint ``a``
    or ``b``. Both endpoints explode from each edge row in-row, so the
    edge input is read once (a unionAll of the two endpoint projections
    reads — and, uncut, recomputes — it twice)."""
    return (
        edges.select(F.explode(F.array(a, b)).alias(n))
        .groupBy(n)
        .agg(F.count(F.lit(1)).alias(d))
    )


def wedge_centers(edges: DataFrame, max_deg: int) -> tuple[DataFrame, DataFrame]:
    """(deg, nbrs) of the undirected ``(pa, pb)`` edge set, the inputs
    of every common-neighbor score: ``deg`` (n, d) is each node's
    degree, ``nbrs`` (n, ns) the sorted neighbor list of each node with
    at most ``max_deg`` neighbors. A center's wedges are the pairs of
    its list (:func:`explode_pairs`), so hub centers drop out BEFORE the
    explode: their wedge fan-out is quadratic in the degree. Both come
    from one adjacency, the ``unionAll`` of the two edge orientations."""
    adj = edges.select(F.col("pa").alias("n"), F.col("pb").alias("nbr")).unionAll(
        edges.select(F.col("pb").alias("n"), F.col("pa").alias("nbr"))
    )
    deg = adj.groupBy("n").agg(F.count(F.lit(1)).cast("long").alias("d"))
    nbrs = (
        adj.groupBy("n")
        .agg(F.sort_array(F.collect_set("nbr")).alias("ns"))
        .filter(F.size("ns") <= max_deg)
    )
    return deg, nbrs


def closed_wedges(edges: DataFrame, deg: DataFrame) -> DataFrame:
    """(wsrc, ta, tb): every triangle of the undirected ``(pa, pb)`` edge
    set exactly once, as the wedge wsrc→ta, wsrc→tb at its (degree,
    id)-least vertex closed by the edge ta→tb; ``deg`` is
    ``node_degrees(edges)`` (passed in so each caller keeps its own cut
    on it).

    The MapReduce-classic degree orientation (Suri & Vassilvitskii,
    WWW'11): each edge is directed from its (degree, id)-smaller
    endpoint, so every out-degree is O(sqrt(m)) and the wedge self-join
    keyed on the oriented source is bounded by sqrt(2m) per vertex; the
    close check is an equi-semi-join on the (ta, tb) pair. The oriented
    edge table is cut because both joins read it."""
    is_fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("pa") < F.col("pb"))
    )
    ed = (
        edges.join(deg.select(F.col("n").alias("pa"), F.col("d").alias("da")), "pa")
        .join(deg.select(F.col("n").alias("pb"), F.col("d").alias("db")), "pb")
        .select(
            F.when(is_fwd, F.col("pa")).otherwise(F.col("pb")).alias("src"),
            F.when(is_fwd, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
            F.greatest("da", "db").alias("deg_dst"),
        )
        .persist(CKPT_LEVEL)
    )
    # Two out-neighbours of the same src, ordered by (degree, id) so the
    # closing edge between them is oriented ta → tb.
    w1, w2 = ed.alias("w1"), ed.alias("w2")
    wedges = w1.join(
        w2,
        (F.col("w1.src") == F.col("w2.src"))
        & (
            (F.col("w1.deg_dst") < F.col("w2.deg_dst"))
            | (
                (F.col("w1.deg_dst") == F.col("w2.deg_dst"))
                & (F.col("w1.dst") < F.col("w2.dst"))
            )
        ),
    ).select(
        F.col("w1.src").alias("wsrc"), F.col("w1.dst").alias("ta"), F.col("w2.dst").alias("tb")
    )
    return wedges.join(
        ed.select(F.col("src").alias("ta"), F.col("dst").alias("tb")), ["ta", "tb"], "leftsemi"
    )


_TRIANGLE_ORACLE = f"""
WITH op AS (
  SELECT o, p FROM {_DUCK_CAPPED_OP}
), e AS (
  SELECT a.p AS pa, b.p AS pb
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
  GROUP BY a.p, b.p
  HAVING count(*) >= {_TRI_MIN_SUPPORT}
), deg AS (
  SELECT n, count(*) AS d FROM (
    SELECT pa AS n FROM e UNION ALL SELECT pb AS n FROM e
  ) GROUP BY n
)
SELECT
  CAST((SELECT count(*) FROM deg) AS BIGINT)                    AS n_nodes,
  CAST((SELECT count(*) FROM e) AS BIGINT)                      AS n_edges,
  CAST((SELECT max(d) FROM deg) AS BIGINT)                      AS max_degree,
  CAST((SELECT count(*)
        FROM e x JOIN e y ON y.pa = x.pb
               JOIN e z ON z.pa = x.pa AND z.pb = y.pb) AS BIGINT) AS n_triangles
"""


@register(
    "graph_triangle_count",
    _TRIANGLE_ORACLE,
    doc="triangle count on the part co-occurrence graph (degree-oriented wedge join)",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle counting over the part co-occurrence graph (parts
    co-ordered in >= 2 distinct orders — the min-support prune that keeps
    a basket graph sparse), via the degree-oriented wedge join of
    :func:`closed_wedges`: every triangle is counted exactly once — as
    the wedge at its (degree, id)-minimum vertex closed by the oriented
    edge between the two out-neighbors.

    Scale shape: pair generation explodes map-side from the capped
    per-order baskets (never all-pairs over parts); support>=2 prunes the
    edge set; the wedge self-join's fan-out is bounded by sqrt(2m). The
    ORACLE counts the same triangles via the orientation-invariant
    id-ordered 3-way join, so the compare also proves the orientation
    math. Everything is integer-exact."""
    # Cut lineage: the edge set feeds four consumers (deg, orientation,
    # wedge join, close join) — recomputing the basket explode per
    # consumer would dominate the runtime.
    edges = cooccurrence_edges(spark, sf_dir).persist(CKPT_LEVEL)
    deg = node_degrees(edges)
    closed = closed_wedges(edges, deg)

    n_tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"), F.max("d").alias("max_degree")
    ).crossJoin(edges.agg(F.count(F.lit(1)).alias("n_edges")))
    # Both sides of each crossJoin are single-row aggregates.
    return stats.crossJoin(n_tri).select("n_nodes", "n_edges", "max_degree", "n_triangles")


# --------------------------------------------------------------------------
# PageRank (iterative; the genuinely non-SQL-expressible graph op)
# --------------------------------------------------------------------------

_PR_ITERS = 8
_PR_TOPK = 20
# Fixed-point arithmetic for the rank vector: ranks live in integer
# units of 1e-12 ("e12"), damping 0.85 is the exact rational 85/100, and
# every division is an integer DIV — so all 8 rounds are EXACT integer
# recurrences both engines replay bit-identically, the same unrolled-
# integer-rounds trick that made HITS and k-core oracle-checkable
# (VERDICT r10 "what's missing" #2: float PageRank was the last
# fixed-point op still on a rows-only contract).
_PR_SCALE = 1_000_000_000_000  # 1e12: r0 = SCALE // n
_PR_TELEPORT_E12 = 150_000_000_000  # 0.15 * SCALE: base = this // n


def _pagerank_round_sql(i: int) -> str:
    """One unrolled PageRank round as a DuckDB CTE: the SAME integer
    recurrence the Spark loop computes —
    r_{i}(v) = base + (85 * Σ_{u→v} (r_{i-1}(u) // d_u)) // 100."""
    return f"""r{i} AS MATERIALIZED (
  SELECT adj.dst AS n,
         CAST(nn.base + (85 * sum(r{i - 1}.r // adj.d_src)) // 100 AS BIGINT) AS r
  FROM adj JOIN r{i - 1} ON r{i - 1}.n = adj.src, nn
  GROUP BY adj.dst, nn.base
)"""


_PR_ROUNDS_SQL = ",\n".join(_pagerank_round_sql(i) for i in range(1, _PR_ITERS + 1))

_PAGERANK_ORACLE = f"""
WITH op AS MATERIALIZED (SELECT o, p FROM {_DUCK_CAPPED_OP}),
e AS MATERIALIZED (
  SELECT a.p AS pa, b.p AS pb FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING count(*) >= {_TRI_MIN_SUPPORT}
),
sym AS MATERIALIZED (
  SELECT pa AS src, pb AS dst FROM e UNION ALL SELECT pb AS src, pa AS dst FROM e
),
deg AS MATERIALIZED (SELECT src AS n, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY src),
adj AS MATERIALIZED (
  SELECT sym.src, sym.dst, deg.d AS d_src FROM sym JOIN deg ON deg.n = sym.src
),
nn AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST({_PR_TELEPORT_E12} // count(*) AS BIGINT) AS base
  FROM deg
),
r0 AS MATERIALIZED (
  SELECT deg.n, CAST({_PR_SCALE} // nn.n AS BIGINT) AS r FROM deg, nn
),
{_PR_ROUNDS_SQL},
mass AS (SELECT CAST(sum(r) AS BIGINT) AS mass_e12 FROM r{_PR_ITERS})
SELECT r{_PR_ITERS}.n AS part, r{_PR_ITERS}.r AS rank_e12, deg.d AS degree, mass.mass_e12
FROM r{_PR_ITERS} JOIN deg ON deg.n = r{_PR_ITERS}.n, mass
ORDER BY rank_e12 DESC, part
LIMIT {_PR_TOPK}
"""


@register(
    "graph_pagerank",
    _PAGERANK_ORACLE,
    doc=f"PageRank ({_PR_ITERS} unrolled integer-quantized rounds, d=85/100) on the "
    f"part co-occurrence graph, top-{_PR_TOPK} (oracle-exact: fixed-point e12 "
    "arithmetic, every round an integer recurrence both engines replay)",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-iteration PageRank over the undirected part co-occurrence
    graph (every edge contributes both directions, so out-degree =
    degree and there are no dangling nodes by construction — every node
    has degree >= 1).

    Exactness: ranks are int64 fixed-point at 1e-12 — r0 = SCALE DIV n,
    each round r' = (0.15·SCALE DIV n) + (85 · Σ floor(r/d)) DIV 100 —
    so the whole 8-round trajectory is exact integer arithmetic, and the
    DuckDB oracle unrolls the identical recurrence as 8 MATERIALIZED
    CTEs (the `graph_hits_bipartite`/`graph_kcore` discipline). The
    whole-graph mass total rides along as an exact integer column:
    floor losses keep it slightly under SCALE, identically on both
    engines.

    Scale shape: :func:`vertex_round` over (n, nbrs, r); a node's message
    to each neighbour is r DIV size(nbrs) and the combine is their sum.
    The rounds are fixed, so :func:`run_rounds` cuts once, after the
    last: the mass and the top-k both read the final ranks.
    """
    nodes = vertex_state(cooccurrence_edges(spark, sf_dir)).persist(CKPT_LEVEL)

    n_nodes = nodes.count()
    if n_nodes == 0:
        # Support-pruned graph can be empty; an empty result beats a
        # divide-by-zero in the teleport term.
        return spark.createDataFrame([], "part long, rank_e12 long, degree long, mass_e12 long")
    base = _PR_TELEPORT_E12 // n_nodes

    def step(s: DataFrame) -> DataFrame:
        share = F.when(F.col("i") > 0, F.expr("r DIV size(nbrs)"))
        return vertex_round(s, F.sum(share).alias("in_sum")).select(
            "n", "nbrs", (F.lit(base) + F.expr("(85 * in_sum) DIV 100")).cast("long").alias("r")
        )

    state = nodes.select("n", "nbrs", F.lit(_PR_SCALE // n_nodes).cast("long").alias("r"))
    ranks, _ = run_rounds(state, step, _PR_ITERS)

    mass = ranks.agg(F.sum("r").cast("long").alias("mass_e12"))
    return (
        ranks.select(
            F.col("n").alias("part"),
            F.col("r").alias("rank_e12"),
            F.size("nbrs").cast("long").alias("degree"),
        )
        .orderBy(F.desc("rank_e12"), F.asc("part"))
        .limit(_PR_TOPK)
        .crossJoin(F.broadcast(mass))
        .orderBy(F.desc("rank_e12"), F.asc("part"))
    )


# --------------------------------------------------------------------------
# Label propagation communities (fixed synchronous iterations, oracle-exact)
# --------------------------------------------------------------------------

_LPA_ITERS = 3
_LPA_TOPK = 20


def _lpa_cte_prefix() -> str:
    """Unrolled DuckDB replay of the synchronous label-propagation rounds:
    each iteration is the SAME join + count + (count desc, label asc)
    argmax the Spark side computes — deterministic integer math, so the
    compare is hash-exact. Returns the WITH-chain ending at the final
    ``lab{_LPA_ITERS}`` CTE plus ``edges``/``e0`` for reuse; callers
    append their own final SELECT (community sizes, modularity, ...)."""
    parts = [
        f"""WITH op AS MATERIALIZED (SELECT o, p FROM {_DUCK_CAPPED_OP}),
e0 AS MATERIALIZED (
  SELECT a.p AS pa, b.p AS pb FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING count(*) >= {_TRI_MIN_SUPPORT}
),
edges AS MATERIALIZED (SELECT pa AS u, pb AS v FROM e0 UNION ALL SELECT pb AS u, pa AS v FROM e0),
lab0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS lab FROM edges)"""
    ]
    cur = "lab0"
    for i in range(1, _LPA_ITERS + 1):
        parts.append(
            f""",
agg{i} AS MATERIALIZED (
  SELECT e.u AS node, l.lab, count(*) AS c
  FROM edges e JOIN {cur} l ON l.node = e.v GROUP BY 1, 2
),
lab{i} AS MATERIALIZED (
  SELECT node, lab FROM (
    SELECT node, lab, row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn
    FROM agg{i}
  ) WHERE rn = 1
)"""
        )
        cur = f"lab{i}"
    return "".join(parts)


def _lpa_oracle() -> str:
    return (
        _lpa_cte_prefix()
        + f"""
SELECT lab AS community, CAST(count(*) AS BIGINT) AS n_members
FROM lab{_LPA_ITERS} GROUP BY lab ORDER BY n_members DESC, community LIMIT {_LPA_TOPK}"""
    )


def _lpa_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n, nbrs, lab): the final LPA labels with each node's adjacency —
    the round documented on :func:`graph_communities_lpa`; shared with
    :func:`graph_modularity` so both score the same labeling."""

    def relabel(s: DataFrame) -> DataFrame:
        # Count each (node, neighbour label) — the own row lands in the
        # NULL-vote group with the adjacency — then take the argmax as
        # min(struct(-count, label)): ties go to the smaller label.
        votes = vertex_round(
            s, F.count(F.lit(1)).alias("c"), by=(F.when(F.col("i") > 0, F.col("lab")).alias("vote"),)
        )
        best = F.struct((-F.col("c")).alias("nc"), F.col("vote").alias("l"))
        return votes.groupBy("n").agg(
            F.flatten(F.collect_list("nbrs")).alias("nbrs"),
            F.min(F.when(F.col("vote").isNotNull(), best)).alias("best"),
        ).select("n", "nbrs", F.col("best.l").alias("lab"))

    nodes = vertex_state(cooccurrence_edges(spark, sf_dir)).withColumn("lab", F.col("n"))
    return run_rounds(nodes, relabel, _LPA_ITERS)[0]


@register(
    "graph_communities_lpa",
    _lpa_oracle(),
    doc=f"label-propagation communities ({_LPA_ITERS} synchronous rounds), top-{_LPA_TOPK} by size",
)
def graph_communities_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation on the part
    co-occurrence graph: every node starts as its own label; each round
    it adopts the most frequent label among its NEIGHBORS, ties broken by
    the smaller label — a fully deterministic spec, so unlike classic
    randomized LPA the result is reproducible and the DuckDB oracle
    replays all 3 rounds unrolled (fixed iteration count is what keeps
    this SQL-expressible — contrast `graph_pagerank`, whose fixpoint is
    rows-only).

    Scale shape: each round is one :func:`vertex_round` — every node
    sends its label to its neighbours, grouped by (node, label) into
    counts — and one more groupBy(node) that folds the argmax into a
    single min(struct(-count, label)) aggregate while the adjacency rides
    along: two aggregates, no join, no window. The 3 rounds are fixed,
    so the plan is planned uncut and cut once, after the last round.
    """
    return (
        _lpa_labels(spark, sf_dir)
        .groupBy(F.col("lab").alias("community"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy(F.desc("n_members"), F.asc("community"))
        .limit(_LPA_TOPK)
    )


def _modularity_oracle() -> str:
    n = _LPA_ITERS
    return (
        _lpa_cte_prefix()
        + f""",
deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY u),
intra AS (
  SELECT CAST(count(*) AS BIGINT) AS a
  FROM e0 JOIN lab{n} la ON la.node = e0.pa JOIN lab{n} lb ON lb.node = e0.pb
  WHERE la.lab = lb.lab
),
dc AS (
  SELECT l.lab, CAST(sum(d.d) AS HUGEINT) AS dsum
  FROM deg d JOIN lab{n} l ON l.node = d.node GROUP BY l.lab
),
mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
bs AS (SELECT CAST(count(*) AS BIGINT) AS n_communities,
              CAST(sum(dsum * dsum) AS HUGEINT) AS b FROM dc)
SELECT n_communities,
       m AS m_edges,
       a AS intra_edges,
       CAST(a AS DOUBLE) / m
         - CAST(b AS DOUBLE) / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE))
         AS modularity
FROM mm, intra, bs"""
    )


@register(
    "graph_modularity",
    _modularity_oracle(),
    doc=f"Newman modularity Q of the {_LPA_ITERS}-round LPA communities",
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality score of the LPA partition (Newman & Girvan 2004):
    ``Q = Σ_c [L_c/m − (d_c/2m)²] = A/m − B/4m²`` with ``A`` = intra-
    community edges and ``B = Σ_c d_c²`` — two integer moments (B in
    DECIMAL(38,0)), then ONE double expression, so the score is exact
    cross-engine. The curation use: decide whether a community structure
    (e.g. near-dup clusters, topical buckets) is real before sharding by
    it.

    Scale shape: everything reads the final LPA state, whose adjacency
    gives each node's degree. ``A`` is one more :func:`vertex_round`
    grouped by (node, label): the own row meets the neighbours that share
    its label, so it counts each intra edge from both ends. ``B`` and
    ``m`` are a groupBy(label) of the degrees; the 1-row aggregates meet
    in a broadcast crossJoin — nothing exceeds one row per community."""
    labels = _lpa_labels(spark, sf_dir)
    same = vertex_round(
        labels,
        F.count(F.when(F.col("i") > 0, 1)).alias("c"),
        F.bool_or(F.col("i") == 0).alias("home"),
        by=(F.col("lab"),),
    )
    intra = same.where("home").agg(F.expr("CAST(coalesce(sum(c), 0) DIV 2 AS BIGINT)").alias("a"))
    dc = labels.groupBy("lab").agg(F.sum(F.size("nbrs")).cast("decimal(38,0)").alias("dsum"))
    bs = dc.agg(
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        F.sum(F.col("dsum") * F.col("dsum")).alias("b"),
        F.expr("CAST(coalesce(sum(dsum), 0) DIV 2 AS BIGINT)").alias("m"),
    )
    return (
        bs.crossJoin(F.broadcast(intra))
        .selectExpr(
            "n_communities",
            "m AS m_edges",
            "a AS intra_edges",
            """CAST(a AS DOUBLE) / m
               - CAST(b AS DOUBLE) / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE))
               AS modularity""",
        )
    )


# --------------------------------------------------------------------------
# Recursive CTE reachability (Spark 4 WITH RECURSIVE, oracle-exact)
# --------------------------------------------------------------------------

_REACH_DEPTH = 3
_REACH_TOPK = 20

# Shared recursion body; {edges} is the support-pruned oriented edge
# relation — on the Spark side a temp view over the CHECKPOINTED
# cooccurrence_edges (Spark's UnionLoop re-evaluates every CTE the
# recursive step references on each level, so an unmaterialized edge
# definition would re-run the basket join per level — measured 3×
# slower); in the DuckDB oracle the same edge set is inlined as CTEs.
# Spark 4 recursive CTEs support UNION ALL only, so the recursion
# enumerates depth-capped PATHS over the ORIENTED (pa < pb, hence
# acyclic) edge set and dedupes outside — the depth cap is what bounds
# the path fan-out, exactly how production bounds open-ended recursion.
_REACH_SQL = f"""
WITH RECURSIVE
reach(root, node, depth) AS (
  SELECT pa AS root, pb AS node, 1 AS depth FROM {{edges}}
  UNION ALL
  SELECT r.root, e.pb AS node, r.depth + 1 AS depth
  FROM reach r JOIN {{edges}} e ON e.pa = r.node
  WHERE r.depth < {_REACH_DEPTH}
)
SELECT root, CAST(count(DISTINCT node) AS BIGINT) AS n_reach
FROM reach
GROUP BY root
ORDER BY n_reach DESC, root
LIMIT {_REACH_TOPK}
"""

_REACH_ORACLE_EDGES = f"""(
  WITH base AS (SELECT o, p FROM {_DUCK_CAPPED_OP})
  SELECT a.p AS pa, b.p AS pb
  FROM base a JOIN base b ON a.o = b.o AND a.p < b.p
  GROUP BY a.p, b.p HAVING count(*) >= {_TRI_MIN_SUPPORT}
)"""


@register(
    "sql_recursive_reach",
    _REACH_SQL.format(edges=_REACH_ORACLE_EDGES),
    doc=f"WITH RECURSIVE reachability (≤{_REACH_DEPTH} oriented hops) on the co-occurrence DAG, top-{_REACH_TOPK}",
)
def sql_recursive_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 recursive CTE, exercised end-to-end: parts reachable
    within ≤3 hops along the ORIENTED co-occurrence edge set (pa < pb
    makes the graph a DAG, so UNION ALL recursion terminates), top-20
    roots by distinct reach. The SAME SQL text runs on both engines —
    Spark executes the recursion in Catalyst (UnionLoop), DuckDB replays
    it with its own recursive CTE machinery, and the result is
    deterministic integer math, so the compare is hash-exact.

    Scale shape: each recursion level is one equi-join of the frontier
    against the edge set (the same per-round join every hand-rolled loop
    in this module does — CC, LPA); the depth cap bounds the
    path fan-out at out-degree^depth over a support-pruned sparse graph.
    The engine-level win being demonstrated: the loop lives INSIDE one
    declarative query (no driver-side iteration, no per-round checkpoint
    management), which is the right tool when the recursion is shallow
    and bounded. The edge SET is materialized once behind a temp view
    (see the comment on ``_REACH_SQL``) — the recursion itself is what
    runs in Catalyst."""
    edges = cooccurrence_edges(spark, sf_dir).persist(CKPT_LEVEL)
    edges.createOrReplaceTempView("gx_reach_edges")
    return spark.sql(_REACH_SQL.format(edges="gx_reach_edges"))


# --------------------------------------------------------------------------
# Quality-aware dedup: keep the BEST document per near-dup cluster
# --------------------------------------------------------------------------

_KEEP_BEST_ORACLE = f"""
{_CC_COMP_CTES}
SELECT c.component,
       CAST(count(*) AS BIGINT) AS cluster_size,
       CAST(min(CASE WHEN rnk = 1 THEN c.doc_id END) AS BIGINT) AS keeper_id,
       CAST(min(CASE WHEN rnk = 1 THEN n_chars END) AS BIGINT) AS keeper_chars
FROM (
  SELECT c.doc_id, c.component, d.n_chars,
         row_number() OVER (
           PARTITION BY c.component ORDER BY d.n_chars DESC, c.doc_id
         ) AS rnk
  FROM comp c JOIN documents d USING (doc_id)
) c
GROUP BY c.component
ORDER BY c.component
"""


@register(
    "dedup_keep_best",
    _KEEP_BEST_ORACLE,
    doc="near-dup clusters keeping the HIGHEST-QUALITY member (longest doc, tie min id)",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonicalization: production dedup keeps the BEST
    member of each near-dup cluster, not the smallest id — here best =
    longest document (``n_chars``; swap in any deterministic quality
    score), ties broken by min doc_id so the choice is reproducible.

    Composition of existing primitives: n-gram Jaccard pairs → connected
    components (iterative min-label) → one argmax per cluster, folded
    into a single ``min(struct(-n_chars, doc_id))`` aggregate on the
    component key (the same no-window argmax as `graph_communities_lpa`
    — the shuffle carries (component, two longs), and nothing funnels
    through one task). The oracle replays the full chain: recursive-CTE
    closure + ANSI row_number argmax."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), "component"
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return (
        comp.join(docs, "doc_id")
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min(
                F.struct(
                    (-F.col("n_chars")).alias("neg"), F.col("doc_id").alias("id")
                )
            ).alias("best"),
        )
        .select(
            "component",
            "cluster_size",
            F.col("best.id").alias("keeper_id"),
            (-F.col("best.neg")).alias("keeper_chars"),
        )
        .orderBy("component")
    )


# --------------------------------------------------------------------------
# k-core decomposition (bounded synchronous peeling, oracle-exact)
# --------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_MAX_ROUNDS = 12
_KCORE_TOPK = 20


def _kcore_oracle() -> str:
    """Unrolled DuckDB replay of the synchronous peeling rounds: each
    round recomputes degrees and drops every node below k — identical,
    idempotent-after-convergence integer filtering on both engines, so
    a fixed round budget keeps the fixpoint SQL-expressible (the same
    unroll trick as `graph_communities_lpa`). Every per-round CTE is
    MATERIALIZED: each round references the previous edge set three
    times, so DuckDB's default inline-on-reference would re-expand the
    chain ~3^rounds times (observed as a too-many-open-files explosion
    on the base parquet scan)."""
    parts = [
        f"""WITH op AS MATERIALIZED (SELECT o, p FROM {_DUCK_CAPPED_OP}),
e0 AS MATERIALIZED (
  SELECT a.p AS pa, b.p AS pb FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING count(*) >= {_TRI_MIN_SUPPORT}
)"""
    ]
    cur = "e0"
    for i in range(1, _KCORE_MAX_ROUNDS + 1):
        parts.append(
            f""",
deg{i} AS MATERIALIZED (
  SELECT n, count(*) AS d FROM (
    SELECT pa AS n FROM {cur} UNION ALL SELECT pb AS n FROM {cur}
  ) GROUP BY n
),
keep{i} AS (SELECT n FROM deg{i} WHERE d >= {_KCORE_K}),
e{i} AS MATERIALIZED (
  SELECT pa, pb FROM {cur}
  WHERE pa IN (SELECT n FROM keep{i}) AND pb IN (SELECT n FROM keep{i})
)"""
        )
        cur = f"e{i}"
    parts.append(
        f""",
core_deg AS (
  SELECT n, count(*) AS d FROM (
    SELECT pa AS n FROM {cur} UNION ALL SELECT pb AS n FROM {cur}
  ) GROUP BY n
),
totals AS (
  SELECT
    CAST(count(*) AS BIGINT)                                    AS n_core_nodes,
    CAST((SELECT count(*) FROM {cur}) AS BIGINT)                AS n_core_edges,
    coalesce(min(d) >= {_KCORE_K}, TRUE)                        AS converged
  FROM core_deg
)
SELECT cd.n AS node, CAST(cd.d AS BIGINT) AS core_degree,
       t.n_core_nodes, t.n_core_edges, t.converged
FROM core_deg cd CROSS JOIN totals t
ORDER BY core_degree DESC, node
LIMIT {_KCORE_TOPK}"""
    )
    return "".join(parts)


@register(
    "graph_kcore",
    _kcore_oracle(),
    doc=f"{_KCORE_K}-core decomposition (synchronous peeling, <= {_KCORE_MAX_ROUNDS} rounds), top-{_KCORE_TOPK} by in-core degree",
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition of the part co-occurrence graph: repeatedly
    remove every node with degree < k until none remain — the standard
    density filter that strips pendant/tree structure before community or
    cohesion analysis (and, in a dedup pipeline, isolates the tightly
    inter-duplicated core of a template-spam cluster).

    Determinism contract: both engines run the SAME bounded synchronous
    schedule — at most ``_KCORE_MAX_ROUNDS`` peel rounds, each dropping
    ALL currently-under-k nodes at once. Peeling is idempotent after
    convergence, so the unrolled DuckDB oracle (fixed rounds) and the
    Spark loop (early exit once a round removes nothing — the remaining
    oracle rounds are no-ops) land on the same edge set; a ``converged``
    flag rides along so a round-budget truncation is visible in the
    output rather than silent. Output: top-k core members by in-core
    degree plus 1-row totals.

    Scale shape: each peel round is one :func:`vertex_round` — a node
    with fewer than k neighbours sends its id to each of them and drops
    out, the survivors ``array_except`` the senders from their adjacency,
    and a node left with no neighbours leaves too, as it does from an
    edge list. The probe is one aggregate over each generation, the job
    that materializes its cut: the least degree answers convergence, and
    the last one's node and edge counts are the output's totals. Synchronous peeling
    needs O(peel-depth) rounds — the distributed-k-core default
    (Montresor et al.); degeneracy-ordering variants trade more machinery
    for fewer rounds."""
    low = F.size("nbrs") < _KCORE_K

    def peel(s: DataFrame) -> DataFrame:
        return (
            vertex_round(
                s,
                F.collect_list(F.when((F.col("i") > 0) & low, F.col("n"))).alias("gone"),
                F.max(F.when(F.col("i") == 0, low)).alias("low"),
            )
            .where(~F.col("low"))
            .select("n", F.array_except("nbrs", "gone").alias("nbrs"))
            .where(F.size("nbrs") > 0)
        )

    probes = []  # per generation: (least degree, nodes, directed edges)

    def peeled(s: DataFrame) -> bool:
        size = F.size("nbrs")
        probes.append(s.agg(F.min(size), F.count(F.lit(1)), F.sum(size)).collect()[0])
        return probes[-1][0] is None or probes[-1][0] >= _KCORE_K

    adj = vertex_state(cooccurrence_edges(spark, sf_dir))
    core, converged = run_rounds(adj, peel, _KCORE_MAX_ROUNDS, peeled)
    # The last probe already counted the core: its totals ride as
    # literals, and an empty core plans no job at all (LIMIT 0).
    _, n_nodes, n_dir_edges = probes[-1]
    return (
        core.select(
            F.col("n").alias("node"),
            F.size("nbrs").cast("long").alias("core_degree"),
            F.lit(n_nodes).cast("long").alias("n_core_nodes"),
            F.lit((n_dir_edges or 0) // 2).cast("long").alias("n_core_edges"),
            F.lit(converged).alias("converged"),
        )
        .orderBy(F.desc("core_degree"), F.asc("node"))
        .limit(_KCORE_TOPK if n_nodes else 0)
    )


# --------------------------------------------------------------------------
# Link prediction (common-neighbor Jaccard over non-edges)
# --------------------------------------------------------------------------

_LINKPRED_MAX_DEG = 256  # hubs past this degree don't generate wedges
_LINKPRED_TOPK = 20

_LINKPRED_ORACLE = f"""
WITH op AS (
  SELECT o, p FROM {_DUCK_CAPPED_OP}
), e AS (
  SELECT a.p AS pa, b.p AS pb
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
  GROUP BY a.p, b.p
  HAVING count(*) >= {_TRI_MIN_SUPPORT}
), adj AS (
  SELECT pa AS n, pb AS nbr FROM e UNION ALL SELECT pb AS n, pa AS nbr FROM e
), deg AS (
  SELECT n, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY n
), wedges AS (
  SELECT x.nbr AS a, y.nbr AS b, CAST(count(*) AS BIGINT) AS common_neighbors
  FROM adj x
  JOIN adj y ON x.n = y.n AND x.nbr < y.nbr
  JOIN deg dc ON dc.n = x.n AND dc.d <= {_LINKPRED_MAX_DEG}
  GROUP BY x.nbr, y.nbr
), cand AS (
  SELECT w.a, w.b, w.common_neighbors FROM wedges w
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.pa = w.a AND e.pb = w.b)
)
SELECT
  c.a                                                             AS node_a,
  c.b                                                             AS node_b,
  c.common_neighbors,
  da.d                                                            AS deg_a,
  db.d                                                            AS deg_b,
  round(CAST(c.common_neighbors AS DOUBLE)
        / (da.d + db.d - c.common_neighbors), 6)                  AS jaccard
FROM cand c
JOIN deg da ON da.n = c.a
JOIN deg db ON db.n = c.b
ORDER BY jaccard DESC, node_a, node_b
LIMIT {_LINKPRED_TOPK}
"""


@register(
    "graph_jaccard_linkpred",
    _LINKPRED_ORACLE,
    doc=f"top-{_LINKPRED_TOPK} predicted links by common-neighbor Jaccard (non-edges only)",
)
def graph_jaccard_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the part co-occurrence graph: for every
    non-adjacent pair with at least one common neighbor, score the pair
    by neighbor-set Jaccard |N(a) INTERSECT N(b)| / |N(a) UNION N(b)|
    (Liben-Nowell & Kleinberg, CIKM'03 — the classic unsupervised
    link-prediction baseline) and return the top-20 predicted links.

    Scale shape: common-neighbor counts come from WEDGES — each node
    emits its neighbor pairs map-side from one sorted adjacency array
    (the same single-shuffle basket-explode discipline as triangle
    count; no self-join of the corpus). Wedge fan-out is sum(deg^2)
    over wedge CENTERS, so hubs past ``_LINKPRED_MAX_DEG`` neighbors
    are excluded from serving as centers — the standard heavy-hitter
    guard in similarity joins (a hub's wedge set is quadratic in its
    degree while its Jaccard contribution tends to zero: the union term
    grows with the hub's degree too). The cap changes outputs, so the
    ORACLE replays it — cap semantics are part of the operator spec.
    Candidate pairs anti-join the edge set (predictions must be
    NON-edges), degrees join on the node key (never broadcast — the
    degree table grows with the graph), the Jaccard division is
    IEEE-deterministic from exact integer counts, and top-k is
    TakeOrderedAndProject."""
    edges = cooccurrence_edges(spark, sf_dir).persist(CKPT_LEVEL)
    res = jaccard_linkpred_scores(edges, max_deg=_LINKPRED_MAX_DEG)
    return res.orderBy(F.desc("jaccard"), "node_a", "node_b").limit(_LINKPRED_TOPK)


def jaccard_linkpred_scores(edges: DataFrame, max_deg: int = _LINKPRED_MAX_DEG) -> DataFrame:
    """Common-neighbor Jaccard for every non-adjacent pair of ``edges``
    (columns pa < pb) with at least one common sub-hub neighbor. Factored
    edges-in so the hub-cap path is testable on synthetic graphs; see
    graph_jaccard_linkpred for the scale rationale."""
    deg, nbrs = wedge_centers(edges, max_deg)
    wedges = explode_pairs(nbrs, "ns", "a", "b")
    common = wedges.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("common_neighbors")
    )
    cand = common.join(
        edges.select(F.col("pa").alias("a"), F.col("pb").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    return (
        cand.join(deg.select(F.col("n").alias("a"), F.col("d").alias("deg_a")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("d").alias("deg_b")), "b")
        .select(
            F.col("a").alias("node_a"),
            F.col("b").alias("node_b"),
            "common_neighbors",
            "deg_a",
            "deg_b",
            F.round(
                F.col("common_neighbors").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("common_neighbors")),
                6,
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# Degree assortativity (Newman's r over the co-occurrence graph)
# --------------------------------------------------------------------------

_ASSORT_ORACLE = f"""
WITH op AS (
  SELECT o, p FROM {_DUCK_CAPPED_OP}
), e AS (
  SELECT a.p AS pa, b.p AS pb
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
  GROUP BY a.p, b.p
  HAVING count(*) >= {_TRI_MIN_SUPPORT}
), deg AS (
  SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT pa AS n FROM e UNION ALL SELECT pb AS n FROM e
  ) GROUP BY n
), de AS (
  SELECT da.d AS x, db.d AS y FROM e
    JOIN deg da ON da.n = e.pa JOIN deg db ON db.n = e.pb
  UNION ALL
  SELECT db.d AS x, da.d AS y FROM e
    JOIN deg da ON da.n = e.pa JOIN deg db ON db.n = e.pb
), m AS (
  SELECT CAST(count(*) AS HUGEINT) AS mm,
         CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(x * x) AS HUGEINT) AS sxx,
         CAST(sum(x * y) AS HUGEINT) AS sxy,
         CAST(sum(y * y) AS HUGEINT) AS syy
  FROM de
)
SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST(mm / 2 AS BIGINT) AS n_edges,
       round(CAST(mm * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(mm * sxx - sx * sx AS DOUBLE)
                    * CAST(mm * syy - sy * sy AS DOUBLE)), 6) AS assortativity
FROM m
"""


@register(
    "graph_assortativity",
    _ASSORT_ORACLE,
    doc="Newman degree assortativity of the co-occurrence graph (exact integer moments)",
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002): the Pearson correlation of
    endpoint degrees over all edges — positive means hubs attach to
    hubs (social-network shape), negative means hub-and-spoke
    (dependency/retail shape). The one-number structural fingerprint
    that tells you whether the hub caps in the dedup/link-prediction
    family will actually engage.

    Exactness: degrees are integers, each edge contributes both
    orientations (the standard symmetrization), and all five correlation
    moments are exact decimal(38,0)/HUGEINT sums; r is one deterministic
    double expression of those integers (factors multiplied after the
    double cast — the decimal product would overflow).

    Scale shape: reuses the shared one-shuffle basket-explode edge
    builder (`cooccurrence_edges`, caps replayed in the oracle); degrees
    are one aggregate of the edge list; the two degree joins are
    node-keyed equi-joins; the moment fold is a 1-row aggregate. Nothing
    quadratic anywhere."""
    return assortativity_from_edges(cooccurrence_edges(spark, sf_dir))


def assortativity_from_edges(raw_edges: DataFrame) -> DataFrame:
    """Assortativity core over any (pa, pb) undirected edge frame —
    factored out so tests can pin known-shape graphs (a star is exactly
    r = -1; a clique's variance degenerates)."""
    edges = raw_edges.persist(CKPT_LEVEL)  # feeds deg + both joins
    # feeds the node count and two degree joins
    deg = node_degrees(edges).persist(CKPT_LEVEL)
    da = deg.select(F.col("n").alias("pa"), F.col("d").alias("x"))
    db = deg.select(F.col("n").alias("pb"), F.col("d").alias("y"))
    joined = edges.join(da, "pa").join(db, "pb")
    de = joined.select("x", "y").unionAll(
        joined.select(F.col("y").alias("x"), F.col("x").alias("y"))
    )
    m = de.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("mm"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
    )
    n_nodes = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    num = (F.col("mm") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("mm") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("mm") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return m.crossJoin(F.broadcast(n_nodes)).select(
        "n_nodes",
        F.expr("cast(mm div 2 as bigint)").alias("n_edges"),
        F.round(num / den, 6).alias("assortativity"),
    )


# --------------------------------------------------------------------------
# HITS hubs & authorities (bipartite customer → part, 2 unrolled rounds)
# --------------------------------------------------------------------------

_HITS_TOPK = 20


_HITS_ORACLE = f"""
WITH edges AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
h1 AS (SELECT c, CAST(count(*) AS BIGINT) AS h1 FROM edges GROUP BY c),
a1 AS (
  SELECT e.p, CAST(sum(h1.h1) AS BIGINT) AS a1
  FROM edges e JOIN h1 ON h1.c = e.c GROUP BY e.p
),
h2 AS (
  SELECT e.c, CAST(sum(a1.a1) AS BIGINT) AS h2
  FROM edges e JOIN a1 ON a1.p = e.p GROUP BY e.c
),
a2 AS (
  SELECT e.p, CAST(sum(h2.h2) AS BIGINT) AS a2
  FROM edges e JOIN h2 ON h2.c = e.c GROUP BY e.p
)
SELECT a2.p AS part_key, a1.a1, a2.a2,
       CAST(count(*) OVER () AS BIGINT) AS n_parts_total
FROM a2 JOIN a1 ON a1.p = a2.p
ORDER BY a2.a2 DESC, part_key
LIMIT {_HITS_TOPK}
"""


@register(
    "graph_hits_bipartite",
    _HITS_ORACLE,
    doc=f"HITS authorities (2 unrolled integer rounds) on the customer→part graph, top {_HITS_TOPK}",
)
def graph_hits_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg 1999 — public) on the bipartite purchase graph:
    customers are hubs, parts are authorities; two mutual-reinforcement
    rounds — h₁ = out-degree, a₁ = Σ h₁ over buyers, h₂ = Σ a₁ over
    bought parts, a₂ = Σ h₂ — rank the top-{_HITS_TOPK} authority parts.
    The link-analysis sibling of `graph_pagerank`: PageRank needs a
    fixed point (rows-only, numpy-pinned); HITS truncated to a fixed
    round count stays EXACT-integer and fully oracle-checkable, because
    without normalization each score is just a path-count — a₂(p) =
    #(3-step paths ending at p) weighted by edge multiplicity.

    Exactness: every score is an exact BIGINT path count (degrees ≤10³
    ⇒ a₂ ≤ ~10⁹ at fixture scales; DECIMAL headroom documented for
    deeper unrolls). Top-k is (a₂ desc, part_key) — total order.

    Scale: the edge list is the only data-scale table; each round is
    ONE equi-join of the static edge table with a (node, long) score
    table — both hash-partitioned on the join key (bucket the edge
    table at cluster scale and the static side never reshuffles) — plus
    one aggregate. The final top-k is TakeOrderedAndProject."""
    lineitem = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # persist(), not localCheckpoint(): four rounds reuse this table, and
    # the SQL cache stores it as compressed columnar batches that spill.
    edges = (
        lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .persist(CKPT_LEVEL)
    )
    h1 = edges.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("h1"))
    a1 = (
        edges.join(h1, "c")
        .groupBy("p")
        .agg(F.sum("h1").cast("long").alias("a1"))
    )
    h2 = (
        edges.join(a1, "p")
        .groupBy("c")
        .agg(F.sum("a1").cast("long").alias("h2"))
    )
    a2 = (
        edges.join(h2, "c")
        .groupBy("p")
        .agg(F.sum("h2").cast("long").alias("a2"))
    )
    n_parts = a2.agg(F.count(F.lit(1)).cast("long").alias("n_parts_total"))
    return (
        a2.join(a1, "p")
        .crossJoin(F.broadcast(n_parts))
        .select(F.col("p").alias("part_key"), "a1", "a2", "n_parts_total")
        .orderBy(F.col("a2").desc(), "part_key")
        .limit(_HITS_TOPK)
    )


# --------------------------------------------------------------------------
# Clustering coefficient (global + average local) on the co-occurrence graph
# --------------------------------------------------------------------------

_CLUSTER_COEF_ORACLE = f"""
WITH op AS MATERIALIZED (
  SELECT o, p FROM {_DUCK_CAPPED_OP}
), e AS MATERIALIZED (
  SELECT a.p AS pa, b.p AS pb
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
  GROUP BY a.p, b.p
  HAVING count(*) >= {_TRI_MIN_SUPPORT}
), deg AS MATERIALIZED (
  SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT pa AS n FROM e UNION ALL SELECT pb AS n FROM e
  ) GROUP BY n
), tri AS MATERIALIZED (
  SELECT x.pa AS a, x.pb AS b, y.pb AS c
  FROM e x JOIN e y ON y.pa = x.pb
         JOIN e z ON z.pa = x.pa AND z.pb = y.pb
), tn AS MATERIALIZED (
  SELECT unnest([a, b, c]) AS n FROM tri
), tcount AS MATERIALIZED (
  SELECT n, CAST(count(*) AS BIGINT) AS t FROM tn GROUP BY n
), pernode AS MATERIALIZED (
  SELECT deg.n, deg.d, coalesce(tcount.t, 0) AS t
  FROM deg LEFT JOIN tcount ON tcount.n = deg.n
), elig AS MATERIALIZED (
  SELECT CAST(2 * CAST(t AS HUGEINT) * 1000000000
              // (CAST(d AS HUGEINT) * (d - 1)) AS BIGINT) AS cc_e9
  FROM pernode WHERE d >= 2
)
SELECT
  CAST((SELECT count(*) FROM pernode) AS BIGINT) AS n_nodes,
  CAST((SELECT count(*) FROM elig) AS BIGINT) AS n_eligible,
  CAST((SELECT count(*) FROM tri) AS BIGINT) AS n_triangles,
  CAST((SELECT sum(CAST(d AS HUGEINT) * (d - 1) // 2) FROM pernode) AS BIGINT) AS n_wedges,
  CAST((SELECT sum(cc_e9) FROM elig) AS BIGINT) AS sum_local_cc_e9,
  round(3.0 * (SELECT count(*) FROM tri)
        / (SELECT CAST(sum(CAST(d AS HUGEINT) * (d - 1) // 2) AS DOUBLE) FROM pernode), 6)
    AS global_cc,
  round(CAST((SELECT sum(cc_e9) FROM elig) AS DOUBLE)
        / (SELECT count(*) FROM elig) / 1000000000.0, 6) AS avg_local_cc
"""


@register(
    "graph_clustering_coefficient",
    _CLUSTER_COEF_ORACLE,
    doc="global + average-local clustering coefficient (per-node exact triangle credit)",
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watts-Strogatz clustering coefficients over the part co-occurrence
    graph: global C = 3·triangles/wedges AND the average LOCAL
    coefficient (mean over nodes with degree ≥ 2 of 2·t_v/(d_v·(d_v−1)))
    — the two standard "how clique-ish is this graph" readouts, which
    deliberately disagree on hub-heavy graphs (global is wedge-weighted,
    local is node-weighted). Extends `graph_triangle_count` from one
    scalar to per-node triangle credit.

    Exactness: each triangle credits its 3 nodes via an explode off the
    closed-wedge triples (exact integers); each local coefficient
    floor-quantizes to 1e-9 BEFORE the sum (the PSI/χ² recipe — a float
    mean of per-node ratios would be accumulation-order-dependent), so
    ``sum_local_cc_e9`` is an exact integer cross-engine; the two
    averages are single IEEE expressions over exact sums.

    Scale: the degree-oriented wedge join bounds fan-out by sqrt(2m)
    (Suri & Vassilvitskii); per-node credit is one explode + groupBy on
    triangle rows (≤ wedge count); everything else is node-grain."""
    edges = cooccurrence_edges(spark, sf_dir).persist(CKPT_LEVEL)
    deg = node_degrees(edges).persist(CKPT_LEVEL)
    closed = closed_wedges(edges, deg).persist(CKPT_LEVEL)

    tcount = (
        closed.select(F.explode(F.array("wsrc", "ta", "tb")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    pernode = deg.join(tcount, "n", "left").select(
        "d", F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("t")
    )
    elig = pernode.filter(F.col("d") >= 2).select(
        F.expr(
            "CAST(2 * CAST(t AS DECIMAL(38,0)) * 1000000000"
            " div (CAST(d AS DECIMAL(38,0)) * (d - 1)) AS BIGINT)"
        ).alias("cc_e9")
    )
    node_stats = pernode.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum(F.expr("CAST(d AS DECIMAL(38,0)) * (d - 1) div 2")).cast("long").alias("n_wedges"),
    )
    elig_stats = elig.agg(
        F.count(F.lit(1)).cast("long").alias("n_eligible"),
        F.sum("cc_e9").cast("long").alias("sum_local_cc_e9"),
    )
    tri_stats = closed.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    return (
        node_stats.crossJoin(tri_stats)
        .crossJoin(elig_stats)
        .selectExpr(
            "n_nodes",
            "n_eligible",
            "n_triangles",
            "n_wedges",
            "sum_local_cc_e9",
            "round(3.0 * n_triangles / CAST(n_wedges AS DOUBLE), 6) AS global_cc",
            "round(CAST(sum_local_cc_e9 AS DOUBLE) / n_eligible / 1000000000.0, 6)"
            " AS avg_local_cc",
        )
    )


# --------------------------------------------------------------------------
# Bounded-round single-source shortest paths (weighted Bellman-Ford)
# --------------------------------------------------------------------------

_SSSP_ROUNDS = 4
_SSSP_TOP = 20
# Edge cost: inverse co-purchase support (frequently co-ordered parts are
# "closer"), kept integer so every relaxed distance is an exact BIGINT.
_SSSP_COST = "CAST(1000000 DIV support AS BIGINT)"
_SSSP_COST_DUCK = "CAST(1000000 // support AS BIGINT)"


def _sssp_oracle() -> str:
    rounds = []
    for i in range(_SSSP_ROUNDS):
        rounds.append(
            f"""d{i + 1} AS MATERIALIZED (
  SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
    SELECT node, dist FROM d{i}
    UNION ALL
    SELECT dir.v AS node, d{i}.dist + dir.w AS dist
    FROM d{i} JOIN dir ON dir.u = d{i}.node
  ) GROUP BY node
)"""
        )
    return f"""
WITH op AS (SELECT o, p FROM {_DUCK_CAPPED_OP}),
e AS MATERIALIZED (
  SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS support
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
  GROUP BY a.p, b.p
  HAVING count(*) >= {_TRI_MIN_SUPPORT}
),
src AS (SELECT min(pa) AS s FROM e),
dir AS (
  SELECT pa AS u, pb AS v, {_SSSP_COST_DUCK} AS w FROM e
  UNION ALL
  SELECT pb AS u, pa AS v, {_SSSP_COST_DUCK} AS w FROM e
),
d0 AS (SELECT s AS node, CAST(0 AS BIGINT) AS dist FROM src),
{",".join(rounds)}
SELECT node, dist
FROM d{_SSSP_ROUNDS}
ORDER BY dist, node
LIMIT {_SSSP_TOP}
"""


@register(
    "graph_bounded_sssp",
    _sssp_oracle(),
    doc=f"single-source shortest paths, {_SSSP_ROUNDS} Bellman-Ford rounds on the co-purchase graph",
)
def graph_bounded_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths on the part co-purchase
    graph (edge cost = 1e6 // co-order support, so high-affinity parts
    are close): the 4-round synchronous Bellman-Ford that finds
    every part within 4 hops of the source — the "related products
    neighborhood" query, and the template for any bounded-radius
    traversal (fraud rings, lineage blast-radius).

    Exactness: integer edge costs make every relaxed distance an exact
    BIGINT min; the source is the deterministic min node id; output is
    the 20 nearest (dist, node)-ordered — a total order.

    Scale: each round is one :func:`vertex_round` whose adjacency
    carries ``struct(v, w)``: a node's message to each neighbour is its
    distance plus the edge cost, its own row's element costs 0 so its own
    distance is a message too, and the combine is ``min``. Unreached
    nodes hold NULL, send only NULLs, and are filtered out at the end.
    Rounds are a fixed constant, so the chain is planned uncut and cut
    once, after the last round."""
    adj = vertex_state(cooccurrence_support(spark, sf_dir), weight=_SSSP_COST)
    src = F.broadcast(adj.agg(F.min("n").alias("s")))
    dist0 = F.when(F.col("n") == F.col("s"), F.lit(0)).cast("long").alias("dist")
    # With no edges the oracle's source row (NULL, 0) still stands.
    lone = src.where(F.col("s").isNull()).select(
        F.col("s").alias("n"),
        F.array().cast(adj.schema["nbrs"].dataType).alias("nbrs"),
        F.lit(0).cast("long").alias("dist"),
    )
    state = adj.crossJoin(src).select("n", "nbrs", dist0).unionByName(lone)
    home = F.struct(F.col("n").alias("v"), F.lit(0).cast("long").alias("w"))

    def relax(s: DataFrame) -> DataFrame:
        return vertex_round(s, F.min(F.col("dist") + F.col("m.w")).alias("dist"), own=home, to="m.v")

    d, _ = run_rounds(state, relax, _SSSP_ROUNDS)
    return (
        d.where(F.col("dist").isNotNull())
        .select(F.col("n").alias("node"), "dist")
        .orderBy("dist", "node")
        .limit(_SSSP_TOP)
    )


# --------------------------------------------------------------------------
# Degree distribution of the co-occurrence graph
# --------------------------------------------------------------------------

_DEGREE_ORACLE = f"""
WITH op AS (
  SELECT o, p FROM {_DUCK_CAPPED_OP}
), e AS (
  SELECT a.p AS pa, b.p AS pb
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
  GROUP BY a.p, b.p
  HAVING count(*) >= {_TRI_MIN_SUPPORT}
), deg AS (
  SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT pa AS n FROM e UNION ALL SELECT pb AS n FROM e
  ) GROUP BY n
),
hist AS (SELECT d AS degree, CAST(count(*) AS BIGINT) AS n_nodes FROM deg GROUP BY d),
tot AS (SELECT CAST(sum(n_nodes) AS BIGINT) AS total FROM hist)
SELECT degree, n_nodes,
       CAST(sum(n_nodes) OVER (ORDER BY degree
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_nodes,
       CAST(n_nodes * 1000000 // tot.total AS BIGINT) AS share_ppm
FROM hist, tot
ORDER BY degree
"""


@register(
    "graph_degree_distribution",
    _DEGREE_ORACLE,
    doc="degree histogram of the part co-occurrence graph (+ cumulative and ppm shares)",
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first chart anyone draws of a graph: how many nodes have
    degree d, cumulatively and as a share — the heavy-tail check that
    decides whether the downstream algorithms need skew handling (a
    fat-tailed basket graph is exactly where the degree-oriented
    triangle join and the salted joins earn their keep). Complements
    `graph_assortativity` (who connects to whom) with the raw margin.

    Exactness: degrees, the histogram, and shares are exact integers.

    Scale: rides `cooccurrence_edges` (capped basket explode, support
    prune); degrees are one node-keyed aggregate; the histogram and its
    running sum live on the degree-value dictionary (bounded by the max
    degree), using the range-partitioned running-sum machinery."""
    from gluettalax_spark.operators.rank import grouped_running_sums

    # Uncut edges: node_degrees reads them once, in-row (optimization
    # r12), so the basket-explode edge pipeline runs once.
    deg = node_degrees(cooccurrence_edges(spark, sf_dir))
    hist = deg.groupBy(F.col("d").alias("degree")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    cum = grouped_running_sums(hist, [], ["degree"], [("n_nodes", "cum_nodes")])
    return cum.selectExpr(
        "degree",
        "n_nodes",
        "CAST(cum_nodes AS BIGINT) AS cum_nodes",
        "CAST(n_nodes * 1000000 DIV cum_nodes_total AS BIGINT) AS share_ppm",
    ).orderBy("degree")


# --------------------------------------------------------------------------
# Adamic-Adar link prediction (rare-neighbor-weighted common neighbors)
# --------------------------------------------------------------------------

# Per-center wedge weight floor(1e8 / ln(d_z)) — quantized BEFORE the sum
# (the exp/ln libm-ulp discipline), so AA scores are exact int64 sums.
# Centers need >= 2 neighbors to form a wedge, so ln(d_z) >= ln 2 > 0.
_AA_SCALE = 100_000_000

_ADAMIC_ADAR_ORACLE = f"""
WITH op AS (
  SELECT o, p FROM {_DUCK_CAPPED_OP}
), e AS (
  SELECT a.p AS pa, b.p AS pb
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
  GROUP BY a.p, b.p
  HAVING count(*) >= {_TRI_MIN_SUPPORT}
), adj AS (
  SELECT pa AS n, pb AS nbr FROM e UNION ALL SELECT pb AS n, pa AS nbr FROM e
), deg AS (
  SELECT n, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY n
), wedges AS (
  SELECT x.nbr AS a, y.nbr AS b,
         CAST(count(*) AS BIGINT) AS common_neighbors,
         CAST(sum(CAST(floor({_AA_SCALE} / ln(CAST(dc.d AS DOUBLE))) AS BIGINT))
              AS BIGINT) AS aa_e8
  FROM adj x
  JOIN adj y ON x.n = y.n AND x.nbr < y.nbr
  JOIN deg dc ON dc.n = x.n AND dc.d <= {_LINKPRED_MAX_DEG}
  GROUP BY x.nbr, y.nbr
), cand AS (
  SELECT w.a, w.b, w.common_neighbors, w.aa_e8 FROM wedges w
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.pa = w.a AND e.pb = w.b)
)
SELECT c.a AS node_a, c.b AS node_b, c.common_neighbors,
       da.d AS deg_a, db.d AS deg_b, c.aa_e8
FROM cand c
JOIN deg da ON da.n = c.a
JOIN deg db ON db.n = c.b
ORDER BY c.aa_e8 DESC, node_a, node_b
LIMIT {_LINKPRED_TOPK}
"""


@register(
    "graph_adamic_adar",
    _ADAMIC_ADAR_ORACLE,
    doc=f"top-{_LINKPRED_TOPK} predicted links by Adamic-Adar (exact integer e8 scores)",
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar 2003 — public): like
    `graph_jaccard_linkpred` but each common neighbor z is weighted
    1/ln(deg z), so a RARE shared neighbor certifies a link far more
    strongly than a hub everyone touches — the standard fix for
    Jaccard's hub-pollution failure, usually the strongest unsupervised
    link predictor of the classic family on co-occurrence graphs.

    Exactness: each center's wedge weight floor(1e8/ln d) quantizes to
    an integer BEFORE summation (the libm-ulp discipline), so every AA
    score is an exact int64 sum both engines replay; top-k order is
    (aa_e8 desc, node_a, node_b) — total.

    Scale shape: identical to the Jaccard rung — wedges explode
    map-side from each center's sorted adjacency array, hub centers
    past {_LINKPRED_MAX_DEG} neighbors are excluded BEFORE the explode
    (the oracle replays the cap: it is part of the spec), candidates
    anti-join the edge set, degrees join on the node key, top-k is
    TakeOrderedAndProject."""
    edges = cooccurrence_edges(spark, sf_dir).persist(CKPT_LEVEL)
    deg, nbrs = wedge_centers(edges, _LINKPRED_MAX_DEG)
    nbrs = (
        # Degree-1 centers form no wedges anyway, and must drop BEFORE the
        # weight projection: ln(1) = 0 and ANSI mode turns 1e8/0 into an
        # error even on rows the explode would discard.
        nbrs.filter(F.size("ns") >= 2)
        .withColumn(
            "w",
            F.expr(f"CAST(floor({_AA_SCALE} / ln(CAST(size(ns) AS DOUBLE))) AS BIGINT)"),
        )
    )
    wedges = explode_pairs(nbrs, "ns", "a", "b", "w")
    scored = wedges.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("common_neighbors"),
        F.sum("w").cast("long").alias("aa_e8"),
    )
    cand = scored.join(
        edges.select(F.col("pa").alias("a"), F.col("pb").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    return (
        cand.join(deg.select(F.col("n").alias("a"), F.col("d").alias("deg_a")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("d").alias("deg_b")), "b")
        .select(
            F.col("a").alias("node_a"),
            F.col("b").alias("node_b"),
            "common_neighbors",
            "deg_a",
            "deg_b",
            "aa_e8",
        )
        .orderBy(F.desc("aa_e8"), "node_a", "node_b")
        .limit(_LINKPRED_TOPK)
    )


# --------------------------------------------------------------------------
# Bounded harmonic centrality (radius 2) over the co-occurrence graph
# --------------------------------------------------------------------------

_HARMONIC_MAX_DEG = 256  # hub centers don't generate 2-hop wedges (linkpred cap)

_HARMONIC_2HOP_ORACLE = f"""
WITH op AS MATERIALIZED (
  SELECT o, p FROM {_DUCK_CAPPED_OP}
), e AS MATERIALIZED (
  SELECT a.p AS pa, b.p AS pb
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
  GROUP BY a.p, b.p
  HAVING count(*) >= {_TRI_MIN_SUPPORT}
), adj AS MATERIALIZED (
  SELECT pa AS n, pb AS nbr FROM e UNION ALL SELECT pb AS n, pa AS nbr FROM e
), deg AS MATERIALIZED (
  SELECT n, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY n
), w AS MATERIALIZED (
  SELECT DISTINCT a.nbr AS x, b.nbr AS y
  FROM adj a JOIN adj b ON a.n = b.n AND a.nbr < b.nbr
  WHERE a.n IN (SELECT n FROM deg WHERE d <= {_HARMONIC_MAX_DEG})
), p2 AS MATERIALIZED (
  SELECT x, y FROM w
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.pa = w.x AND e.pb = w.y)
), n2 AS (
  SELECT n, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT x AS n FROM p2 UNION ALL SELECT y AS n FROM p2) GROUP BY n
)
SELECT d.n AS node, d.d AS n_1hop,
       CAST(coalesce(n2.c, 0) AS BIGINT) AS n_2hop,
       CAST(d.d * 1000 + coalesce(n2.c, 0) * 500 AS BIGINT) AS harmonic_milli
FROM deg d LEFT JOIN n2 ON n2.n = d.n
ORDER BY harmonic_milli DESC, node
LIMIT 20
"""


@register(
    "graph_harmonic_2hop",
    _HARMONIC_2HOP_ORACLE,
    doc="radius-2 harmonic centrality (milli-units) over the part co-occurrence graph, top 20",
)
def graph_harmonic_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated harmonic centrality h(v) = sum over u of 1/dist(u,v) cut at
    radius 2 — i.e. |N₁(v)| + |N₂(v)|/2, in exact integer milli-units.
    The "how locally central is this product" readout: a multi-node
    COMPLEMENT of `graph_bounded_sssp` (one source, 4 hops) — every node
    gets a score, bounded radius keeps it one wedge pass, not an APSP.
    Radius-2 truncation is the standard scale compromise (full harmonic
    centrality needs all-pairs distances).

    Exactness: both terms are exact neighbor-set counts; ×1000/×500
    integer weights replace the 1/2 float. Top-20 by (score desc, node)
    is a total order.

    Scale: N₂ comes from the SAME capped wedge machinery as
    `graph_jaccard_linkpred` — hub centers past _HARMONIC_MAX_DEG=256
    neighbors don't emit wedges (quadratic fan-out, vanishing score
    contribution), and the cap is REPLAYED in the oracle as part of the
    operator spec. One basket explode, one wedge explode, two key-hash
    aggregates; the direct-edge exclusion is an anti-join on the edge
    list. Nothing is corpus-quadratic."""
    edges = cooccurrence_edges(spark, sf_dir).persist(CKPT_LEVEL)
    deg, nbrs = wedge_centers(edges, _HARMONIC_MAX_DEG)
    wedges = explode_pairs(nbrs, "ns", "a", "b").distinct()
    p2 = wedges.join(
        edges.select(F.col("pa").alias("a"), F.col("pb").alias("b")), ["a", "b"], "left_anti"
    )
    n2 = node_degrees(p2, "a", "b", d="c")
    return (
        deg.join(n2, "n", "left")
        .selectExpr(
            "n AS node",
            "d AS n_1hop",
            "CAST(coalesce(c, 0) AS BIGINT) AS n_2hop",
            "CAST(d * 1000 + coalesce(c, 0) * 500 AS BIGINT) AS harmonic_milli",
        )
        .orderBy(F.desc("harmonic_milli"), "node")
        .limit(20)
    )
