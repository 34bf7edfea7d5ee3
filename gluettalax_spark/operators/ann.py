"""IVF approximate nearest neighbor — trained coarse quantizer over the
embedding column (the scale path beyond deterministic sign-LSH).

IVF(-flat): k-means the corpus into nlist coarse cells; each vector is
indexed under its nearest centroid; a query scores only the vectors in
its nprobe nearest cells. Candidate generation is an equi-join on the
cell id — the same shuffle-shape as similarity_topk_lsh, but with
*learned* cells that adapt to the data distribution (higher recall per
probed candidate than fixed hyperplanes).

KMeans training is not SQL-expressible, so this registers with NO oracle
(rows-only driver check, per the __spark_entry__ contract for iterative
algorithms); recall against the brute-force truth is asserted in
tests/test_ann.py instead.

Scale: training samples the corpus (kmeans on a fraction is standard —
centroid quality degrades slowly with sampling); assignment is one
broadcast of nlist×dim floats; the probe join shuffles only cell ids and
candidates, never all-pairs. At 100 TB: persist the centroid table and
the cell-assigned corpus as a bucketed table keyed on cell id, making
every later query a pruned scan + local re-rank.
"""

from __future__ import annotations

from gluettalax_spark.memory import CKPT_LEVEL, register_session_df_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gluettalax_spark.operators.similarity import N_QUERIES, TOPK, _dot, _norm
from gluettalax_spark.registry import register
from gluettalax_spark.tables import fixture_fingerprint, load, load_spread

NLIST = 16  # coarse cells (IVF-flat)
NPROBE = 4  # cells scored per query (IVF-flat)
# IVFPQ path: the coarse quantizer scales with the corpus — nlist =
# clamp(64, 4·√n, 1024), nprobe = nlist/4 (the FAISS sizing guideline;
# a FIXED nlist under-partitions as the corpus grows and the probe
# ceiling collapses — measured 0.73 at sf0.1 with nlist=64 vs 0.91 with
# √n-scaled cells at the same 25% scan fraction). The 1024 cap bounds
# driver-side Lloyd training; past it, train hierarchically (IMI) —
# out of fixture scope.
NLIST_PQ_MIN = 64
NLIST_PQ_MAX = 1024


def _pq_geometry(n_corpus: int) -> tuple[int, int]:
    """(nlist, nprobe) for a corpus of n vectors."""
    import math

    nlist = int(min(NLIST_PQ_MAX, max(NLIST_PQ_MIN, 4 * math.sqrt(max(n_corpus, 1)))))
    return nlist, max(1, nlist // 4)
SEED = 42


def _with_recall_vs_exact(spark: SparkSession, sf_dir: str, approx: DataFrame) -> DataFrame:
    """Append a constant ``recall_at_k`` column: the fraction of the exact
    brute-force top-k pairs (the Arrow-vectorized twin — one corpus scan,
    one matmul) that the approximate result recovered. Self-verifying
    rows-only contract: the driver's rows-only check sees the invariant
    IN the output instead of trusting a pytest-only pin, and
    tests/test_ann.py asserts the per-variant recall bound on this very
    column. Benchmark-scale instrumentation by design — at production
    scale the exact twin runs over a query SAMPLE, not every query.

    The ratio is computed in-plan (two 1-row aggregates, broadcast
    cross-joined onto the k×Q-row result) — no driver-side arithmetic."""
    from gluettalax_spark.operators.similarity import similarity_topk_vectorized

    exact = similarity_topk_vectorized(spark, sf_dir).select("query_id", "neighbor_id")
    hits = exact.join(
        approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "leftsemi"
    )
    recall = (
        hits.agg(F.count(F.lit(1)).alias("_nh"))
        .crossJoin(exact.agg(F.count(F.lit(1)).alias("_ne")))
        .select(F.round(F.col("_nh") / F.col("_ne"), 4).alias("recall_at_k"))
    )
    return approx.crossJoin(F.broadcast(recall))


def _ivf_centers_np(sf_dir: str):
    """The IVF coarse quantizer's centroid matrix (NLIST × dim float64) —
    trained with the repo's own seeded numpy Lloyd's (:func:`_lloyd`) on
    the vec_id-ordered corpus sample, NO Spark in the loop. Recontracted
    from Spark-ML KMeans in round 12 so the trained model is replayable
    by the DuckDB oracle (pandas reads the same parquet in the same
    vec_id order; float32→float64 widening is exact in both paths), which
    upgrades `similarity_cluster_purity` and `similarity_ann_recall_curve`
    from rows-only to fully oracle-checked. At 100 TB the sample would
    arrive via a distributed TakeOrdered instead of a local read — the
    training itself is driver-side constant work either way (FAISS trains
    coarse quantizers on a bounded sample too)."""
    import numpy as np
    import pandas as pd

    key = ("ivf-centers", fixture_fingerprint(sf_dir, "embeddings"))
    if key not in _MODEL_CACHE:
        pdf = pd.read_parquet(
            f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
        ).sort_values("vec_id")
        X = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)[:PQ_TRAIN_SAMPLE]
        _MODEL_CACHE[key] = _lloyd(X, NLIST, PQ_ITERS, SEED)
    return _MODEL_CACHE[key]


def _f64_lit(x) -> str:
    """Exact float64 SQL literal: exponent notation makes DuckDB parse it
    as DOUBLE (a plain decimal literal becomes DECIMAL and overflows
    scale 38 under multiplication); 17 significant digits round-trip."""
    return f"{float(x):.17e}"


def _duck_centers_cte(sf_dir: str) -> str:
    """`centers(cell, c_emb)` VALUES CTE — the trained centroid matrix as
    exact double literals."""
    rows = ", ".join(
        f"({cell}, [{', '.join(_f64_lit(x) for x in c)}])"
        for cell, c in enumerate(_ivf_centers_np(sf_dir))
    )
    return f"centers AS (SELECT * FROM (VALUES {rows}) t(cell, c_emb))"


# Rounded-distance argmin (matches the oracle's ORDER BY dist, cell —
# sub-ulp float noise can never flip the winner).
_DUCK_SQDIST64 = (
    "list_sum(list_transform(range(1, 65), i -> "
    "(CAST(v.embedding[i] AS DOUBLE) - c.c_emb[i])"
    " * (CAST(v.embedding[i] AS DOUBLE) - c.c_emb[i])))"
)

_DUCK_ASSIGN_CTE = f"""
scored AS (
  SELECT v.vec_id, v.label, c.cell,
         round({_DUCK_SQDIST64}, 4) AS dist
  FROM embeddings v CROSS JOIN centers c
),
assign AS (
  SELECT vec_id, label, cell FROM (
    SELECT vec_id, label, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
    FROM scored
  ) WHERE rn = 1
)
"""


def _sqdist(a, b):
    """Sequential-fold squared L2 (same left-to-right order as the
    oracle's list_sum — both engines produce the identical double)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _centers_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    centers = _ivf_centers_np(sf_dir)
    return spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(np.asarray(centers))],
        "cell int, c_emb array<double>",
    )


# The checkpointed IVF-assigned corpus per (corpus, SparkContext): a
# session-scoped DataFrame memo, so a wholesale storage release clears it
# with its blocks. The numpy models stay in ``_MODEL_CACHE``.
_ASSIGN_CACHE: dict[tuple, tuple] = register_session_df_cache({})


def _assignments(spark: SparkSession, sf_dir: str):
    """(vec_id, label, embedding, cell) + the fitted centroid list.

    Cached per corpus dir (the `_MODEL_CACHE` doctrine below: an ANN
    index is built once and searched many times) — four operators ride
    this quantizer (topk_ivf, the kNN-accuracy rung, the recall curve,
    cell purity), and refitting per call was pure waste. The assigned
    table is checkpointed so every consumer reads one materialized run.

    Assignment is a broadcast-crossJoin of the NLIST-row centroid table
    + one min(struct(round(dist,4), cell)) per vector — distances are
    ROUNDED before the argmin with ties on cell id, so the winner is
    reproducible across engines (the semantic.py discipline) and the
    cell structure is DuckDB-replayable from the centroid literals."""
    # Keyed on the application id too: unlike the numpy-only PQ models,
    # a cached DataFrame dies with its SparkContext.
    key = (fixture_fingerprint(sf_dir, "embeddings"), spark.sparkContext.applicationId)
    if key not in _ASSIGN_CACHE:
        import numpy as np

        # Spread the scan (optimization r12): the NLIST×N sqdist folds of
        # the assignment pass otherwise run on the single-row-group scan's
        # one task. The checkpointed table also carries each vector's
        # precomputed L2 norm (``v_nrm``, same serial fold order as the
        # per-pair `_norm` it replaces) so every consumer's cosine pays
        # ONE fold per candidate pair instead of three.
        emb = load_spread(spark, sf_dir, "embeddings")
        scored = emb.select("vec_id", "label", "embedding").crossJoin(
            F.broadcast(_centers_df(spark, sf_dir))
        )
        assigned = (
            scored.select(
                "vec_id",
                "label",
                "embedding",
                F.struct(
                    F.round(_sqdist(F.col("embedding"), F.col("c_emb")), 4).alias("dist"),
                    F.col("cell"),
                ).alias("_cand"),
            )
            .groupBy("vec_id")
            .agg(
                F.min("_cand").alias("_best"),
                F.first("label").alias("label"),
                F.first("embedding").alias("embedding"),
            )
            .select(
                "vec_id",
                "label",
                "embedding",
                F.col("_best.cell").alias("cell"),
                _norm(F.col("embedding")).alias("v_nrm"),
            )
            # The checkpoint's partition count is what every consumer's
            # candidate-scoring stage inherits; floor it at the core count
            # (bench runs tune shuffle.partitions below cores for the
            # dispatch floor — never shrink a production-sized layout).
            .repartition(
                max(
                    spark.sparkContext.defaultParallelism,
                    int(spark.conf.get("spark.sql.shuffle.partitions")),
                )
            )
            .localCheckpoint(eager=True, storageLevel=CKPT_LEVEL)
        )
        centers = [np.asarray(c) for c in np.asarray(_ivf_centers_np(sf_dir))]
        _ASSIGN_CACHE[key] = (assigned, centers)
    return _ASSIGN_CACHE[key]


def _ivf_topk_ctes(sf_dir: str) -> str:
    """CTE chain ``centers → assign → q → qd → probes → ea → cand →
    topk`` — the full IVF search replay, shared by _topk_ivf_oracle and
    _ndcg_oracle so the two keys can never drift apart."""
    return f"""{_duck_centers_cte(sf_dir)},
{_DUCK_ASSIGN_CTE.strip()},
q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < {N_QUERIES}),
qd AS (
  SELECT q.query_id, c.cell,
         round(list_sum(list_transform(range(1, 65), i ->
           (CAST(q.q_emb[i] AS DOUBLE) - c.c_emb[i])
           * (CAST(q.q_emb[i] AS DOUBLE) - c.c_emb[i]))), 4) AS dist
  FROM q CROSS JOIN centers c
),
probes AS (
  SELECT query_id, cell FROM (
    SELECT query_id, cell,
           row_number() OVER (PARTITION BY query_id ORDER BY dist, cell) AS rn
    FROM qd
  ) WHERE rn <= {NPROBE}
),
ea AS (SELECT a.vec_id, a.cell, v.embedding FROM assign a JOIN embeddings v USING (vec_id)),
cand AS (
  SELECT g.query_id, e.vec_id AS neighbor_id,
         round({_DUCK_COS64}, 4) AS cosine
  FROM probes g
  JOIN ea e USING (cell)
  JOIN q ON q.query_id = g.query_id
  WHERE e.vec_id <> g.query_id
),
topk AS (
  SELECT query_id, neighbor_id, cosine, CAST(rk AS BIGINT) AS rank FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
    ) AS rk FROM cand
  ) WHERE rk <= {TOPK}
)"""


def _topk_ivf_oracle(sf_dir: str) -> str:
    return f"""
WITH {_ivf_topk_ctes(sf_dir)},
ex AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           round({_DUCK_COS64}, 4) AS cosine
    FROM q JOIN embeddings e ON e.vec_id <> q.query_id
  ) s
  QUALIFY row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
  ) <= {TOPK}
),
hits AS (
  SELECT CAST(count(*) AS BIGINT) AS nh
  FROM topk t JOIN ex USING (query_id, neighbor_id)
),
ne AS (SELECT CAST(count(*) AS BIGINT) AS nx FROM ex)
SELECT t.query_id, t.neighbor_id, t.cosine, t.rank,
       round(CAST(nh AS DOUBLE) / nx, 4) AS recall_at_k
FROM topk t CROSS JOIN hits CROSS JOIN ne
ORDER BY query_id, rank
"""


def _ivf_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF search itself — (query_id, neighbor_id, cosine, rank),
    recall-free and unsorted. Shared by `similarity_topk_ivf` (which adds
    the exact-twin recall column) and `similarity_ndcg_eval` (which
    grades the ranking against the exact twin directly — the in-plan
    recall crossJoin would force a SECOND brute-force pass whose output
    column NDCG immediately projects away; optimization r12, guide §2.1)."""
    from pyspark.sql.window import Window

    assigned, _ = _assignments(spark, sf_dir)
    # Norms ride the checkpointed assignment table (optimization r12):
    # one fold per pair instead of three, bit-identical doubles.
    q = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("v_nrm").alias("q_nrm"),
    )
    qd = q.crossJoin(F.broadcast(_centers_df(spark, sf_dir))).select(
        "query_id",
        "cell",
        F.round(_sqdist(F.col("q_emb"), F.col("c_emb")), 4).alias("dist"),
    )
    wq = Window.partitionBy("query_id").orderBy("dist", "cell")
    probes = (
        qd.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= NPROBE)
        .select("query_id", "cell")
    )

    cand = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("v_emb"),
            "v_nrm",
        )
        .join(F.broadcast(q), "query_id")
    )
    cos = _dot(F.col("q_emb"), F.col("v_emb")) / (F.col("q_nrm") * F.col("v_nrm"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        cand.select("query_id", "neighbor_id", F.round(cos, 4).alias("cosine"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


@register(
    "similarity_topk_ivf",
    _topk_ivf_oracle,
    doc=f"IVF({NLIST},nprobe={NPROBE}) cosine top-{TOPK} (trained quantizer)",
)
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Queries probe their NPROBE nearest cells; scoring joins on the cell
    id. Fully oracle-checked since round 12: the probe ranking runs
    IN-PLAN with the rounded-distance rule (an N_QUERIES×NLIST
    crossJoin against the centroid table — constant size, independent of
    corpus scale), the quantizer replays from centroid literals, and the
    in-plan `recall_at_k` column is measured against the serial-fold
    `similarity_topk` exact twin the oracle replays verbatim."""
    res = _ivf_search_topk(spark, sf_dir)
    from gluettalax_spark.operators.similarity import similarity_topk

    exact = similarity_topk(spark, sf_dir).select("query_id", "neighbor_id")
    exact = exact.persist(CKPT_LEVEL)  # feeds the hit join AND the denominator
    hits = exact.join(
        res.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "leftsemi"
    )
    recall = (
        hits.agg(F.count(F.lit(1)).alias("_nh"))
        .crossJoin(exact.agg(F.count(F.lit(1)).alias("_ne")))
        .select(F.round(F.col("_nh") / F.col("_ne"), 4).alias("recall_at_k"))
    )
    return res.crossJoin(F.broadcast(recall)).orderBy("query_id", "rank")


# --------------------------------------------------------------------------
# IVF candidate generation feeding the kNN-classification tail
# --------------------------------------------------------------------------


def _knn_ivf_oracle(sf_dir: str) -> str:
    from gluettalax_spark.operators.similarity import _KNN_K, _KNN_NQ

    knn_tail = """
topk_{tag} AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
    ) AS rk FROM scored_{tag}
  ) WHERE rk <= {k}
),
votes_{tag} AS (
  SELECT query_id, true_label, nbr_label, CAST(count(*) AS BIGINT) AS v
  FROM topk_{tag} GROUP BY 1, 2, 3
),
pred_{tag} AS (
  SELECT query_id, true_label, nbr_label AS pred_label FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY v DESC, nbr_label
    ) AS pr FROM votes_{tag}
  ) WHERE pr = 1
),
acc_{tag} AS (
  SELECT true_label AS label,
         CAST(count(*) AS BIGINT) AS n_queries,
         CAST(count(CASE WHEN pred_label = true_label THEN 1 END) AS BIGINT) AS n_correct,
         CAST(count(CASE WHEN pred_label = true_label THEN 1 END) * 1000000
              // count(*) AS BIGINT) AS acc_ppm
  FROM pred_{tag} GROUP BY 1
)"""
    return f"""
WITH {_duck_centers_cte(sf_dir)},
{_DUCK_ASSIGN_CTE.strip()},
q AS (
  SELECT vec_id AS query_id, label AS true_label, embedding AS q_emb
  FROM embeddings WHERE vec_id < {_KNN_NQ}
),
qd AS (
  SELECT q.query_id, c.cell,
         round(list_sum(list_transform(range(1, 65), i ->
           (CAST(q.q_emb[i] AS DOUBLE) - c.c_emb[i])
           * (CAST(q.q_emb[i] AS DOUBLE) - c.c_emb[i]))), 4) AS dist
  FROM q CROSS JOIN centers c
),
probes AS (
  SELECT query_id, cell FROM (
    SELECT query_id, cell,
           row_number() OVER (PARTITION BY query_id ORDER BY dist, cell) AS rn
    FROM qd
  ) WHERE rn <= {NPROBE}
),
ea AS (
  SELECT a.vec_id, a.cell, a.label, v.embedding
  FROM assign a JOIN embeddings v USING (vec_id)
),
scored_ivf AS (
  SELECT g.query_id, q.true_label, e.vec_id AS neighbor_id, e.label AS nbr_label,
         round({_DUCK_COS64}, 4) AS cosine
  FROM probes g
  JOIN ea e USING (cell)
  JOIN q ON q.query_id = g.query_id
  WHERE e.vec_id <> g.query_id
),
scored_ex AS (
  SELECT q.query_id, q.true_label, e.vec_id AS neighbor_id, e.label AS nbr_label,
         round({_DUCK_COS64}, 4) AS cosine
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
),{knn_tail.format(tag="ivf", k=_KNN_K)},{knn_tail.format(tag="ex", k=_KNN_K)},
agree AS (
  SELECT CAST(count(CASE WHEN i.pred_label = x.pred_label THEN 1 END) * 1000000
              // count(*) AS BIGINT) AS pred_agree_ppm
  FROM pred_ivf i JOIN pred_ex x USING (query_id)
),
recall AS (
  SELECT CAST((SELECT count(*) FROM topk_ivf t
               WHERE EXISTS (SELECT 1 FROM topk_ex x
                             WHERE x.query_id = t.query_id
                               AND x.neighbor_id = t.neighbor_id)) * 1000000
              // (SELECT count(*) FROM topk_ex) AS BIGINT) AS nbr_recall_ppm
)
SELECT i.label, i.n_queries, i.n_correct, i.acc_ppm,
       x.acc_ppm AS acc_ppm_exact, agree.pred_agree_ppm, recall.nbr_recall_ppm
FROM acc_ivf i
JOIN acc_ex x USING (label)
CROSS JOIN agree CROSS JOIN recall
ORDER BY i.label
"""


@register(
    "similarity_knn_label_accuracy_ivf",
    _knn_ivf_oracle,
    doc=f"kNN label accuracy with IVF({NLIST},nprobe={NPROBE}) candidate generation "
    "(scale-path sibling of the brute-force rung)",
)
def similarity_knn_label_accuracy_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documented candidate-generation swap for
    ``similarity_knn_label_accuracy`` (similarity.py), registered as
    code: probes score only their NPROBE nearest IVF cells (25% scan
    fraction) instead of the whole corpus, and the UNCHANGED
    vote→argmax→per-class-accuracy tail (`_knn_predict`/`_knn_accuracy`)
    runs over the pruned candidates.

    Fully oracle-checked since round 12 (the quantizer-literal upgrade):
    probe ranking runs IN-PLAN with the rounded-distance rule, and the
    oracle replays the centroid literals, both scoring rungs, the vote
    tail, and all three agreement meters. ``acc_ppm_exact`` — the
    brute-force rung's per-class accuracy joined onto each row;
    ``pred_agree_ppm`` — the fraction (ppm) of probes whose IVF
    prediction equals the exact prediction; ``nbr_recall_ppm`` — the
    fraction of exact top-k neighbor pairs the IVF candidates recovered.
    The exact twin is benchmark-scale instrumentation — at 100 TB it
    runs over a probe SAMPLE, the IVF path itself touches nprobe/nlist
    of the corpus via a cell-id equi-join (bucket the corpus by cell to
    make it a pruned scan)."""
    from pyspark.sql.window import Window

    from gluettalax_spark.operators.similarity import (
        _KNN_NQ,
        _knn_accuracy,
        _knn_predict_from_topk,
        _knn_scored_exact,
        _knn_topk,
    )

    assigned, _ = _assignments(spark, sf_dir)

    # Norms ride the checkpointed assignment table (optimization r12):
    # one fold per candidate pair instead of three, bit-identical doubles.
    probes = assigned.filter(F.col("vec_id") < _KNN_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("q_emb"),
        F.col("v_nrm").alias("q_nrm"),
    )
    qd = probes.crossJoin(F.broadcast(_centers_df(spark, sf_dir))).select(
        "query_id",
        "cell",
        F.round(_sqdist(F.col("q_emb"), F.col("c_emb")), 4).alias("dist"),
    )
    wq = Window.partitionBy("query_id").orderBy("dist", "cell")
    probe_cells = (
        qd.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= NPROBE)
        .select("query_id", "cell")
    )

    scored = (
        assigned.join(F.broadcast(probe_cells), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(probes), "query_id")
        .select(
            "query_id",
            "true_label",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("nbr_label"),
            F.round(
                _dot(F.col("embedding"), F.col("q_emb"))
                / (F.col("v_nrm") * F.col("q_nrm")),
                4,
            ).alias("cosine"),
        )
    )
    ivf_topk = _knn_topk(scored).persist(CKPT_LEVEL)
    exact_topk = _knn_topk(_knn_scored_exact(spark, sf_dir)).persist(CKPT_LEVEL)

    pred_ivf = _knn_predict_from_topk(ivf_topk)
    pe_full = _knn_predict_from_topk(exact_topk)
    pred_exact = pe_full.select("query_id", F.col("pred_label").alias("pred_exact"))
    agree = pred_ivf.join(pred_exact, "query_id").agg(
        F.expr(
            "CAST(count(CASE WHEN pred_label = pred_exact THEN 1 END) * 1000000"
            " DIV count(*) AS BIGINT)"
        ).alias("pred_agree_ppm")
    )
    recall = (
        exact_topk.select("query_id", "neighbor_id")
        .join(ivf_topk.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "leftsemi")
        .agg(F.count(F.lit(1)).alias("_nh"))
        .crossJoin(exact_topk.agg(F.count(F.lit(1)).alias("_ne")))
        .select(
            F.expr("CAST(_nh * 1000000 DIV _ne AS BIGINT)").alias("nbr_recall_ppm")
        )
    )
    acc_exact = _knn_accuracy(pe_full).select(
        "label", F.col("acc_ppm").alias("acc_ppm_exact")
    )
    return (
        _knn_accuracy(pred_ivf)
        .join(acc_exact, "label")
        .crossJoin(F.broadcast(agree))
        .crossJoin(F.broadcast(recall))
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# Product quantization (PQ) — memory-bound ANN via asymmetric distance
# --------------------------------------------------------------------------

PQ_M = 32       # subspaces (64-dim fixture -> 2 dims/subspace = 4 bits/dim)
PQ_K = 256      # centroids per subspace (8-bit codes)
PQ_ITERS = 10   # Lloyd iterations per subspace codebook
PQ_TRAIN_SAMPLE = 100_000  # training-sample cap (driver-side, FAISS-style)


def _lloyd(X, k: int, iters: int, seed: int):
    """Plain Lloyd's k-means on a driver-side sample (numpy, BLAS
    distances) — the coarse-quantizer trainer for IVFPQ. Constant work:
    the sample is capped, the model is k×dim floats."""
    import numpy as np

    rng = np.random.default_rng(seed)
    n = X.shape[0]
    k = min(k, n)
    cent = X[rng.choice(n, size=k, replace=False)].copy()
    x_sq = (X**2).sum(axis=1)[:, None]
    for _ in range(iters):
        d2 = x_sq - 2.0 * X @ cent.T + (cent**2).sum(axis=1)[None, :]
        assign = d2.argmin(axis=1)
        counts = np.bincount(assign, minlength=k).astype(np.float64)
        sums = np.zeros_like(cent)
        np.add.at(sums, assign, X)
        nonempty = counts > 0
        cent[nonempty] = sums[nonempty] / counts[nonempty, None]
    return cent


def _pq_train(X, seed: int = SEED):
    """Per-subspace Lloyd's k-means on a driver-side sample (numpy).

    Training on a bounded sample is the standard PQ recipe (FAISS trains
    codebooks on ~100k vectors regardless of corpus size): the codebook
    is M×K×d_sub floats — constant-size model state, broadcast to
    executors; the corpus itself never leaves the cluster.

    All M subspaces iterate TOGETHER as one (M, n, K) batched problem —
    M sequential small-matrix Lloyd loops pay ~5 ms/iteration of pure
    dispatch overhead (measured: the arithmetic itself is <1 ms), which
    at M=32 × 10 iterations was ~3 s of driver time per model. The
    batched form runs the same 10 iterations in ~0.3 s. Training math is
    float32 (as FAISS's is); the returned codebooks are float64 so every
    downstream LUT keeps its precision."""
    import numpy as np

    rng = np.random.default_rng(seed)
    n, dim = X.shape
    d_sub = dim // PQ_M
    k = min(PQ_K, n)
    # (M, n, d_sub) — subspace-major view of the sample.
    Xs = np.ascontiguousarray(
        X.reshape(n, PQ_M, d_sub).transpose(1, 0, 2), dtype=np.float32
    )
    # Same draw order as the sequential per-subspace loop had.
    init = np.stack([rng.choice(n, size=k, replace=False) for _ in range(PQ_M)])
    cent = np.take_along_axis(Xs, init[:, :, None], axis=1).copy()  # (M, k, d_sub)
    idx_base = (np.arange(PQ_M) * k)[:, None]
    for _ in range(PQ_ITERS):
        # argmin_c |x-c|^2 == argmin_c (|c|^2 - 2 x·c): |x|^2 is constant
        # per row, so it never needs materializing.
        d2 = (cent**2).sum(axis=2)[:, None, :] - 2.0 * np.einsum(
            "mnd,mkd->mnk", Xs, cent
        )
        flat = (d2.argmin(axis=2) + idx_base).ravel()  # global (m, cluster) ids
        counts = np.bincount(flat, minlength=PQ_M * k).astype(np.float64)
        sums = np.empty((PQ_M * k, d_sub))
        for d in range(d_sub):
            sums[:, d] = np.bincount(flat, weights=Xs[:, :, d].ravel(), minlength=PQ_M * k)
        counts = counts.reshape(PQ_M, k)
        sums = sums.reshape(PQ_M, k, d_sub)
        nonempty = counts > 0
        cent[nonempty] = (sums[nonempty] / counts[nonempty][:, None]).astype(cent.dtype)
    return [cent[m].astype(np.float64) for m in range(PQ_M)]


# Trained quantizer models per corpus dir. An ANN index has a build
# phase and a search phase (FAISS: train+add once, search many) — at
# cluster scale nobody re-trains codebooks per query, so the constant-
# size driver-side model (M×K×d_sub codebooks + nlist centroids, a few
# hundred KB) is built once per (kind, corpus dir) and reused by every
# subsequent query in the process. The fixture dirs are immutable; a
# corpus change is a new dir.
_MODEL_CACHE: dict[tuple, tuple] = {}


def _pq_model(spark: SparkSession, sf_dir: str):
    """(books, dim) for the raw-vector PQ index of ``sf_dir``.

    The training sample is the first PQ_TRAIN_SAMPLE vectors BY vec_id
    (a distributed TakeOrdered — deterministic, unlike a bare limit whose
    row order follows partition scheduling). Round-12 recontract: the
    canonical order makes the trained codebooks reproducible by the
    numpy-only twin (:func:`_pq_model_np`) that generates the DuckDB
    oracle's codebook literals for `embedding_pq_distortion`."""
    import numpy as np

    key = ("pq", fixture_fingerprint(sf_dir, "embeddings"))
    if key not in _MODEL_CACHE:
        emb = load(spark, sf_dir, "embeddings")
        sample = emb.select("vec_id", "embedding").orderBy("vec_id").limit(PQ_TRAIN_SAMPLE).collect()
        X = np.asarray([r["embedding"] for r in sample], dtype=np.float64)
        _MODEL_CACHE[key] = (_pq_train(X), X.shape[1])
    return _MODEL_CACHE[key]


def _pq_model_np(sf_dir: str):
    """(books, dim) — the numpy-only replay of :func:`_pq_model`: same
    vec_id-ordered sample (pandas read; float32→float64 widening is
    exact), same `_pq_train` — bit-identical codebooks, no Spark. Feeds
    the oracle template's codebook literals; a pytest asserts the two
    paths agree array-for-array."""
    import numpy as np
    import pandas as pd

    key = ("pq-np", fixture_fingerprint(sf_dir, "embeddings"))
    if key not in _MODEL_CACHE:
        pdf = pd.read_parquet(
            f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
        ).sort_values("vec_id")
        X = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)[:PQ_TRAIN_SAMPLE]
        _MODEL_CACHE[key] = (_pq_train(X), X.shape[1])
    return _MODEL_CACHE[key]


def _ivfpq_model(sf_dir: str):
    """(nlist, nprobe, centers, books, dim) for the IVFADC index of
    ``sf_dir`` — coarse quantizer + residual-trained PQ codebooks.

    The training sample is the first PQ_TRAIN_SAMPLE vectors BY vec_id,
    read like :func:`_ivf_centers_np` and :func:`_pq_model_np` read theirs
    (a bare ``limit`` would follow the file's row order), so the model
    does not depend on how the corpus file is laid out."""
    import numpy as np
    import pandas as pd

    key = ("ivfpq", fixture_fingerprint(sf_dir, "embeddings"))
    if key not in _MODEL_CACHE:
        pdf = pd.read_parquet(
            f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
        ).sort_values("vec_id")
        # Coarse geometry scales with the corpus (√n sizing).
        nlist, nprobe = _pq_geometry(len(pdf))
        # One driver-side training sample feeds BOTH quantizers; the PQ
        # codebooks train on coarse residuals, not raw vectors.
        X = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)[:PQ_TRAIN_SAMPLE]
        centers = _lloyd(X, nlist, PQ_ITERS, SEED)
        x_assign = (
            (X**2).sum(1)[:, None] - 2.0 * X @ centers.T + (centers**2).sum(1)[None, :]
        ).argmin(axis=1)
        books = _pq_train(X - centers[x_assign])
        _MODEL_CACHE[key] = (nlist, nprobe, centers, books, X.shape[1])
    return _MODEL_CACHE[key]


def _pq_topk_oracle(sf_dir: str) -> str:
    """Oracle template for `similarity_topk_pq` (recontracted r13, the
    r12 IVF-sibling recipe): the trained codebooks embed as exact double
    literals; encoding replays the builder's ROUNDED-argmin rule
    (``round(d2, 4)`` ties → lowest code — the `_assignments`
    discipline); the ADC dot is a list_sum over the per-subspace LUT
    values in subspace order (the builder accumulates the same doubles
    left-to-right); norms are the serial-fold sqrt both engines share.
    Every double on the compare path is built from the IDENTICAL
    expression tree, so the ranking and the rounded outputs match
    bit-for-bit; recall replays the `similarity_topk` serial-fold twin
    verbatim (the `_topk_ivf_oracle` ex CTE)."""
    import numpy as np

    books, dim = _pq_model_np(sf_dir)
    d_sub = dim // PQ_M
    rows = []
    for m, book in enumerate(books):
        for ci, c in enumerate(np.asarray(book)):
            vals = ", ".join(_f64_lit(x) for x in c)
            rows.append(f"({m}, {ci}, {vals})")
    ccols = ", ".join(f"c{d + 1}" for d in range(d_sub))
    cb = f"cb AS (SELECT * FROM (VALUES {', '.join(rows)}) t(m, code, {ccols}))"
    xcols = ",\n         ".join(
        f"CAST(embedding[{d_sub}*mm.m + {d + 1}] AS DOUBLE) AS x{d + 1}"
        for d in range(d_sub)
    )
    xx = " + ".join(f"s.x{d + 1}*s.x{d + 1}" for d in range(d_sub))
    cc = " + ".join(f"cb.c{d + 1}*cb.c{d + 1}" for d in range(d_sub))
    xc = " + ".join(f"s.x{d + 1}*cb.c{d + 1}" for d in range(d_sub))
    qc = " + ".join(
        f"CAST(q.q_emb[{d_sub}*cb.m + {d + 1}] AS DOUBLE)*cb.c{d + 1}"
        for d in range(d_sub)
    )
    sqn = "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))"
    return f"""
WITH {cb},
sub AS (
  SELECT vec_id, mm.m AS m,
         {xcols}
  FROM embeddings, (SELECT unnest(range(0, {PQ_M})) AS m) mm
),
codes AS (
  SELECT vec_id, m, code FROM (
    SELECT s.vec_id, s.m, cb.code,
           row_number() OVER (
             PARTITION BY s.vec_id, s.m
             ORDER BY round((({xx}) - 2.0*({xc})) + ({cc}), 4), cb.code
           ) AS rn
    FROM sub s JOIN cb ON cb.m = s.m
  ) WHERE rn = 1
),
vn AS (SELECT vec_id, greatest({sqn}, 1e-30) AS vnorm FROM embeddings),
q AS (
  SELECT vec_id AS query_id, embedding AS q_emb, {sqn} AS qn
  FROM embeddings WHERE vec_id < {N_QUERIES}
),
lut AS (
  SELECT q.query_id, cb.m, cb.code, {qc} AS lv
  FROM q CROSS JOIN cb
),
dots AS (
  SELECT l.query_id, c.vec_id AS neighbor_id,
         list_sum(list(l.lv ORDER BY l.m)) AS dot
  FROM codes c JOIN lut l ON l.m = c.m AND l.code = c.code
  GROUP BY l.query_id, c.vec_id
),
scored_pq AS (
  SELECT d.query_id, d.neighbor_id, d.dot / (q.qn * vn.vnorm) AS cos
  FROM dots d
  JOIN q ON q.query_id = d.query_id
  JOIN vn ON vn.vec_id = d.neighbor_id
  WHERE d.neighbor_id <> d.query_id
),
topk AS (
  SELECT query_id, neighbor_id, round(cos, 4) AS cosine_pq, CAST(rk AS BIGINT) AS rank
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos DESC, neighbor_id
    ) AS rk FROM scored_pq
  ) WHERE rk <= {TOPK}
),
ex AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           round({_DUCK_COS64}, 4) AS cosine
    FROM q JOIN embeddings e ON e.vec_id <> q.query_id
  ) s
  QUALIFY row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
  ) <= {TOPK}
),
hits AS (
  SELECT CAST(count(*) AS BIGINT) AS nh
  FROM topk t JOIN ex USING (query_id, neighbor_id)
),
ne AS (SELECT CAST(count(*) AS BIGINT) AS nx FROM ex)
SELECT t.query_id, t.neighbor_id, t.cosine_pq, t.rank,
       round(CAST(nh AS DOUBLE) / nx, 4) AS recall_at_k
FROM topk t CROSS JOIN hits CROSS JOIN ne
ORDER BY query_id, rank
"""


@register(
    "similarity_topk_pq",
    _pq_topk_oracle,
    doc=f"PQ{PQ_M}x8 asymmetric-distance cosine top-{TOPK} (trained codebooks)",
)
def similarity_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al., "Product Quantization for
    Nearest Neighbor Search", TPAMI'11): each vector is compressed to
    PQ_M one-byte codes (8 bytes/vector vs 256 bytes raw — the index for
    a 10B-vector corpus fits in cluster RAM), and each query scores
    candidates with an asymmetric-distance lookup table (LUT): the
    query's dot product against every centroid of every subspace —
    M×K floats computed once per query, after which scoring a candidate
    is M table lookups, no float math against the raw vector.

    Scale shape: codebook training is a bounded driver-side sample
    (constant work); encoding is one mapInPandas pass over the corpus
    (vectorized argmin against the broadcast codebook, emits 8-byte
    codes); scoring is one mapInPandas pass over the CODES (the raw
    embeddings are never re-read) with a per-batch local top-k so only
    ~k rows per (query, batch) reach the final per-query window.

    Recontracted r13 (the r12 IVF-sibling recipe, VERDICT r12 #2):
    rows-only → fully oracle-checked. Every double on a compare path is
    built from an expression tree BOTH engines share — the encode argmin
    runs on ``round(d2, 4)`` with ties → lowest code (the
    `_assignments` rounded-argmin rule), d2/LUT/norm arithmetic is
    explicit elementwise numpy (no BLAS/FMA on compare paths), and
    accumulations are LEFT-TO-RIGHT so DuckDB's serial list_sum folds
    produce bit-identical doubles. Recall measures against the
    `similarity_topk` serial-fold twin (what `_topk_ivf_oracle`'s ``ex``
    CTE replays) instead of the numpy-pairwise vectorized twin."""
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings")
    # Trained once per corpus dir (driver-side sample; capped at scale),
    # cached — the ANN build/search split.
    books, dim = _pq_model(spark, sf_dir)
    d_sub = dim // PQ_M
    sc = spark.sparkContext
    b_books = sc.broadcast([b.tolist() for b in books])

    def _seq_sq_norm(V):
        # Serial-fold Σx² (left-to-right over dims) — matches the oracle's
        # list_sum(list_transform(...x*x)) bit-for-bit, unlike numpy's
        # pairwise-summed linalg.norm.
        acc = V[:, 0] * V[:, 0]
        for d in range(1, V.shape[1]):
            acc = acc + V[:, d] * V[:, d]
        return acc

    def encode(batches):
        bk = [np.asarray(b) for b in b_books.value]
        for pdf in batches:
            V = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
            codes = np.empty((len(pdf), PQ_M), dtype=np.int32)
            for m in range(PQ_M):
                sub = V[:, m * d_sub : (m + 1) * d_sub]
                cbm = bk[m]
                # ((Σx²) − 2·(Σxc)) + (Σc²), explicit elementwise ops in
                # the oracle's exact parenthesization (a BLAS matmul may
                # fuse multiply-adds and drift a ulp from the SQL form).
                xx = sub[:, 0] * sub[:, 0]
                cc = cbm[:, 0] * cbm[:, 0]
                xc = np.outer(sub[:, 0], cbm[:, 0])
                for d in range(1, d_sub):
                    xx = xx + sub[:, d] * sub[:, d]
                    cc = cc + cbm[:, d] * cbm[:, d]
                    xc = xc + np.outer(sub[:, d], cbm[:, d])
                d2 = (xx[:, None] - 2.0 * xc) + cc[None, :]
                # round(d2, 4) then argmin (ties → lowest code): the
                # engine-portable assignment rule. floor(|x|·1e4 + 0.5)
                # is monotone in round(x, 4) for the non-negative d2, so
                # the argmin is identical without the divide.
                codes[:, m] = np.floor(np.abs(d2) * 1e4 + 0.5).argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "codes": list(codes.tolist()),
                    # Stored true norm (norm-augmented index): cosine's
                    # denominator is exact, only the dot is approximate.
                    "vnorm": np.sqrt(_seq_sq_norm(V)),
                }
            )

    codes_df = emb.select("vec_id", "embedding").mapInPandas(
        encode, "vec_id long, codes array<int>, vnorm double"
    )

    # Query LUT: dot(q_m, c) per (subspace, centroid) — N_QUERIES × M × K
    # floats, constant-size, broadcast. Explicit elementwise products +
    # left-to-right adds — the oracle's lut CTE computes the identical
    # doubles from the codebook literals.
    q_rows = emb.filter(F.col("vec_id") < N_QUERIES).select("vec_id", "embedding").collect()
    q_ids = [r["vec_id"] for r in q_rows]
    Q = np.asarray([r["embedding"] for r in q_rows], dtype=np.float64)
    dot_lut = np.empty((len(q_ids), PQ_M, books[0].shape[0]))
    for m in range(PQ_M):
        qsub = Q[:, m * d_sub : (m + 1) * d_sub]
        cbm = np.asarray(books[m])
        acc = np.outer(qsub[:, 0], cbm[:, 0])
        for d in range(1, d_sub):
            acc = acc + np.outer(qsub[:, d], cbm[:, d])
        dot_lut[:, m, :] = acc
    q_norm = np.sqrt(_seq_sq_norm(Q))
    b_lut = sc.broadcast((q_ids, dot_lut.tolist(), q_norm.tolist()))

    def score(batches):
        ids, dlut, qn = b_lut.value
        dlut = np.asarray(dlut)  # (n_q, M, K)
        qn = np.asarray(qn)
        for pdf in batches:
            C = np.asarray(pdf["codes"].tolist(), dtype=np.int64)  # (n, M)
            vids = pdf["vec_id"].to_numpy()
            # dots[i, j] = approx dot(query_i, vec_j), accumulated in
            # SUBSPACE ORDER (left-to-right — the oracle's ordered
            # list_sum); the denominator is the stored TRUE norm.
            # Pure LUT gathers — no raw vectors here.
            dots = dlut[:, 0, C[:, 0]]
            for m in range(1, PQ_M):
                dots = dots + dlut[:, m, C[:, m]]
            vnorm = np.maximum(pdf["vnorm"].to_numpy(), 1e-30)  # (n,)
            cos = dots / (qn[:, None] * vnorm[None, :])
            out_q, out_v, out_c = [], [], []
            for qi, qid in enumerate(ids):
                keep = vids != qid  # exclude self
                rv, rc = vids[keep], cos[qi][keep]
                # Deterministic batch-local top-k (cos desc, vec_id asc):
                # ties at the k boundary must keep the same rows the
                # global window would rank — argpartition's arbitrary
                # tie pick could drop a true top-k row.
                order = np.lexsort((rv, -rc))[:TOPK]
                for j in order:
                    out_q.append(qid)
                    out_v.append(int(rv[j]))
                    out_c.append(float(rc[j]))
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_v, "cosine_pq": out_c})

    scored = codes_df.mapInPandas(score, "query_id long, neighbor_id long, cosine_pq double")

    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cosine_pq").desc(), F.col("neighbor_id"))
    res = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", F.round("cosine_pq", 4).alias("cosine_pq"), "rank")
    )
    # Recall vs the SERIAL-FOLD exact twin (similarity_topk — what the
    # oracle's ex CTE replays), the similarity_topk_ivf recipe.
    from gluettalax_spark.operators.similarity import similarity_topk

    exact = similarity_topk(spark, sf_dir).select("query_id", "neighbor_id")
    exact = exact.persist(CKPT_LEVEL)  # feeds the hit join AND the denominator
    hits = exact.join(
        res.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "leftsemi"
    )
    recall = (
        hits.agg(F.count(F.lit(1)).alias("_nh"))
        .crossJoin(exact.agg(F.count(F.lit(1)).alias("_ne")))
        .select(F.round(F.col("_nh") / F.col("_ne"), 4).alias("recall_at_k"))
    )
    return res.crossJoin(F.broadcast(recall)).orderBy("query_id", "rank")


def _ivfpq_scored(spark: SparkSession, sf_dir: str):
    """Shared IVFPQ front half: train quantizers, RESIDUAL-encode,
    IVF-prune, PQ-LUT-score. Returns ``(scored, emb, b_q)`` — the
    PQ-scored candidate DataFrame (query_id, neighbor_id, cosine_pq),
    the raw embeddings DataFrame, and a broadcast of the query-side
    arrays ``(qpos, Q, q_norm)`` for consumers that rescore exactly.

    Residual encoding (the standard IVFADC accuracy upgrade, Jégou
    TPAMI'11 §IV): PQ codebooks are trained on r = x - c(x), whose
    per-subspace variance is a fraction of the raw vectors' — the same
    8 bytes of code resolve much finer structure. Reconstruction is
    x̂ = c + r̂, so ADC needs one extra *constant-size* LUT beside the
    query×codebook one: dot(q, c) per (query, cell); the cosine
    denominator uses the TRUE per-vector norm stored with the codes
    (norm-augmented index), so only the dot carries quantization error.
    The plan is UNCHANGED — same single encode pass, same
    broadcast-probe equi-join, same codes-only scoring pass."""
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    # --- coarse quantizer + residual PQ codebooks, trained once per
    # corpus dir and cached (the ANN build/search split).
    nlist, nprobe, centers, books, dim = _ivfpq_model(sf_dir)
    d_sub = dim // PQ_M
    sc = spark.sparkContext
    b_books = sc.broadcast([b.tolist() for b in books])
    b_centers = sc.broadcast(centers.tolist())

    def encode(batches):
        bk = [np.asarray(b) for b in b_books.value]
        cent = np.asarray(b_centers.value)
        cent_sq = (cent**2).sum(axis=1)[None, :]
        for pdf in batches:
            V = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
            d2c = (V**2).sum(1)[:, None] - 2.0 * V @ cent.T + cent_sq
            cells = d2c.argmin(axis=1).astype(np.int32)
            R = V - cent[cells]  # residuals — what the codes quantize
            codes = np.empty((len(pdf), PQ_M), dtype=np.int32)
            for m in range(PQ_M):
                sub = R[:, m * d_sub : (m + 1) * d_sub]
                d2 = (sub**2).sum(1)[:, None] - 2.0 * sub @ bk[m].T + (bk[m] ** 2).sum(1)[None, :]
                codes[:, m] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cell": cells,
                    "codes": list(codes.tolist()),
                    # True norm rides with the codes (8 bytes/vector, the
                    # FAISS norm-augmented index trick): cosine then only
                    # suffers DOT distortion, never norm-reconstruction
                    # error, and the raw vector still never re-ships.
                    "vnorm": np.linalg.norm(V, axis=1),
                }
            )

    codes_df = emb.mapInPandas(encode, "vec_id long, cell int, codes array<int>, vnorm double")

    # --- probe pairs (query, cell): nprobe nearest cells per query,
    # computed from the constant-size centroid matrix (as in IVF).
    q_rows = emb.filter(F.col("vec_id") < N_QUERIES).select("vec_id", "embedding").collect()
    q_ids = [r["vec_id"] for r in q_rows]
    Q = np.asarray([r["embedding"] for r in q_rows], dtype=np.float64)
    probe_pairs = []
    for qi, qid in enumerate(q_ids):
        d = ((centers - Q[qi]) ** 2).sum(axis=1)
        for cell in np.argsort(d)[:nprobe]:
            probe_pairs.append((int(qid), int(cell)))
    probes = spark.createDataFrame(probe_pairs, "query_id long, cell int")

    # --- ADC LUTs for x̂ = c + r̂, all constant-size, broadcast:
    #   dot(q, x̂) = qc_lut[q, cell] + Σ_m dot_lut[q, m, code_m]
    # The denominator uses the stored true norm, so no norm LUTs needed.
    dot_lut = np.stack(
        [Q[:, m * d_sub : (m + 1) * d_sub] @ books[m].T for m in range(PQ_M)], axis=1
    )  # (n_q, M, K) — query · residual-codeword
    qc_lut = Q @ centers.T  # (n_q, nlist) — query · centroid
    q_norm = np.linalg.norm(Q, axis=1)
    qpos = {qid: i for i, qid in enumerate(q_ids)}
    b_lut = sc.broadcast((qpos, dot_lut.tolist(), q_norm.tolist(), qc_lut.tolist()))

    cand = codes_df.join(F.broadcast(probes), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )

    def score(batches):
        qpos_, dlut, qn, qclut = b_lut.value
        dlut, qn = np.asarray(dlut), np.asarray(qn)
        qclut = np.asarray(qclut)
        sub = np.arange(PQ_M)
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.asarray(pdf["codes"].tolist(), dtype=np.int64)  # (n, M)
            cells = pdf["cell"].to_numpy()
            qi = np.asarray([qpos_[q] for q in pdf["query_id"]])
            dots = qclut[qi, cells] + dlut[qi[:, None], sub[None, :], C].sum(axis=1)
            # True stored norm — no reconstruction error in the denominator.
            cos = dots / (qn[qi] * np.maximum(pdf["vnorm"].to_numpy(), 1e-30))
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "neighbor_id": pdf["vec_id"],
                    "cosine_pq": cos,
                }
            )

    scored = cand.mapInPandas(score, "query_id long, neighbor_id long, cosine_pq double")

    def make_b_q():
        # Broadcast of the full-precision query block, built lazily: only
        # the refine path needs it — the plain IVFPQ caller would
        # otherwise ship (and never unpersist) an unused broadcast.
        return sc.broadcast((qpos, Q.tolist(), q_norm.tolist()))

    return scored, emb, make_b_q


@register(
    "similarity_topk_ivfpq",
    None,
    doc=f"IVF(4√n cells, 25% probed) residual-PQ{PQ_M}x8 ADC scoring (rows-only)",
    witness=("recall_at_k",),
)
def similarity_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production composition (FAISS IVFPQ shape): IVF cells prune
    candidates — an equi-join on the cell id, probing nprobe/nlist of the
    corpus — and PQ codes score them with LUT gathers, so the scoring
    pass touches 8-byte codes instead of raw vectors. Together: the
    candidate set shrinks by nprobe/nlist AND each candidate costs M
    lookups — the only full-precision floats in the query path are the
    nlist×dim centroid matrix and the per-query LUTs (both constant
    size).

    This variant encodes cell RESIDUALS (IVFADC proper) — codebooks
    trained on x - c(x), reconstruction x̂ = c + r̂ via three extra
    constant-size LUTs; see _ivfpq_scored. Both the coarse quantizer (nlist
    centroids over the full vector) and the PQ codebooks are trained
    driver-side on one bounded sample — the FAISS recipe — and cell
    assignment rides the SAME mapInPandas pass that computes the codes,
    so the raw embeddings are read exactly once end-to-end. Registered
    rows-only (trained model); the recall bar vs brute force is pinned in
    tests/test_ann.py."""
    scored, _, _ = _ivfpq_scored(spark, sf_dir)

    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cosine_pq").desc(), F.col("neighbor_id"))
    res = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", F.round("cosine_pq", 4).alias("cosine_pq"), "rank")
    )
    return _with_recall_vs_exact(spark, sf_dir, res).orderBy("query_id", "rank")


REFINE_R = 5 * TOPK  # exact-rescore shortlist per query


@register(
    "similarity_topk_ivfpq_refine",
    None,
    doc=f"IVFPQ + exact re-rank of the top-{REFINE_R} PQ shortlist (FAISS refine stage, rows-only)",
    witness=("recall_at_k",),
)
def similarity_topk_ivfpq_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ with the standard FAISS *refine* stage: the PQ LUT pass is
    demoted to a SHORTLISTER (top-50 per query by approximate score);
    the shortlist's RAW vectors are fetched by id and re-scored exactly
    against the broadcast query block, and the final top-k ranks on true
    cosine. Recall is thereby lifted to the IVF candidate ceiling — PQ
    distortion can only reorder within the shortlist, not evict a true
    neighbor the coarse probe found.

    Scale shape: the exact pass touches R×n_queries rows (a constant per
    query), fetched via a broadcast semi-join of shortlist ids into the
    embeddings scan — on a cluster with an id-bucketed table this is a
    point-lookup join; the corpus-wide float work remains the one encode
    pass. Everything else (bounded driver-side training, single encode
    read, broadcast LUTs) is inherited from `similarity_topk_ivfpq`.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.window import Window

    scored, emb, make_b_q = _ivfpq_scored(spark, sf_dir)
    b_q = make_b_q()

    wpq = Window.partitionBy("query_id").orderBy(
        F.col("cosine_pq").desc(), F.col("neighbor_id")
    )
    shortlist = (
        scored.withColumn("r", F.row_number().over(wpq))
        .filter(F.col("r") <= REFINE_R)
        .select("query_id", "neighbor_id")
    )

    cand_vecs = emb.join(
        F.broadcast(shortlist), emb["vec_id"] == shortlist["neighbor_id"]
    ).select("query_id", "neighbor_id", "embedding")

    def rescore(batches):
        qpos_, Qv, qn = b_q.value
        Qv, qn = np.asarray(Qv), np.asarray(qn)
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
            qi = np.asarray([qpos_[q] for q in pdf["query_id"]])
            dots = (Qv[qi] * V).sum(axis=1)
            cos = dots / (qn[qi] * np.linalg.norm(V, axis=1))
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "neighbor_id": pdf["neighbor_id"],
                    "cosine": cos,
                }
            )

    exact = cand_vecs.mapInPandas(rescore, "query_id long, neighbor_id long, cosine double")
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    res = (
        exact.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rank")
    )
    return _with_recall_vs_exact(spark, sf_dir, res).orderBy("query_id", "rank")


# --------------------------------------------------------------------------
# IVF tuning curve: recall@k as a function of nprobe
# --------------------------------------------------------------------------

_CURVE_NPROBES = (1, 2, 4, 8)

_DUCK_COS64 = (
    "list_sum(list_transform(range(1, 65), i -> "
    "CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)))"
    " / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    " * sqrt(list_sum(list_transform(q.q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
)


def _recall_curve_oracle(sf_dir: str) -> str:
    nprobes = ", ".join(str(n) for n in _CURVE_NPROBES)
    return f"""
WITH {_duck_centers_cte(sf_dir)},
{_DUCK_ASSIGN_CTE.strip()},
q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < {N_QUERIES}),
qd AS (
  SELECT q.query_id, c.cell,
         round(list_sum(list_transform(range(1, 65), i ->
           (CAST(q.q_emb[i] AS DOUBLE) - c.c_emb[i])
           * (CAST(q.q_emb[i] AS DOUBLE) - c.c_emb[i]))), 4) AS dist
  FROM q CROSS JOIN centers c
),
pr AS (
  SELECT query_id, cell,
         row_number() OVER (PARTITION BY query_id ORDER BY dist, cell) AS rn
  FROM qd
),
nps AS (SELECT unnest([{nprobes}]) AS nprobe),
grid AS (SELECT n.nprobe, p.query_id, p.cell FROM pr p JOIN nps n ON p.rn <= n.nprobe),
ea AS (SELECT a.vec_id, a.cell, v.embedding FROM assign a JOIN embeddings v USING (vec_id)),
cand AS (
  SELECT g.nprobe, g.query_id, e.vec_id AS neighbor_id,
         round({_DUCK_COS64}, 4) AS cosine
  FROM grid g
  JOIN ea e USING (cell)
  JOIN q ON q.query_id = g.query_id
  WHERE e.vec_id <> g.query_id
),
topk AS (
  SELECT nprobe, query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY nprobe, query_id ORDER BY cosine DESC, neighbor_id
    ) AS rk FROM cand
  ) WHERE rk <= {TOPK}
),
ex AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           round({_DUCK_COS64}, 4) AS cosine
    FROM q JOIN embeddings e ON e.vec_id <> q.query_id
  ) s
  QUALIFY row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
  ) <= {TOPK}
),
vol AS (SELECT nprobe, CAST(count(*) AS BIGINT) AS n_candidates FROM cand GROUP BY nprobe),
hits AS (
  SELECT t.nprobe, CAST(count(*) AS BIGINT) AS n_hits
  FROM topk t JOIN ex USING (query_id, neighbor_id) GROUP BY t.nprobe
),
ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM ex)
SELECT CAST(v.nprobe AS BIGINT) AS nprobe,
       v.n_candidates,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       ne.n_exact,
       CAST(coalesce(h.n_hits, 0) * 1000000 // ne.n_exact AS BIGINT) AS recall_ppm
FROM vol v LEFT JOIN hits h ON h.nprobe = v.nprobe CROSS JOIN ne
ORDER BY nprobe
"""


@register(
    "similarity_ann_recall_curve",
    _recall_curve_oracle,
    doc=f"IVF({NLIST}) recall@{TOPK} at nprobe in {_CURVE_NPROBES} — the ANN tuning table",
)
def similarity_ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE table every ANN deployment tunes from: recall@k against the
    brute-force truth as nprobe sweeps 1→8 of the 16 IVF cells,
    with the candidate volume each rung paid. Recall must be
    non-decreasing and candidates ~linear in nprobe; where the curve
    knees is where production sets nprobe (`similarity_topk_ivf` runs
    the chosen point; this op justifies it).

    Fully oracle-checked since round 12: the quantizer centroids embed in
    the oracle as exact double literals, the probe ranking uses the same
    rounded-distance rule as cell assignment (computed IN-PLAN — a
    N_QUERIES×NLIST crossJoin, not driver numpy, so both engines rank
    probes identically), and the exact baseline is the serial-fold
    `similarity_topk` semantics the oracle already replays.

    Scale: ONE quantizer fit and ONE corpus scan serve all rungs — the
    probe grid carries (nprobe, query, cell) rows and the cell equi-join
    fans candidates out per rung (Σ nprobe/nlist ≈ 94% of a full
    scan at fixture geometry — instrumentation cost, not the production
    path, which runs one rung)."""
    from pyspark.sql.window import Window

    assigned, _ = _assignments(spark, sf_dir)
    q = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("v_nrm").alias("q_nrm"),
    )
    qd = q.crossJoin(F.broadcast(_centers_df(spark, sf_dir))).select(
        "query_id",
        "cell",
        F.round(_sqdist(F.col("q_emb"), F.col("c_emb")), 4).alias("dist"),
    )
    wq = Window.partitionBy("query_id").orderBy("dist", "cell")
    max_np = max(_CURVE_NPROBES)
    pr = (
        qd.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= max_np)
        .select("query_id", "cell", "rn")
    )
    np_df = spark.createDataFrame([(n,) for n in _CURVE_NPROBES], "nprobe int")

    # Optimization r12 (guide §3.3 "join first on the un-exploded key and
    # explode after"): score each (query, candidate) pair ONCE at the
    # max-nprobe rung — carrying the candidate cell's probe rank ``rn`` —
    # and fan the scored pairs out to the nprobe grid AFTERWARDS with the
    # 4-row rung table. Before, the grid was attached first, so a pair
    # probed at rank 1 was re-scored for every rung that includes it
    # (Σnprobe/max_np ≈ 1.9× redundant 64-dim folds). Same rows out: the
    # rung fan-out (rn ≤ nprobe) commutes with scoring. Norms ride the
    # assignment table (one fold per pair instead of three).
    scored_once = (
        assigned.join(F.broadcast(pr), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(q), "query_id")
        .select(
            "rn",
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                _dot(F.col("embedding"), F.col("q_emb"))
                / (F.col("v_nrm") * F.col("q_nrm")),
                4,
            ).alias("cosine"),
        )
    )
    scored_once = scored_once.persist(CKPT_LEVEL)  # scored pairs feed every rung
    cand = (
        scored_once.join(F.broadcast(np_df), F.col("rn") <= F.col("nprobe"))
        .select("nprobe", "query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("nprobe", "query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    topk = (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOPK)
        .select("nprobe", "query_id", "neighbor_id")
    )
    from gluettalax_spark.operators.similarity import similarity_topk

    exact = similarity_topk(spark, sf_dir).select("query_id", "neighbor_id")
    exact = exact.persist(CKPT_LEVEL)  # feeds the hit join AND the denominator
    hits = (
        topk.join(exact, ["query_id", "neighbor_id"], "leftsemi")
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    vol = cand.groupBy("nprobe").agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    ne = exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    return (
        vol.join(hits, "nprobe", "left")
        .fillna(0, ["n_hits"])
        .crossJoin(F.broadcast(ne))
        .selectExpr(
            "CAST(nprobe AS BIGINT) AS nprobe",
            "n_candidates",
            "n_hits",
            "n_exact",
            "CAST(n_hits * 1000000 DIV n_exact AS BIGINT) AS recall_ppm",
        )
        .orderBy("nprobe")
    )


# --------------------------------------------------------------------------
# PQ distortion audit: per-subspace quantization error
# --------------------------------------------------------------------------

_PQ_DISTORT_SCHEMA = "subspace int, n_vecs long, sse_e9 long"


def _pq_distortion_oracle(sf_dir: str) -> str:
    """Oracle template: the trained codebooks embed as exact double
    literals (one VALUES row per (subspace, codeword)); the per-vector
    error replays the numpy kernel's exact expression tree —
    ``(Σx²) + min_c((Σc²) − 2·(x·c))`` with the same left-to-right adds
    (d_sub ≤ 8 keeps numpy's reduction sequential, so the doubles agree
    bit-for-bit and the 1e9 floor-quantization cannot straddle)."""
    import numpy as np

    books, dim = _pq_model_np(sf_dir)
    d_sub = dim // PQ_M
    rows = []
    for m, book in enumerate(books):
        for c in np.asarray(book):
            vals = ", ".join(_f64_lit(x) for x in c)
            rows.append(f"({m}, {vals})")
    ccols = ", ".join(f"c{d + 1}" for d in range(d_sub))
    cb = f"cb AS (SELECT * FROM (VALUES {', '.join(rows)}) t(m, {ccols}))"
    xcols = ",\n         ".join(
        f"CAST(embedding[{d_sub}*mm.m + {d + 1}] AS DOUBLE) AS x{d + 1}"
        for d in range(d_sub)
    )
    xsq = " + ".join(f"s.x{d + 1}*s.x{d + 1}" for d in range(d_sub))
    csq = " + ".join(f"cb.c{d + 1}*cb.c{d + 1}" for d in range(d_sub))
    xc = " + ".join(f"s.x{d + 1}*cb.c{d + 1}" for d in range(d_sub))
    xgroup = ", ".join(f"s.x{d + 1}" for d in range(d_sub))
    return f"""
WITH {cb},
sub AS (
  SELECT vec_id, mm.m AS m,
         {xcols}
  FROM embeddings, (SELECT unnest(range(0, {PQ_M})) AS m) mm
),
err AS (
  SELECT s.vec_id, s.m,
         ({xsq}) + min(({csq}) - 2.0*({xc})) AS e
  FROM sub s JOIN cb ON cb.m = s.m
  GROUP BY s.vec_id, s.m, {xgroup}
),
qq AS (SELECT m, CAST(floor(greatest(e, 0.0) * 1000000000.0) AS BIGINT) AS e9 FROM err)
SELECT CAST(m AS BIGINT) AS subspace,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(e9) AS BIGINT) AS sse_e9,
       CAST(sum(e9) // count(*) AS BIGINT) AS mse_e9
FROM qq GROUP BY m ORDER BY subspace
"""


@register(
    "embedding_pq_distortion",
    _pq_distortion_oracle,
    doc=f"PQ{PQ_M}x8 per-subspace quantization error over the full corpus (integer-quantized SSE)",
)
def embedding_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index-quality audit behind `similarity_topk_pq`: how much
    signal does each of the 32 codebooks destroy? Per-subspace sum of
    squared reconstruction errors over the FULL corpus — the number
    FAISS folks watch when deciding bits-per-dim, because recall decays
    with exactly this distortion. A subspace with outsized MSE marks
    dimensions that deserve their own codebook budget.

    Fully oracle-checked since round 12: the codebooks (trained by the
    numpy twin `_pq_model_np` on the vec_id-ordered sample) embed in the
    oracle as exact double literals and the error fold replays the numpy
    kernel's expression tree term-for-term.

    Exactness: each vector's per-subspace squared error floor-quantizes
    to integer nano-units BEFORE summing, so the fold is
    order-independent (the entropy-term discipline) — re-partitioning
    cannot change the answer.

    Scale: the codebooks broadcast (constant size); ONE Arrow-batched
    `mapInPandas` pass emits 32-row partial sums per batch and the
    final groupBy reduces 32 keys — embeddings never shuffle."""
    import numpy as np

    books, dim = _pq_model(spark, sf_dir)
    books_arr = np.stack(books)  # (M, K, d_sub)
    d_sub = dim // PQ_M
    emb = load(spark, sf_dir, "embeddings").select("embedding")

    def score(batches):
        import pandas as _pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
            n = X.shape[0]
            Xs = X.reshape(n, PQ_M, d_sub).transpose(1, 0, 2)  # (M, n, d_sub)
            # err = min_c |x − c|² = |x|² + min_c(|c|² − 2 x·c)
            d2 = (books_arr**2).sum(axis=2)[:, None, :] - 2.0 * np.einsum(
                "mnd,mkd->mnk", Xs, books_arr
            )
            err = (Xs**2).sum(axis=2) + d2.min(axis=2)  # (M, n)
            # per-vector floor quantization (order-independent int sum);
            # clamp the tiny negatives IEEE cancellation can produce
            err_int = np.floor(np.maximum(err, 0.0) * 1e9).astype(np.int64)
            yield _pd.DataFrame(
                {
                    "subspace": np.arange(PQ_M, dtype=np.int32),
                    "n_vecs": np.full(PQ_M, n, dtype=np.int64),
                    "sse_e9": err_int.sum(axis=1),
                }
            )

    parts = emb.mapInPandas(score, _PQ_DISTORT_SCHEMA)
    return (
        parts.groupBy("subspace")
        .agg(
            F.sum("n_vecs").cast("long").alias("n_vecs"),
            F.sum("sse_e9").cast("long").alias("sse_e9"),
        )
        .selectExpr(
            "CAST(subspace AS BIGINT) AS subspace",
            "n_vecs",
            "sse_e9",
            "CAST(sse_e9 DIV n_vecs AS BIGINT) AS mse_e9",
        )
        .orderBy("subspace")
    )


# --------------------------------------------------------------------------
# IVF cell purity: do the learned cells respect the label structure?
# --------------------------------------------------------------------------


def _purity_oracle(sf_dir: str) -> str:
    return f"""
WITH {_duck_centers_cte(sf_dir)},
{_DUCK_ASSIGN_CTE.strip()},
grid AS (
  SELECT cell, label, count(*) AS n FROM assign GROUP BY cell, label
),
pc AS (
  SELECT cell,
         CAST(sum(n) AS BIGINT) AS n_vecs,
         CAST(max(CASE WHEN rk = 1 THEN label END) AS BIGINT) AS majority_label,
         CAST(max(CASE WHEN rk = 1 THEN n END) AS BIGINT) AS n_majority
  FROM (
    SELECT *, row_number() OVER (PARTITION BY cell ORDER BY n DESC, label) AS rk
    FROM grid
  ) GROUP BY cell
),
ov AS (
  SELECT CAST(sum(n_majority) * 1000000 // sum(n_vecs) AS BIGINT) AS overall_purity_ppm
  FROM pc
)
SELECT CAST(cell AS BIGINT) AS cell, n_vecs, majority_label, n_majority,
       CAST(n_majority * 1000000 // n_vecs AS BIGINT) AS purity_ppm,
       overall_purity_ppm
FROM pc CROSS JOIN ov
ORDER BY cell
"""


@register(
    "similarity_cluster_purity",
    _purity_oracle,
    doc=f"label purity of the {NLIST} IVF cells (majority label share per cell + overall)",
)
def similarity_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality eval for the IVF quantizer: per cell, the
    share of vectors carrying the cell's majority label (purity), plus
    the corpus-wide purity — the standard external-validity check
    before trusting learned cells for anything label-adjacent
    (stratified eval sampling, per-cell routing). Near-uniform purity
    at 1/|labels| says the embedding clusters don't align with labels —
    exactly what `similarity_knn_label_accuracy`'s near-chance accuracy
    shows from the neighbor side.

    Fully oracle-checked since round 12: the quantizer's centroids are
    numpy-trained (no Spark) and replayed in the oracle as exact double
    literals; assignment uses the rounded-argmin rule both engines share.

    Scale: one groupBy to the (cell × label) grid (nlist × |labels|
    bounded); majority pick and both purity ratios live on that grid."""
    from pyspark.sql.window import Window

    assigned, _ = _assignments(spark, sf_dir)
    grid = assigned.groupBy("cell", "label").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy("cell").orderBy(F.col("n").desc(), F.col("label"))
    per_cell = (
        grid.withColumn("rk", F.row_number().over(w))
        .groupBy("cell")
        .agg(
            F.sum("n").cast("long").alias("n_vecs"),
            F.max(F.when(F.col("rk") == 1, F.col("label"))).alias("majority_label"),
            F.max(F.when(F.col("rk") == 1, F.col("n"))).cast("long").alias("n_majority"),
        )
        .withColumn(
            "purity_ppm", F.expr("CAST(n_majority * 1000000 DIV n_vecs AS BIGINT)")
        )
    )
    overall = per_cell.agg(
        F.expr("CAST(sum(n_majority) * 1000000 DIV sum(n_vecs) AS BIGINT)").alias(
            "overall_purity_ppm"
        )
    )
    return (
        per_cell.crossJoin(F.broadcast(overall))
        .selectExpr(
            "CAST(cell AS BIGINT) AS cell",
            "n_vecs",
            "CAST(majority_label AS BIGINT) AS majority_label",
            "n_majority",
            "purity_ppm",
            "overall_purity_ppm",
        )
        .orderBy("cell")
    )


# --------------------------------------------------------------------------
# NDCG@k: ranking quality of the IVF index against exact-cosine truth
# --------------------------------------------------------------------------
#
# recall@k says WHETHER the true neighbors were found; NDCG@k says
# whether they were found IN THE RIGHT ORDER — the metric that catches a
# quantizer whose recall is fine but whose ranking inverts the head (bad
# for any consumer that truncates, i.e. every consumer). Relevance is
# graded by the exact rank (top-1 ⇒ rel=TOPK … top-TOPK ⇒ rel=1, else
# 0), discounts are the TOPK log2 CONSTANTS embedded as identical double
# literals in both engines, and each rel/log2(i+1) term is floor-
# quantized to 1e-9 before the integer sum — no cross-engine float fold
# anywhere, so the key is fully hash-checked despite scoring a trained
# index.


def _ndcg_discounts() -> list[float]:
    import math

    return [math.log2(i + 1) for i in range(1, TOPK + 1)]


def _ndcg_idcg_e9() -> int:
    """Ideal DCG on the same 1e-9 grid: the exact top-TOPK in exact order
    (rel TOPK..1 at ranks 1..TOPK). Python floats replay the engines'
    exact doubles: rel·1e9 is an exact double, the division is correctly
    rounded against the same literal, floor is floor."""
    import math

    return sum(
        int(math.floor((TOPK + 1 - i) * 1000000000.0 / l))
        for i, l in enumerate(_ndcg_discounts(), start=1)
    )


def _ndcg_oracle(sf_dir: str) -> str:
    disc_case = " ".join(
        f"WHEN {i} THEN {_f64_lit(l)}" for i, l in enumerate(_ndcg_discounts(), start=1)
    )
    return f"""
WITH {_ivf_topk_ctes(sf_dir)},
ex AS (
  SELECT query_id, neighbor_id, rk AS x_rank FROM (
    SELECT s.query_id, s.neighbor_id,
           row_number() OVER (
             PARTITION BY s.query_id ORDER BY s.cosine DESC, s.neighbor_id
           ) AS rk
    FROM (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             round({_DUCK_COS64}, 4) AS cosine
      FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    ) s
  ) WHERE rk <= {TOPK}
),
rel AS (
  SELECT t.query_id, t.rank,
         coalesce({TOPK + 1} - e.x_rank, 0) AS rel
  FROM topk t LEFT JOIN ex e USING (query_id, neighbor_id)
),
terms AS (
  SELECT query_id,
         CAST(floor(rel * 1000000000.0
                    / (CASE rank {disc_case} END)) AS BIGINT) AS t_e9
  FROM rel
)
SELECT query_id,
       CAST(sum(t_e9) AS BIGINT) AS dcg_e9,
       CAST({_ndcg_idcg_e9()} AS BIGINT) AS idcg_e9,
       round(CAST(sum(t_e9) AS DOUBLE) / {_ndcg_idcg_e9()}, 4) AS ndcg
FROM terms GROUP BY query_id ORDER BY query_id
"""


@register(
    "similarity_ndcg_eval",
    _ndcg_oracle,
    doc=f"NDCG@{TOPK} of the IVF ranking against exact-cosine graded relevance",
)
def similarity_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query NDCG@TOPK of `similarity_topk_ivf`'s ranking, graded by
    the exact twin `similarity_topk` (rel = TOPK+1 − exact rank, 0 for
    non-neighbors). Completes the index-quality suite: recall_at_k
    (coverage), knn label accuracy (downstream utility), NDCG (order).

    Exactness: rel is an integer, every log2 discount is one shared
    double literal, each term floor-quantizes to 1e-9 before an integer
    sum, and IDCG is a Python-computed constant on the same grid — the
    whole key hash-checks cross-engine (no ln/log evaluated by either
    engine at all).

    Scale: reuses the IVF search (bounded probes, cell equi-join) plus
    one broadcast join against the exact top-k's TOPK×N_QUERIES rows; at
    100 TB the exact side comes from a sampled probe set, as with every
    eval op in this module.

    The IVF side is the recall-free `_ivf_search_topk` (optimization
    r12): going through `similarity_topk_ivf` dragged in the recall
    crossJoin — a SECOND full brute-force scoring pass — only for NDCG
    to project the column away (the 1-row aggregate join never changes
    the ranked rows, so the output is identical by construction)."""
    from gluettalax_spark.operators.similarity import similarity_topk

    ivf = _ivf_search_topk(spark, sf_dir).select("query_id", "neighbor_id", "rank")
    exact = similarity_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.col("rank").alias("x_rank")
    )
    j = ivf.join(F.broadcast(exact), ["query_id", "neighbor_id"], "left")
    rel = F.coalesce(F.lit(TOPK + 1) - F.col("x_rank"), F.lit(0)).cast("long")
    discounts = _ndcg_discounts()
    expr = F.when(F.col("rank") == 1, F.lit(discounts[0]))
    for i in range(2, TOPK + 1):
        expr = expr.when(F.col("rank") == i, F.lit(discounts[i - 1]))
    t_e9 = F.floor(rel * 1000000000.0 / expr).cast("long")
    idcg = _ndcg_idcg_e9()
    return (
        j.select("query_id", t_e9.alias("t_e9"))
        .groupBy("query_id")
        .agg(F.sum("t_e9").cast("long").alias("dcg_e9"))
        .select(
            "query_id",
            "dcg_e9",
            F.lit(idcg).cast("long").alias("idcg_e9"),
            F.round(F.col("dcg_e9").cast("double") / float(idcg), 4).alias("ndcg"),
        )
        .orderBy("query_id")
    )
