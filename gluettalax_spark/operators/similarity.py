"""Similarity search over ``embeddings`` (array<float>, 64-dim):
brute-force cosine top-k (the correctness baseline), sign-LSH bucketed
near-dup (the scale path), and embedding-cosine near-duplicate pairs.

Scale design: brute force is O(Q·N) — fine when Q is small or N fits a
broadcast; the LSH variant buckets vectors by deterministic hyperplane
signs so candidate generation is an equi-join on an 8-bit bucket key.
Hyperplane coefficients derive from md5 (not RNG) so the DuckDB oracle
reproduces them bit-for-bit; at production scale you'd keep exactly this
plan and swap in pre-trained IVF centroids as the bucketer.
"""

from __future__ import annotations

from gluettalax_spark.memory import CKPT_LEVEL

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gluettalax_spark.operators.dedup import MAX_BAND_BUCKET, capped_bucket_pairs
from gluettalax_spark.registry import register
from gluettalax_spark.tables import fixture_fingerprint, load, load_spread

DIM = 64
N_PLANES = 8  # 8-bit sign-LSH bucket
TOPK = 5
N_QUERIES = 20
# Fixture embeddings are near-orthogonal (max pairwise cosine ≈ 0.51), so
# the "near-dup" threshold is set where the fixture actually has pairs;
# real corpora would use ~0.95+.
NEARDUP_COS = 0.45


def _dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product — same left-to-right summation order
    as the oracle's list_sum, so results agree to the last ulp."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


# --------------------------------------------------------------------------
# Brute-force cosine top-k (baseline)
# --------------------------------------------------------------------------

_COSINE_SQL = f"""
list_sum(list_transform(range(1, {DIM + 1}),
         i -> CAST(q.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE)))
/ (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
 * sqrt(list_sum(list_transform(v.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
"""

_TOPK_ORACLE = f"""
WITH scored AS (
  SELECT
    q.vec_id AS query_id,
    v.vec_id AS neighbor_id,
    round({_COSINE_SQL}, 4) AS cosine
  FROM embeddings q
  JOIN embeddings v ON v.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
ranked AS (
  SELECT *,
    CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
    ) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank
FROM ranked
WHERE rank <= {TOPK}
ORDER BY query_id, rank
"""


@register("similarity_topk", _TOPK_ORACLE, doc=f"brute-force cosine top-{TOPK} for {N_QUERIES} queries")
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Queries (small side) are broadcast against the full vector set —
    each partition scores its local vectors against every query and the
    per-query top-k reduces through a window. No shuffle of the big side.
    Norms are computed ONCE PER VECTOR before the join (not per pair —
    that would triple the interpreted fold work per candidate; identical
    float result, same fold order). Ranking is on the ROUNDED cosine with
    a vec_id tiebreak: a raw-float ordering is not reproducible across
    engines, a rounded one is.
    """
    from pyspark.sql.window import Window

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _norm(F.col("embedding")).alias("q_norm"),
    )
    # Corpus side spread across cores (optimization r12): the N×Q fold
    # work otherwise runs on the scan's single task (guide §2.5).
    v = load_spread(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("v_emb"),
        _norm(F.col("embedding")).alias("v_norm"),
    )
    cos = _dot(F.col("q_emb"), F.col("v_emb")) / (F.col("q_norm") * F.col("v_norm"))
    scored = (
        v.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.round(cos, 4).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "cosine", "rank")
        .orderBy("query_id", "rank")
    )


# --------------------------------------------------------------------------
# Deterministic sign-LSH bucketing (the scale path)
# --------------------------------------------------------------------------
#
# Hyperplane p, dimension d gets coefficient (nibble(md5("p:d"), 1) - 7.5)
# — a fixed pseudo-random value both engines compute identically.


def _plane_coeff_spark(p: int, d: int) -> str:
    return f"(instr('0123456789abcdef', substr(md5('{p}:{d}'), 1, 1)) - 1 - 7.5)"


def _plane_coeff_duck(p: int, d: int) -> str:
    return f"(strpos('0123456789abcdef', substr(md5('{p}:{d}'), 1, 1)) - 1 - 7.5)"


def _bucket_expr(coeff_fn, elem_fn) -> str:
    """SUM over planes of sign-bit · 2^p, where sign = (Σ_d coeff·x_d) >= 0."""
    plane_terms = []
    for p in range(N_PLANES):
        dot = " + ".join(f"{coeff_fn(p, d)} * CAST({elem_fn(d)} AS DOUBLE)" for d in range(DIM))
        plane_terms.append(f"(CASE WHEN ({dot}) >= 0 THEN {2 ** p} ELSE 0 END)")
    return "CAST(" + " + ".join(plane_terms) + " AS BIGINT)"


_LSH_BUCKET_ORACLE = f"""
SELECT
  vec_id,
  label,
  {_bucket_expr(_plane_coeff_duck, lambda d: f"embedding[{d + 1}]")} AS bucket
FROM embeddings
ORDER BY vec_id
"""


@register("similarity_lsh_bucket", _LSH_BUCKET_ORACLE, doc="deterministic 8-plane sign-LSH bucket id")
def similarity_lsh_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure projection — each vector maps to an 8-bit bucket with zero
    shuffles. At 100 TB this column becomes the partition key for ANN:
    candidates live in the same bucket (plus Hamming-1 neighbors for
    recall)."""
    emb = load(spark, sf_dir, "embeddings")
    bucket = _bucket_expr(_plane_coeff_spark, lambda d: f"element_at(embedding, {d + 1})")
    return emb.selectExpr("vec_id", "label", f"{bucket} AS bucket").orderBy("vec_id")


_LSH_TOPK_ORACLE = f"""
WITH buckets AS (
  SELECT vec_id, embedding,
    {_bucket_expr(_plane_coeff_duck, lambda d: f"embedding[{d + 1}]")} AS bucket
  FROM embeddings
),
scored AS (
  SELECT
    q.vec_id AS query_id,
    v.vec_id AS neighbor_id,
    round({_COSINE_SQL}, 4) AS cosine
  FROM buckets q
  JOIN buckets v ON q.bucket = v.bucket AND v.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
ranked AS (
  SELECT *,
    CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
    ) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank
FROM ranked
WHERE rank <= {TOPK}
ORDER BY query_id, rank
"""


@register(
    "similarity_topk_lsh",
    _LSH_TOPK_ORACLE,
    doc="LSH-bucketed approximate top-k (equi-join on bucket)",
)
def similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: score only same-bucket candidates. The join is
    an equi-join on the bucket id — at scale this is the difference
    between O(N·Q) and O(N·Q/2^planes). Recall is partial by design;
    the oracle replays the identical buckets so results still match
    exactly."""
    from pyspark.sql.window import Window

    emb = load(spark, sf_dir, "embeddings")
    bucket = _bucket_expr(_plane_coeff_spark, lambda d: f"element_at(embedding, {d + 1})")
    # Bucketing feeds both join sides; materialize it once (cluster analog:
    # persist the bucket-keyed index table) instead of recomputing the
    # 8×64-term projection per consumer — measured ~2× on the full query.
    # Norm rides along the checkpoint: computed once per vector, never
    # per candidate pair (identical float result, same fold order).
    buckets = (
        emb.selectExpr("vec_id", "embedding", f"{bucket} AS bucket")
        .withColumn("nrm", _norm(F.col("embedding")))
        .persist(CKPT_LEVEL)  # lazy multi-consumer cut (r12): no build-time job
    )
    q = buckets.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_norm"),
        "bucket",
    )
    v = buckets.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("v_emb"),
        F.col("nrm").alias("v_norm"),
        "bucket",
    )
    cos = _dot(F.col("q_emb"), F.col("v_emb")) / (F.col("q_norm") * F.col("v_norm"))
    scored = (
        v.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.round(cos, 4).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "cosine", "rank")
        .orderBy("query_id", "rank")
    )


# --------------------------------------------------------------------------
# LSH recall measurement (approx vs exact top-k, per query)
# --------------------------------------------------------------------------

_RECALL_ORACLE = f"""
WITH exact AS ({_TOPK_ORACLE.replace("ORDER BY query_id, rank", "")}),
approx AS ({_LSH_TOPK_ORACLE.replace("ORDER BY query_id, rank", "")})
SELECT
  e.query_id,
  round(CAST(count(a.neighbor_id) AS DOUBLE) / count(*), 4) AS recall
FROM exact e
LEFT JOIN approx a
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY e.query_id
ORDER BY e.query_id
"""


@register(
    "similarity_lsh_recall",
    _RECALL_ORACLE,
    doc=f"recall@{TOPK} of the LSH top-k against the exact top-k, per query",
)
def similarity_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality gauge an ANN deployment monitors: fraction of the true
    top-k recovered by the bucketed search, per query. Both inputs are
    deterministic, so even this meta-metric is oracle-checked. At scale
    you run it over a sampled query panel — the exact side is O(Q·N) and
    Q here is the bounded panel, never the corpus."""
    exact = similarity_topk(spark, sf_dir).select("query_id", "neighbor_id")
    approx = similarity_topk_lsh(spark, sf_dir).select("query_id", "neighbor_id")
    hits = exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
    k_per_q = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("k"))
    hits_per_q = hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        k_per_q.join(hits_per_q, "query_id", "left")
        .select(
            "query_id",
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / F.col("k"), 4
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


# --------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs
# --------------------------------------------------------------------------

_NEARDUP_ORACLE = f"""
WITH buckets AS (
  SELECT vec_id, embedding,
    {_bucket_expr(_plane_coeff_duck, lambda d: f"embedding[{d + 1}]")} AS bucket
  FROM embeddings
),
scored AS (
  SELECT
    q.vec_id AS vec_a,
    v.vec_id AS vec_b,
    round({_COSINE_SQL}, 4) AS cosine
  FROM buckets q
  JOIN buckets v ON q.bucket = v.bucket AND q.vec_id < v.vec_id
)
SELECT vec_a, vec_b, cosine
FROM scored
WHERE cosine >= {NEARDUP_COS}
ORDER BY vec_a, vec_b
"""


@register(
    "embedding_neardup",
    _NEARDUP_ORACLE,
    doc=f"LSH-bucketed embedding near-dup pairs (cosine ≥ {NEARDUP_COS})",
)
def embedding_neardup(
    spark: SparkSession, sf_dir: str, max_bucket: int = MAX_BAND_BUCKET
) -> DataFrame:
    """Scale path: candidates come from an EQUI-JOIN on the sign-LSH
    bucket (the similarity_lsh_bucket key), never a triangular all-pairs
    self-join — candidate count is Σ_bucket n_b², not N². Cosine is
    verified only inside buckets. Recall is partial by design (sign-LSH
    collisions concentrate high-cosine pairs); the oracle replays the
    identical buckets so results match exactly, and
    embedding_neardup_exact is the fixture-scale all-pairs twin for
    recall measurement.

    Same adversarial-skew guard as the dedup band joins: a degenerate
    corpus (mass-duplicated embeddings — e.g. the zero vector or a
    boilerplate doc re-embedded millions of times) piles into ONE sign
    bucket; past ``max_bucket`` that bucket degrades from clique to star
    candidates (dedup.capped_bucket_pairs), each still cosine-verified.
    The fixture never reaches the cap, so the oracle stays exact."""
    emb = load(spark, sf_dir, "embeddings")
    bucket = _bucket_expr(_plane_coeff_spark, lambda d: f"element_at(embedding, {d + 1})")
    # Both join sides read the bucketed table; materialize the 8×64-term
    # projection once (cluster analog: persist the bucket-keyed index).
    buckets = (
        emb.selectExpr("vec_id", "embedding", f"{bucket} AS bucket")
        .withColumn("nrm", _norm(F.col("embedding")))
        # EAGER localCheckpoint (r13 A/B, VERDICT r12 #1): builder+count
        # best-of-3 eager 1.42 s vs lazy 1.67 s vs persist 1.97 s vs
        # none 2.54 s — the r12 persist regression reverted. The 4-5
        # consumers (cap probe + both clique sides + both star sides)
        # each re-canonicalize the 8x64-term bucket expression under
        # persist; ExistingRDD plans don't.
        .localCheckpoint(eager=True, storageLevel=CKPT_LEVEL)
    )
    cos = _dot(F.col("embedding_a"), F.col("embedding_b")) / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        capped_bucket_pairs(buckets, ["bucket"], "vec_id", ("embedding", "nrm"), max_bucket)
        .select("vec_a", "vec_b", F.round(cos, 4).alias("cosine"))
        .filter(F.col("cosine") >= NEARDUP_COS)
        .orderBy("vec_a", "vec_b")
    )


_NEARDUP_EXACT_ORACLE = f"""
WITH scored AS (
  SELECT
    q.vec_id AS vec_a,
    v.vec_id AS vec_b,
    round({_COSINE_SQL}, 4) AS cosine
  FROM embeddings q
  JOIN embeddings v ON q.vec_id < v.vec_id
)
SELECT vec_a, vec_b, cosine
FROM scored
WHERE cosine >= {NEARDUP_COS}
ORDER BY vec_a, vec_b
"""


@register(
    "embedding_neardup_exact",
    _NEARDUP_EXACT_ORACLE,
    doc=f"all-pairs near-dup oracle twin (cosine ≥ {NEARDUP_COS}) — fixture-scale only",
    fixture_scale_only=True,
)
def embedding_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture-scale ground truth for embedding_neardup's recall: the
    triangular all-pairs self-join. O(N²) BY DESIGN — run only at test
    scale; the production entry point is embedding_neardup (LSH-bucketed
    equi-join)."""
    # Optimization r12: spread the streamed side (the O(N²) fold work ran
    # on the scan's single task) and compute each side's norm once per
    # vector instead of once per pair — same fold order, same doubles.
    emb = load_spread(spark, sf_dir, "embeddings")
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("q_emb"),
        _norm(F.col("embedding")).alias("a_nrm"),
    )
    b = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("v_emb"),
        _norm(F.col("embedding")).alias("b_nrm"),
    )
    cos = _dot(F.col("q_emb"), F.col("v_emb")) / (F.col("a_nrm") * F.col("b_nrm"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", F.round(cos, 4).alias("cosine"))
        .filter(F.col("cosine") >= NEARDUP_COS)
        .orderBy("vec_a", "vec_b")
    )


# --------------------------------------------------------------------------
# Int8 scalar quantization (per-dimension min/max codes + reconstruction)
# --------------------------------------------------------------------------

_QUANT_ORACLE = f"""
WITH dims AS (
  SELECT i,
         min(CAST(embedding[i] AS DOUBLE)) AS mn,
         max(CAST(embedding[i] AS DOUBLE)) AS mx
  FROM embeddings, UNNEST(range(1, {DIM + 1})) AS t(i)
  GROUP BY i
),
stats AS (
  SELECT list(mn ORDER BY i) AS mn_arr, list(mx ORDER BY i) AS mx_arr FROM dims
),
coded AS (
  SELECT e.vec_id, e.embedding, s.mn_arr, s.mx_arr,
    list_transform(range(1, {DIM + 1}), i ->
      CASE WHEN s.mx_arr[i] > s.mn_arr[i]
           THEN CAST(round((CAST(e.embedding[i] AS DOUBLE) - s.mn_arr[i])
                           / (s.mx_arr[i] - s.mn_arr[i]) * 255) AS BIGINT)
           ELSE 0 END
    ) AS codes
  FROM embeddings e, stats s
)
SELECT vec_id,
  codes[1] AS code_0,
  codes[2] AS code_1,
  CAST(len(list_filter(codes, c -> c = 0 OR c = 255)) AS BIGINT) AS n_saturated,
  round(list_sum(list_transform(range(1, {DIM + 1}), i ->
      abs(CAST(embedding[i] AS DOUBLE)
          - (mn_arr[i] + CAST(codes[i] AS DOUBLE) / 255 * (mx_arr[i] - mn_arr[i])))
  )) / {DIM}, 6) AS mae
FROM coded
ORDER BY vec_id
"""


@register(
    "embedding_int8_quantize",
    _QUANT_ORACLE,
    doc="int8 scalar quantization with per-dimension min/max + MAE audit",
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar quantization, the 4× vector-store compaction step: learn
    per-dimension [min, max] over the corpus (ONE narrow aggregate — 64
    output rows regardless of corpus size), broadcast the 64-value range
    arrays back, and map each vector to uint8 codes plus a per-vector
    mean-absolute reconstruction error for the quality audit.

    Plan shape at 100 TB: the stats aggregate's shuffle payload is
    (dim, min, max) — bytes, not vectors; the coding pass is a broadcast
    crossJoin of ONE stats row into a codegen'd projection, zero shuffle
    of the embedding table. Summation folds run index-ordered (matching
    list_sum) so the audit reproduces bit-for-bit on any engine."""
    emb = load(spark, sf_dir, "embeddings")
    dims = (
        emb.select(F.posexplode("embedding").alias("i0", "v"))
        .groupBy("i0")
        .agg(
            F.min(F.col("v").cast("double")).alias("mn"),
            F.max(F.col("v").cast("double")).alias("mx"),
        )
    )
    stats = dims.agg(
        F.transform(F.array_sort(F.collect_list(F.struct("i0", "mn"))), lambda x: x.mn).alias(
            "mn_arr"
        ),
        F.transform(F.array_sort(F.collect_list(F.struct("i0", "mx"))), lambda x: x.mx).alias(
            "mx_arr"
        ),
    )
    idx = F.sequence(F.lit(1), F.lit(DIM))

    def el(arr, i):
        return F.element_at(arr, i)

    coded = emb.crossJoin(F.broadcast(stats)).withColumn(
        "codes",
        F.transform(
            idx,
            lambda i: F.when(
                el(F.col("mx_arr"), i) > el(F.col("mn_arr"), i),
                F.round(
                    (el(F.col("embedding"), i).cast("double") - el(F.col("mn_arr"), i))
                    / (el(F.col("mx_arr"), i) - el(F.col("mn_arr"), i))
                    * 255
                ).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        ),
    )
    recon_err = F.transform(
        idx,
        lambda i: F.abs(
            el(F.col("embedding"), i).cast("double")
            - (
                el(F.col("mn_arr"), i)
                + el(F.col("codes"), i).cast("double")
                / 255
                * (el(F.col("mx_arr"), i) - el(F.col("mn_arr"), i))
            )
        ),
    )
    mae = F.aggregate(recon_err, F.lit(0.0), lambda acc, x: acc + x) / DIM
    return (
        coded.select(
            "vec_id",
            el(F.col("codes"), F.lit(1)).alias("code_0"),
            el(F.col("codes"), F.lit(2)).alias("code_1"),
            F.size(F.filter("codes", lambda c: (c == 0) | (c == 255))).cast("long").alias(
                "n_saturated"
            ),
            F.round(mae, 6).alias("mae"),
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# Arrow-vectorized brute-force top-k (the measured scale path)
# --------------------------------------------------------------------------


def _make_cosine_scorer(queries_np, query_ids):
    """Closure-built mapInPandas kernel (workers can't import this
    package): numpy matmul of each Arrow batch against the broadcast
    query matrix."""

    def score(batches):
        import numpy as np
        import pandas as pd

        qn = queries_np / np.linalg.norm(queries_np, axis=1, keepdims=True)
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            vn = v / np.linalg.norm(v, axis=1, keepdims=True)
            cos = vn @ qn.T  # (batch, n_queries)
            n_b, n_q = cos.shape
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(query_ids, n_b),
                    "neighbor_id": np.tile(pdf["vec_id"].to_numpy(), n_q),
                    "cosine": np.round(cos.T.ravel(), 4),
                }
            )

    return score


@register(
    "similarity_topk_vectorized",
    None,  # rows-only: numpy pairwise summation vs the oracle's serial fold
    doc=f"Arrow-vectorized cosine top-{TOPK}: mapInPandas + numpy matmul",
    witness=("fold_err",),
)
def similarity_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The throughput twin of ``similarity_topk``: queries collect to a
    (Q×dim) numpy matrix on the driver (tiny — Q is user-query count, not
    corpus) and ship inside the mapInPandas closure; each executor scores
    its Arrow batches with one BLAS matmul instead of per-element folds.
    Registered rows-only because numpy's pairwise summation can differ
    from the oracle's serial fold in the last ulp; the test asserts the
    ranking matches the exact operator. Same downstream top-k window,
    same zero-shuffle corpus scan."""
    from pyspark.sql.window import Window

    emb = load(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    import numpy as np

    query_ids = np.array([r.vec_id for r in qrows], dtype="int64")
    queries_np = np.array([r.embedding for r in qrows], dtype="float64")

    scored = emb.select("vec_id", "embedding").mapInPandas(
        _make_cosine_scorer(queries_np, query_ids),
        schema="query_id long, neighbor_id long, cosine double",
    )
    scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    res = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
    # Self-verifying invariant: re-score ONLY the k×Q result rows with the
    # sequential-fold cosine (the oracle-checked similarity_topk path) and
    # emit the per-row disagreement — numpy pairwise summation vs serial
    # fold must agree to the rounding grid (tests assert max ≤ 1e-4). The
    # result side is tiny, so it broadcasts into two embedding lookups;
    # the corpus-scan cost of the query is unchanged.
    q_side = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    v_side = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("v_emb"))
    fold_cos = _dot(F.col("q_emb"), F.col("v_emb")) / (
        _norm(F.col("q_emb")) * _norm(F.col("v_emb"))
    )
    with_q = q_side.join(F.broadcast(res), "query_id")  # k×Q rows
    return (
        v_side.join(F.broadcast(with_q), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            "cosine",
            "rank",
            F.round(F.abs(F.col("cosine") - F.round(fold_cos, 4)), 4).alias("fold_err"),
        )
        .orderBy("query_id", "rank")
    )


# --------------------------------------------------------------------------
# mapInArrow: zero-copy Arrow-batch kernel (no pandas materialization)
# --------------------------------------------------------------------------

_NORMS_ARROW_ORACLE = """
SELECT vec_id,
       round(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm
FROM embeddings
ORDER BY vec_id
"""


def _make_norms_arrow_kernel():
    """Closure factory (pickles by VALUE — the grading driver's workers
    don't have this package importable; a module-level kernel pickles by
    reference and dies with ModuleNotFoundError)."""

    def norms_arrow_kernel(batches):
        # RecordBatch -> RecordBatch: flat Arrow list buffer -> (n, dim)
        # numpy view -> one vectorized reduction. No pandas objects
        # anywhere — the cheapest Python-boundary crossing Spark offers.
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            ids = batch.column(0)
            emb = batch.column(1)
            flat = emb.flatten().to_numpy(zero_copy_only=False).astype("float64")
            n = len(batch)
            dim = len(flat) // n if n else 0
            norms = np.sqrt((flat.reshape(n, dim) ** 2).sum(axis=1)).round(4)
            yield pa.RecordBatch.from_arrays([ids, pa.array(norms)], ["vec_id", "l2_norm"])

    return norms_arrow_kernel


@register(
    "embedding_norms_arrow",
    _NORMS_ARROW_ORACLE,
    doc="L2 norms via mapInArrow (RecordBatch-level kernel, no pandas)",
)
def embedding_norms_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` — the third Python-boundary tier after row UDFs and
    Pandas UDFs: the kernel receives raw Arrow RecordBatches, so there is
    no pandas Series materialization at all; the list column flattens to
    one contiguous numpy view and the norm is a single vectorized
    reduction per batch. Deterministic (squares summed by numpy pairwise
    over a fixed-order buffer, rounded) so — unlike the matmul scorer —
    this IS oracle-checked. Scale: embarrassingly parallel map over
    partitions, zero shuffle, batch size bounded by
    spark.sql.execution.arrow.maxRecordsPerBatch."""
    emb = load(spark, sf_dir, "embeddings")
    out = emb.select("vec_id", "embedding").mapInArrow(
        _make_norms_arrow_kernel(), schema="vec_id long, l2_norm double"
    )
    return out.orderBy("vec_id")


# --------------------------------------------------------------------------
# Exact quantized covariance / Gram pass (the input to PCA & whitening)
# --------------------------------------------------------------------------

COV_Q = 1 << 20  # per-coordinate quantization: |v| < 1 so |q| < 2^20
_COV_DIM = 64

_COV_ORACLE = f"""
WITH q AS (
  SELECT list_transform(embedding, v -> CAST(floor(v * {COV_Q}) AS BIGINT)) AS qv
  FROM embeddings
),
s2 AS (
  SELECT i.i - 1 AS i, j.j - 1 AS j, CAST(sum(qv[i.i] * qv[j.j]) AS BIGINT) AS s_ij
  FROM q, unnest(range(1, {_COV_DIM} + 1)) AS i(i), unnest(range(1, {_COV_DIM} + 1)) AS j(j)
  WHERE j.j >= i.i
  GROUP BY 1, 2
),
s1 AS (
  SELECT i.i - 1 AS d, CAST(sum(qv[i.i]) AS BIGINT) AS s
  FROM q, unnest(range(1, {_COV_DIM} + 1)) AS i(i)
  GROUP BY 1
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q)
SELECT s2.i, s2.j, n.n, s2.s_ij, a.s AS s_i, b.s AS s_j,
       round((CAST(s2.s_ij AS DOUBLE) / n.n
              - (CAST(a.s AS DOUBLE) / n.n) * (CAST(b.s AS DOUBLE) / n.n))
             / {COV_Q}.0 / {COV_Q}.0, 12) AS cov
FROM s2 JOIN s1 a ON a.d = s2.i JOIN s1 b ON b.d = s2.j CROSS JOIN n
ORDER BY i, j
"""


@register(
    "embedding_covariance",
    _COV_ORACLE,
    doc="exact quantized upper-triangle covariance of the embedding matrix",
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The covariance / second-moment pass every PCA, whitening, or
    feature-decorrelation step needs over an embedding corpus — computed
    EXACTLY: coordinates quantize to integers (floor(v·2^20); |v| < 1 in
    this corpus), so the moment sums are integer arithmetic with no
    cross-engine float-order divergence, and the derived `cov` double is
    a fixed sequence of IEEE divisions from those integers (deterministic
    — no transcendentals). At sf-bench corpus sizes the sums fit int64
    with ~100× headroom; a trillion-row corpus would drop COV_Q one bit
    per 4× rows (or move the sums to decimal).

    Scale shape: the d(d+1)/2 pair products explode MAP-SIDE from each
    quantized vector (one array transform — no self-join, the array
    never shuffles) and Catalyst's partial aggregation collapses them to
    2 080 groups per task before the only shuffle; the first-moment table
    (64 rows) and the 1-row count broadcast onto the result. Driver-side
    eigen-decomposition of the 2 080-entry output is metadata-scale —
    the standard split for distributed PCA.

    ``load_spread`` (optimization r12, guide §2.5): the 2 080-per-vector
    pair explode otherwise runs entirely on the single-row-group scan's
    one task — measured 2.8 s → 0.8 s on the s2 pass at sf0.1."""
    emb = load_spread(spark, sf_dir, "embeddings")
    q = emb.select(
        F.expr(f"transform(embedding, v -> CAST(floor(v * {COV_Q}) AS BIGINT))").alias("qv")
    )
    pairs = q.select(
        F.explode(
            F.expr(
                "flatten(transform(qv, (x, i) -> "
                "transform(slice(qv, i + 1, size(qv) - i), "
                "(y, k) -> struct(i AS i, i + k AS j, x * y AS p))))"
            )
        ).alias("e")
    ).select("e.i", "e.j", "e.p")
    s2 = pairs.groupBy("i", "j").agg(F.sum("p").cast("long").alias("s_ij"))
    s1 = (
        q.select(F.posexplode("qv").alias("d", "qd"))
        .groupBy("d")
        .agg(F.sum("qd").cast("long").alias("s"))
    )
    n = q.agg(F.count(F.lit(1)).cast("long").alias("n"))
    cov = F.round(
        (
            F.col("s_ij").cast("double") / F.col("n")
            - (F.col("s_i").cast("double") / F.col("n"))
            * (F.col("s_j").cast("double") / F.col("n"))
        )
        / float(COV_Q)
        / float(COV_Q),
        12,
    )
    return (
        s2.join(F.broadcast(s1.withColumnRenamed("d", "i").withColumnRenamed("s", "s_i")), "i")
        .join(F.broadcast(s1.withColumnRenamed("d", "j").withColumnRenamed("s", "s_j")), "j")
        .join(F.broadcast(n))
        .select("i", "j", "n", "s_ij", "s_i", "s_j", cov.alias("cov"))
        .orderBy("i", "j")
    )


PCA_K = 4
PCA_TOPK = 20

# Collected covariance rows per corpus dir (exact integers, immutable
# input — see the memo note inside embedding_pca_project).
_COV_CACHE: dict[tuple, list] = {}


@register(
    "embedding_pca_project",
    None,
    witness=("var_pc1", "eig1"),
    doc=f"distributed PCA: top-{PCA_K} components from the exact covariance, corpus projected JVM-side (rows-only + variance invariant)",
)
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA, the standard split: the d×d covariance reduces on
    the cluster (the exact integer pass `embedding_covariance` provides),
    its eigendecomposition happens driver-side on the metadata-scale
    2 080-entry matrix (same bounded-driver-work pattern as the PQ/IVF
    codebook training), and the corpus is projected onto the top-k
    components entirely JVM-side — each score is one
    aggregate(zip_with(...)) fold against the broadcast component
    constants, no Python in the data path.

    Rows-only contract (eigendecomposition isn't SQL-expressible), so the
    output carries its own witnesses: `var_pc1` (corpus variance of the
    first score) and `eig1` ride along per row; tests pin
    var_pc1/eig1 ≈ 1 — a wrong covariance, eigenvector, or projection
    breaks that identity. Component sign is fixed (largest-|coordinate|
    positive) so results are reproducible across numpy builds."""
    import numpy as np

    # The collected covariance is metadata-scale (2 080 rows) and EXACT
    # integer sums over an immutable corpus dir — bit-identical on every
    # recompute — so it memoizes per dir like the ANN codebooks do: the
    # model-build pass runs once, every later projection reuses it.
    cov_key = fixture_fingerprint(sf_dir, "embeddings")
    if cov_key not in _COV_CACHE:
        _COV_CACHE[cov_key] = embedding_covariance(spark, sf_dir).collect()
    cov_rows = _COV_CACHE[cov_key]
    d = max(r["j"] for r in cov_rows) + 1
    C = np.zeros((d, d))
    for r in cov_rows:
        C[r["i"], r["j"]] = C[r["j"], r["i"]] = r["cov"]
    vals, vecs = np.linalg.eigh(C)
    order = np.argsort(vals)[::-1][:PCA_K]
    eigs = vals[order]
    comps = vecs[:, order]
    for k in range(comps.shape[1]):  # deterministic sign convention
        if comps[np.abs(comps[:, k]).argmax(), k] < 0:
            comps[:, k] = -comps[:, k]

    emb = load(spark, sf_dir, "embeddings")
    # Per-coordinate means for centering come from the covariance pass's
    # own first moments (s_i / n / 2^20) — no extra corpus scan; the
    # quantization offset (< 2^-20 per coordinate) is inside the same
    # budget the eigenvectors already carry.
    n_rows = cov_rows[0]["n"]
    mu = np.zeros(d)
    for r in cov_rows:
        if r["i"] == r["j"]:
            mu[r["i"]] = r["s_i"] / n_rows / COV_Q

    def score_expr(k: int):
        # float(c): numpy>=2 repr of np.float64 is 'np.float64(x)', which
        # would be invalid SQL — builtin-float repr is stable across versions.
        arr = "array(" + ",".join(f"{float(c)!r}D" for c in comps[:, k]) + ")"
        mu_arr = "array(" + ",".join(f"{float(m)!r}D" for m in mu) + ")"
        return F.expr(
            f"aggregate(zip_with(zip_with(embedding, {mu_arr}, (v, m) -> v - m), {arr}, "
            "(x, w) -> x * w), 0D, (acc, t) -> acc + t)"
        )

    scored = emb.select(
        "vec_id", *[F.round(score_expr(k), 6).alias(f"pc{k + 1}") for k in range(PCA_K)]
    ).persist(CKPT_LEVEL)
    stats = scored.agg(F.round(F.var_pop("pc1"), 6).alias("var_pc1"))
    return (
        scored.orderBy(F.desc(F.abs(F.col("pc1"))), F.asc("vec_id"))
        .limit(PCA_TOPK)
        .crossJoin(F.broadcast(stats))
        .withColumn("eig1", F.round(F.lit(float(eigs[0])), 6))
        .orderBy(F.desc(F.abs(F.col("pc1"))), F.asc("vec_id"))
    )


# --------------------------------------------------------------------------
# Exact per-label centroid-distance outliers (embedding QA / curation)
# --------------------------------------------------------------------------

OUTLIER_TOPK = 3

_OUTLIER_ORACLE = f"""
WITH q AS (
  SELECT label, vec_id,
         list_transform(embedding, v -> CAST(floor(v * {COV_Q}) AS BIGINT)) AS qv
  FROM embeddings
),
s1 AS (
  SELECT label, i.i AS i, CAST(sum(qv[i.i]) AS BIGINT) AS s
  FROM q, unnest(range(1, {_COV_DIM} + 1)) AS i(i)
  GROUP BY 1, 2
),
n AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM q GROUP BY label),
d2 AS (
  SELECT q.label, q.vec_id, n.n,
         sum((CAST(n.n AS HUGEINT) * qv[s1.i] - s1.s)
             * (CAST(n.n AS HUGEINT) * qv[s1.i] - s1.s)) AS d2
  FROM q JOIN n USING (label) JOIN s1 ON s1.label = q.label
  GROUP BY 1, 2, 3
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY label ORDER BY d2 DESC, vec_id) AS rk
  FROM d2
)
SELECT label, CAST(rk AS BIGINT) AS rank, vec_id, n AS n_vecs,
       round(sqrt(CAST(d2 AS DOUBLE)) / n / {COV_Q} , 6) AS dist
FROM ranked WHERE rk <= {OUTLIER_TOPK}
ORDER BY label, rank
"""


@register(
    "embedding_outlier_centroid",
    _OUTLIER_ORACLE,
    doc=f"top-{OUTLIER_TOPK} per-label centroid-distance outliers (exact decimal arithmetic)",
)
def embedding_outlier_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier detection, the curation pass that flags
    mislabeled or corrupt vectors: for every label, rank members by
    distance to the label centroid and keep the top offenders.

    Exactness: the centroid mean is NEVER formed as a float — the
    comparison key is the integer-scaled squared distance
    ||n*x_q - S||^2 (x_q = floor(2^20 x), S = per-label coordinate sum),
    carried in DECIMAL(38,0) on the Spark side and HUGEINT in the
    oracle, so the ranking and the reported distance (one deterministic
    sqrt/divide at the end) are bit-identical cross-engine at any n
    where n^2 * |x|^2 * dim < 1e38 (~1e15 vectors per label).

    Scale shape: per-(label, coordinate) sums explode map-side and
    partial-aggregate to a labels x 64 metadata table that broadcasts
    back; each vector's distance is a single JVM-side zip_with fold (no
    Python); the per-label top-k window partitions on label. One wide
    scan, one metadata shuffle, one label-keyed window. Reference
    analogue: none — LLM-pipeline surface alongside
    `embedding_covariance` (same quantization convention)."""
    return centroid_outliers(load(spark, sf_dir, "embeddings"))


def centroid_outliers(emb: DataFrame, topk: int = OUTLIER_TOPK) -> DataFrame:
    """Centroid-outlier core over any (label, vec_id, embedding) frame —
    factored out so tests can drive it on a synthetic cluster with one
    injected far-away vector."""
    qe = emb.select(
        "label",
        "vec_id",
        F.expr(f"transform(embedding, v -> CAST(floor(v * {COV_Q}) AS BIGINT))").alias("qv"),
        # r13 A/B: eager ckpt 0.67 s ≈ lazy 0.69 ≈ persist 0.71 (count,
        # best-of-3) — the r12 persist regression was position noise at
        # this size; eager kept as the (slightly) fastest + r11 form.
    ).localCheckpoint(eager=True, storageLevel=CKPT_LEVEL)
    per_coord = (
        qe.select("label", F.posexplode("qv").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.sum("x").cast("long").alias("s"))
    )
    label_stats = per_coord.groupBy("label").agg(
        F.expr("transform(array_sort(collect_list(struct(i, s))), p -> p.s)").alias("sv")
    )
    n_by_label = qe.groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("n"))
    stats = label_stats.join(n_by_label, "label")
    joined = qe.join(F.broadcast(stats), "label")
    d2 = joined.select(
        "label",
        "vec_id",
        "n",
        F.expr(
            "aggregate("
            " zip_with(qv, sv, (x, s) -> cast(n as decimal(18,0)) * x - s),"
            " cast(0 as decimal(38,0)),"
            " (acc, v) -> acc + v * v)"
        ).alias("d2"),
    )
    w = Window.partitionBy("label").orderBy(F.desc("d2"), "vec_id")
    return (
        d2.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= topk)
        .select(
            "label",
            F.col("rk").alias("rank"),
            "vec_id",
            F.col("n").alias("n_vecs"),
            F.round(
                F.sqrt(F.col("d2").cast("double")) / F.col("n") / F.lit(COV_Q), 6
            ).alias("dist"),
        )
        .orderBy("label", "rank")
    )


# --------------------------------------------------------------------------
# 1-bit sign sketch + Hamming top-k (the cheapest ANN rung)
# --------------------------------------------------------------------------


def _sign_sketch_expr(elem_fn) -> str:
    """64 sign bits packed into ONE BIGINT: bit d set iff coordinate d is
    non-negative. Bit 63 is added as the two's-complement min-long
    literal (expressed as -(2^63-1)-1 — the bare literal mis-parses in
    some SQL readers, and DuckDB refuses 1<<63): arithmetic addition of
    distinct powers of two equals bitwise OR here, and the resulting
    bit PATTERN is identical in both engines."""
    terms = [
        f"(CASE WHEN CAST({elem_fn(d)} AS DOUBLE) >= 0 THEN {1 << d} ELSE 0 END)"
        for d in range(63)
    ]
    terms.append(
        f"(CASE WHEN CAST({elem_fn(63)} AS DOUBLE) >= 0"
        " THEN CAST(-9223372036854775807 AS BIGINT) - 1 ELSE 0 END)"
    )
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


_HAMMING_ORACLE = f"""
WITH sk AS (
  SELECT vec_id, {_sign_sketch_expr(lambda d: f"embedding[{d + 1}]")} AS sketch
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         CAST(bit_count(xor(q.sketch, v.sketch)) AS BIGINT) AS hamming
  FROM sk q JOIN sk v ON v.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY hamming, neighbor_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, hamming, rank
FROM ranked WHERE rank <= {TOPK}
ORDER BY query_id, rank
"""


@register(
    "similarity_topk_hamming",
    _HAMMING_ORACLE,
    doc=f"1-bit sign-sketch Hamming top-{TOPK} (8-byte vectors, exact integer distances)",
)
def similarity_topk_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 1-bit rung of the ANN ladder (Charikar'02 sign random
    projection, identity planes): every 256-byte vector collapses to a
    SINGLE 8-byte long of coordinate sign bits, and candidate distance
    is one xor + popcount — integer-exact, hence (unlike the
    float-scoring rungs) fully oracle-checked. Production role: the
    cheapest pre-filter — Hamming-rank first, true-cosine refine the
    survivors (`similarity_topk_ivfpq_refine` shows the refine stage).

    Scale shape: sketching is a zero-shuffle projection (32x smaller
    shuffle/cache footprint than raw vectors); the 20-query sketch set
    broadcasts against the corpus exactly like `similarity_topk`, with
    per-candidate cost dropping from a 64-term float fold to one xor;
    the per-query top-k reduces through a bounded window. Bit 63 rides
    the two's-complement sign — arithmetic sum of distinct powers of two
    IS the packed bit pattern in both engines."""
    emb = load(spark, sf_dir, "embeddings")
    sketch = _sign_sketch_expr(lambda d: f"element_at(embedding, {d + 1})")
    sk = emb.selectExpr("vec_id", f"{sketch} AS sketch")
    q = sk.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("sketch").alias("q_sketch")
    )
    v = sk.select(F.col("vec_id").alias("neighbor_id"), F.col("sketch").alias("v_sketch"))
    scored = v.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id")).select(
        "query_id",
        "neighbor_id",
        F.expr("CAST(bit_count(q_sketch ^ v_sketch) AS BIGINT)").alias("hamming"),
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "hamming", "rank")
        .orderBy("query_id", "rank")
    )


# --------------------------------------------------------------------------
# Matryoshka truncation audit (Kusupati et al. 2022): how much cosine
# structure survives keeping only the first k dimensions
# --------------------------------------------------------------------------

_MRL_KS = (8, 16, 32, 64)
_MRL_SCALE = 1_000_000_000  # |cos_k − cos_full| floor-quantized to 1e-9

_MATRYOSHKA_ORACLE = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, v -> CAST(floor(v * {COV_Q}) AS BIGINT)) AS qv
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS pid, a.qv AS qa, b.qv AS qb
  FROM q a JOIN q b ON b.vec_id = a.vec_id + 1 AND a.vec_id % 2 = 0
),
folded AS (
  SELECT kk.k,
         CAST(sum(CAST(qa[i.i] AS HUGEINT) * qb[i.i])
              FILTER (i.i <= kk.k) AS HUGEINT) AS dot_k,
         CAST(sum(CAST(qa[i.i] AS HUGEINT) * qa[i.i])
              FILTER (i.i <= kk.k) AS HUGEINT) AS na_k,
         CAST(sum(CAST(qb[i.i] AS HUGEINT) * qb[i.i])
              FILTER (i.i <= kk.k) AS HUGEINT) AS nb_k,
         CAST(sum(CAST(qa[i.i] AS HUGEINT) * qb[i.i]) AS HUGEINT) AS dot_f,
         CAST(sum(CAST(qa[i.i] AS HUGEINT) * qa[i.i]) AS HUGEINT) AS na_f,
         CAST(sum(CAST(qb[i.i] AS HUGEINT) * qb[i.i]) AS HUGEINT) AS nb_f
  FROM pairs, unnest({list(_MRL_KS)}) AS kk(k), unnest(range(1, {DIM} + 1)) AS i(i)
  GROUP BY pairs.pid, kk.k
),
deltas AS (
  SELECT k,
         CAST(floor(abs(
             CAST(dot_k AS DOUBLE) / sqrt(CAST(na_k AS DOUBLE) * CAST(nb_k AS DOUBLE))
           - CAST(dot_f AS DOUBLE) / sqrt(CAST(na_f AS DOUBLE) * CAST(nb_f AS DOUBLE))
         ) * {_MRL_SCALE}) AS BIGINT) AS d_e9
  FROM folded
  WHERE na_k > 0 AND nb_k > 0
)
SELECT CAST(k AS INTEGER) AS k,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(d_e9) AS BIGINT) AS sum_delta_e9,
       CAST(CAST(sum(d_e9) AS BIGINT) AS DOUBLE) / count(*) / {_MRL_SCALE}
         AS mean_abs_delta
FROM deltas
GROUP BY k
ORDER BY k
"""


@register(
    "embedding_matryoshka_audit",
    _MATRYOSHKA_ORACLE,
    doc="cosine drift when truncating embeddings to the first k dims (MRL audit)",
)
def embedding_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Would serving the first k dims suffice? For deterministic
    consecutive-id pairs, compare prefix-k cosine against full cosine for
    k ∈ {8, 16, 32, 64} — the decision audit behind Matryoshka
    (truncatable) representations.

    Exactness: coordinates floor-quantize to 2^20 (the covariance-family
    convention), so every dot/norm is an exact DECIMAL(38,0) fold;
    cosines are fixed IEEE expressions and |Δcos| floor-quantizes to 1e-9
    BEFORE the sum (the PSI recipe), making the corpus total an exact
    integer.

    Scale: the pair join is id-keyed (no self-join fan-out), the per-pair
    fold is a JVM-side zip_with/aggregate inside the scan stage, and the
    output is 4 rows."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.transform("embedding", lambda v: F.floor(v * COV_Q).cast("long")).alias("qv"),
    )
    a = q.filter(F.col("vec_id") % 2 == 0).select(F.col("vec_id").alias("pid"), F.col("qv").alias("qa"))
    b = q.select((F.col("vec_id") - 1).alias("pid"), F.col("qv").alias("qb"))
    pairs = a.join(b, "pid")

    def _fold(x: str, y: str, k) -> F.Column:
        return F.expr(
            f"aggregate(zip_with(slice({x}, 1, {k}), slice({y}, 1, {k}),"
            f" (p, r) -> CAST(p AS DECIMAL(38,0)) * r),"
            f" CAST(0 AS DECIMAL(38,0)), (acc, v) -> acc + v)"
        )

    with_k = pairs.select(
        "pid", "qa", "qb", F.explode(F.array(*[F.lit(k) for k in _MRL_KS])).alias("k")
    )
    folded = with_k.select(
        "k",
        _fold("qa", "qb", "k").alias("dot_k"),
        _fold("qa", "qa", "k").alias("na_k"),
        _fold("qb", "qb", "k").alias("nb_k"),
        _fold("qa", "qb", DIM).alias("dot_f"),
        _fold("qa", "qa", DIM).alias("na_f"),
        _fold("qb", "qb", DIM).alias("nb_f"),
    )
    deltas = folded.filter((F.col("na_k") > 0) & (F.col("nb_k") > 0)).select(
        "k",
        F.expr(
            f"""CAST(floor(abs(
                  CAST(dot_k AS DOUBLE) / sqrt(CAST(na_k AS DOUBLE) * CAST(nb_k AS DOUBLE))
                - CAST(dot_f AS DOUBLE) / sqrt(CAST(na_f AS DOUBLE) * CAST(nb_f AS DOUBLE))
                ) * {_MRL_SCALE}) AS BIGINT)"""
        ).alias("d_e9"),
    )
    return (
        deltas.groupBy(F.col("k").cast("int").alias("k"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("d_e9").cast("long").alias("sum_delta_e9"),
            (F.sum("d_e9").cast("long").cast("double") / F.count(F.lit(1)) / _MRL_SCALE).alias(
                "mean_abs_delta"
            ),
        )
        .orderBy("k")
    )


# --------------------------------------------------------------------------
# Exact ε-ball range search (the radius sibling of the top-k ANN ladder)
# --------------------------------------------------------------------------

_RANGE_NQ = 20  # query set: vec_id < 20 (the ANN ladder's convention)
# Radius on the 2^20-quantized grid: ~5% of pairs at fixture scale, i.e.
# a real-unit L2 radius of ~1.21 on the unit-ish fixture vectors.
_RANGE_R2 = 1_600_000_000_000


_RANGE_ORACLE = f"""
WITH q AS (
  SELECT vec_id, list_transform(embedding, v -> CAST(floor(v * {COV_Q}) AS BIGINT)) AS qv
  FROM embeddings
),
probes AS (SELECT vec_id, qv FROM q WHERE vec_id < {_RANGE_NQ}),
pairs AS (
  SELECT p.vec_id,
         e.vec_id AS nbr,
         CAST(list_sum(list_transform(range(1, {_COV_DIM} + 1),
              i -> (p.qv[i] - e.qv[i]) * (p.qv[i] - e.qv[i]))) AS BIGINT) AS d2
  FROM probes p, q e
  WHERE e.vec_id <> p.vec_id
)
SELECT vec_id,
       CAST(sum(CASE WHEN d2 <= {_RANGE_R2} THEN 1 ELSE 0 END) AS BIGINT) AS n_neighbors,
       CAST(coalesce(min(d2) FILTER (WHERE d2 <= {_RANGE_R2}), -1) AS BIGINT) AS min_d2,
       CAST(coalesce(sum(nbr) FILTER (WHERE d2 <= {_RANGE_R2}), 0) AS BIGINT) AS sum_nbr_ids
FROM pairs
GROUP BY vec_id
ORDER BY vec_id
"""


@register(
    "similarity_range_radius",
    _RANGE_ORACLE,
    doc=f"exact ε-ball range search (quantized L2, {_RANGE_NQ} probes) — fully oracle-checked",
)
def similarity_range_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (ε-ball) similarity search: for each probe vector, count and
    checksum the corpus vectors within a fixed L2 radius — the "find
    everything near this" sibling of the top-k ladder (radius recall is
    what near-dup mining actually wants: top-k misses dense neighborhoods
    and over-returns in sparse ones).

    Exactness: coordinates floor-quantize to 2^20 (the covariance-family
    convention), so every pairwise distance is an exact integer
    (|diff| < 2^21 ⇒ d² ≤ 64·2^42 < 2^48 — no overflow), making this and
    `similarity_topk_hamming` the two FULLY oracle-checked similarity
    rungs (the float rungs are recall-witnessed only).

    Scale: the probe set is a {_RANGE_NQ}-row broadcast into the
    embeddings scan — zero shuffle of the corpus side; each distance is
    one JVM-side zip_with/aggregate fold inside the scan stage; the
    result aggregate carries {_RANGE_NQ} keys. At 100 TB this is the
    linear-scan baseline; the IVF rungs show the pruned path."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(f"transform(embedding, v -> CAST(floor(v * {COV_Q}) AS BIGINT))").alias("qv"),
    )
    probes = emb.filter(F.col("vec_id") < _RANGE_NQ).select(
        F.col("vec_id").alias("p_id"), F.col("qv").alias("pv")
    )
    pairs = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("p_id"))
        .select(
            F.col("p_id"),
            F.col("vec_id").alias("nbr"),
            F.expr(
                "CAST(aggregate(zip_with(pv, qv, (x, y) -> (x - y) * (x - y)),"
                " 0L, (acc, v) -> acc + v) AS BIGINT)"
            ).alias("d2"),
        )
    )
    return (
        pairs.groupBy(F.col("p_id").alias("vec_id"))
        .agg(
            F.sum(F.when(F.col("d2") <= _RANGE_R2, 1).otherwise(0))
            .cast("long")
            .alias("n_neighbors"),
            F.coalesce(
                F.min(F.when(F.col("d2") <= _RANGE_R2, F.col("d2"))), F.lit(-1)
            ).cast("long").alias("min_d2"),
            F.coalesce(
                F.sum(F.when(F.col("d2") <= _RANGE_R2, F.col("nbr"))), F.lit(0)
            ).cast("long").alias("sum_nbr_ids"),
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# Metadata-filtered exact k-NN (search within the probe's label)
# --------------------------------------------------------------------------

_FILT_K = 5

_FILTERED_ORACLE = f"""
WITH q AS (
  SELECT vec_id, label,
         list_transform(embedding, v -> CAST(floor(v * {COV_Q}) AS BIGINT)) AS qv
  FROM embeddings
),
probes AS (SELECT vec_id, label, qv FROM q WHERE vec_id < {_RANGE_NQ}),
pairs AS (
  SELECT p.vec_id,
         e.vec_id AS nbr,
         CAST(list_sum(list_transform(range(1, {_COV_DIM} + 1),
              i -> (p.qv[i] - e.qv[i]) * (p.qv[i] - e.qv[i]))) AS BIGINT) AS d2
  FROM probes p JOIN q e ON e.label = p.label AND e.vec_id <> p.vec_id
),
ranked AS (
  SELECT vec_id, nbr, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, nbr) AS rk
  FROM pairs
)
SELECT vec_id, CAST(rk AS BIGINT) AS rk, nbr, d2
FROM ranked WHERE rk <= {_FILT_K}
ORDER BY vec_id, rk
"""


@register(
    "similarity_topk_filtered",
    _FILTERED_ORACLE,
    doc=f"label-filtered exact k-NN (top-{_FILT_K} within the probe's label) — fully oracle-checked",
)
def similarity_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-FILTERED nearest-neighbor search: each probe retrieves
    its top-{_FILT_K} neighbors restricted to rows sharing its label —
    the production "filtered ANN" shape (vector search with a WHERE
    clause), which pre-filter engines handle by pushing the predicate
    INTO the scan rather than over-fetching and post-filtering. Here the
    filter is an equi-join on the label key, so the candidate set never
    includes a wrong-label row — the exact-pre-filter plan.

    Exactness: the third fully oracle-checked similarity rung (after
    hamming and range): coordinates floor-quantize to 2^20 so every
    distance is an exact integer; ranking ties break on (d2, nbr).

    Scale: probes broadcast label-keyed into the corpus scan; ranking
    partitions by probe id ({_RANGE_NQ} bounded partitions). The label
    here plays the role of the IVF cell in `similarity_topk_ivf` —
    filtered search IS cell-pruned search with a semantic cell."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr(f"transform(embedding, v -> CAST(floor(v * {COV_Q}) AS BIGINT))").alias("qv"),
    )
    probes = emb.filter(F.col("vec_id") < _RANGE_NQ).select(
        F.col("vec_id").alias("p_id"), F.col("label").alias("p_label"), F.col("qv").alias("pv")
    )
    pairs = (
        emb.join(F.broadcast(probes), (F.col("label") == F.col("p_label")) & (F.col("vec_id") != F.col("p_id")))
        .select(
            F.col("p_id"),
            F.col("vec_id").alias("nbr"),
            F.expr(
                "CAST(aggregate(zip_with(pv, qv, (x, y) -> (x - y) * (x - y)),"
                " 0L, (acc, v) -> acc + v) AS BIGINT)"
            ).alias("d2"),
        )
    )
    from pyspark.sql.window import Window as _W

    w = _W.partitionBy("p_id").orderBy("d2", "nbr")
    return (
        pairs.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _FILT_K)
        .select(F.col("p_id").alias("vec_id"), "rk", "nbr", "d2")
        .orderBy("vec_id", "rk")
    )


# --------------------------------------------------------------------------
# MMR diversified re-ranking (maximal marginal relevance)
# --------------------------------------------------------------------------

_MMR_LAMBDA = 0.7
_MMR_CAND = 20
_MMR_SELECT = 5

_MMR_COS_AB = f"""
round(list_sum(list_transform(range(1, {DIM + 1}),
         i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
/ (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
 * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4)
"""

_MMR_COS_QV = f"""
round(list_sum(list_transform(range(1, {DIM + 1}),
         i -> CAST(q.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE)))
/ (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
 * sqrt(list_sum(list_transform(v.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4)
"""


def _mmr_oracle() -> str:
    lam, om = _MMR_LAMBDA, round(1.0 - _MMR_LAMBDA, 4)
    stages = [
        f"s1 AS (SELECT cid, rel, rel AS mmr FROM cand ORDER BY rel DESC, cid LIMIT 1)",
        f"sel1 AS (SELECT cid FROM s1)",
    ]
    for i in range(2, _MMR_SELECT + 1):
        prev_sel = f"sel{i - 1}"
        stages.append(
            f"""s{i} AS (
  SELECT c.cid, c.rel, {lam} * c.rel - {om} * max(p.sim) AS mmr
  FROM cand c JOIN pc p ON p.ai = c.cid AND p.bi IN (SELECT cid FROM {prev_sel})
  WHERE c.cid NOT IN (SELECT cid FROM {prev_sel})
  GROUP BY c.cid, c.rel
  ORDER BY mmr DESC, cid LIMIT 1
)"""
        )
        stages.append(
            f"sel{i} AS (SELECT cid FROM {prev_sel} UNION ALL SELECT cid FROM s{i})"
        )
    selects = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS step, cid AS vec_id, rel, mmr AS mmr_score FROM s{i}"
        for i in range(1, _MMR_SELECT + 1)
    )
    return f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
cand AS (
  SELECT v.vec_id AS cid, {_MMR_COS_QV} AS rel
  FROM embeddings v CROSS JOIN q
  WHERE v.vec_id <> 0
  ORDER BY rel DESC, cid LIMIT {_MMR_CAND}
),
cv AS (SELECT c.cid, e.embedding FROM cand c JOIN embeddings e ON e.vec_id = c.cid),
pc AS (
  SELECT a.cid AS ai, b.cid AS bi, {_MMR_COS_AB} AS sim
  FROM cv a JOIN cv b ON a.cid <> b.cid
),
{",".join(stages)}
{selects}
ORDER BY step
"""


@register(
    "similarity_mmr_rerank",
    _mmr_oracle(),
    doc=f"MMR diversified top-{_MMR_SELECT} from {_MMR_CAND} candidates (λ={_MMR_LAMBDA}, fixed greedy rounds)",
)
def similarity_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal marginal relevance (Carbonell & Goldstein 1998): re-rank
    the query's top-20 cosine candidates by greedily selecting 5 that
    trade relevance against redundancy — mmr = λ·sim(q,d) −
    (1−λ)·max_{s∈selected} sim(d,s). The standard diversity pass a
    retrieval pipeline runs between ANN candidate generation and the
    final context window.

    Exactness: relevance and pairwise similarities are rounded to 4 dp
    BEFORE selection on both engines, so every greedy argmax compares
    identical doubles; ties break on vec_id.

    Scale: candidate generation is the brute-force rung here (one
    broadcast query row); at 100 TB the candidates come from the
    IVF/LSH rungs (`similarity_topk_ivf`) and MMR's cost is unchanged —
    it only ever touches the BOUNDED candidate set (20 rows, 400
    pairwise sims). Optimization r12: the greedy selection runs on the
    DRIVER over that contract-bounded set (the `ann.py` bounded-collect
    discipline — ≤20 relevance rows + ≤380 sim rows cross the boundary
    REGARDLESS of corpus size; both inputs are still computed
    distributed). The previous in-plan unroll spent ~7 driver-blocking
    checkpoint jobs scheduling 20-row frames; the arithmetic
    (λ·rel − (1−λ)·max_sim on 4-dp-rounded doubles) is the same IEEE
    ops in the same order, so the selection and scores are
    bit-identical."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb"), _norm(F.col("embedding")).alias("q_nrm")
    )
    # Spread + hoisted query norm (optimization r12): the corpus-side
    # relevance fold ran on the scan's single task, and the single query
    # row's norm was re-folded once per corpus row. Same fold order.
    v = load_spread(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0).alias("v")
    rel = F.round(
        _dot(F.col("embedding"), F.col("q_emb"))
        / (_norm(F.col("embedding")) * F.col("q_nrm")),
        4,
    )
    cand = (
        v.crossJoin(F.broadcast(q))
        .select(F.col("vec_id").alias("cid"), rel.alias("rel"))
        .orderBy(F.col("rel").desc(), F.col("cid"))
        .limit(_MMR_CAND)
    )
    cand_rows = cand.collect()  # ≤ _MMR_CAND rows by contract
    cids = [r["cid"] for r in cand_rows]
    ids = spark.createDataFrame([(c,) for c in cids], "cid long")
    cv = emb.join(F.broadcast(ids), emb.vec_id == ids.cid).select("cid", "embedding")
    a, b = cv.alias("a"), cv.alias("b")
    sim = F.round(
        _dot(F.col("a.embedding"), F.col("b.embedding"))
        / (_norm(F.col("a.embedding")) * _norm(F.col("b.embedding"))),
        4,
    )
    pc_rows = (
        a.join(F.broadcast(b), F.col("a.cid") != F.col("b.cid"))
        .select(F.col("a.cid").alias("ai"), F.col("b.cid").alias("bi"), sim.alias("sim"))
        .collect()  # ≤ _MMR_CAND² rows by contract
    )
    sims: dict[tuple[int, int], float] = {(r["ai"], r["bi"]): r["sim"] for r in pc_rows}
    rel_of = {r["cid"]: r["rel"] for r in cand_rows}
    lam, om = _MMR_LAMBDA, round(1.0 - _MMR_LAMBDA, 4)
    # Greedy argmax over rounded doubles — ties break on the SMALLER id,
    # exactly the in-plan orderBy(score desc, vec_id asc).limit(1).
    picked: list[tuple[int, int, float, float]] = []
    if cand_rows:
        first = max(cand_rows, key=lambda r: (r["rel"], -r["cid"]))
        picked.append((1, first["cid"], first["rel"], first["rel"]))
    for step in range(2, _MMR_SELECT + 1):
        chosen = {p[1] for p in picked}
        rest = [c for c in cids if c not in chosen]
        if not rest:
            break
        scores = {
            c: lam * rel_of[c] - om * max(sims[(c, s)] for s in chosen) for c in rest
        }
        pick = max(rest, key=lambda c: (scores[c], -c))
        picked.append((step, pick, rel_of[pick], scores[pick]))
    return spark.createDataFrame(
        picked, "step long, vec_id long, rel double, mmr_score double"
    ).orderBy("step")


# --------------------------------------------------------------------------
# k-NN label-prediction accuracy (embedding-space eval)
# --------------------------------------------------------------------------

_KNN_NQ = 50
_KNN_K = 5

_KNN_ACC_ORACLE = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, q.label AS true_label,
         v.vec_id AS neighbor_id, v.label AS nbr_label,
         round({_COSINE_SQL}, 4) AS cosine
  FROM embeddings q JOIN embeddings v ON v.vec_id <> q.vec_id
  WHERE q.vec_id < {_KNN_NQ}
),
topk AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
    ) AS rk FROM scored
  ) WHERE rk <= {_KNN_K}
),
votes AS (
  SELECT query_id, true_label, nbr_label, CAST(count(*) AS BIGINT) AS v
  FROM topk GROUP BY 1, 2, 3
),
pred AS (
  SELECT query_id, true_label, nbr_label AS pred_label FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY v DESC, nbr_label
    ) AS pr FROM votes
  ) WHERE pr = 1
)
SELECT true_label AS label,
       CAST(count(*) AS BIGINT) AS n_queries,
       CAST(count(CASE WHEN pred_label = true_label THEN 1 END) AS BIGINT) AS n_correct,
       CAST(count(CASE WHEN pred_label = true_label THEN 1 END) * 1000000
            // count(*) AS BIGINT) AS acc_ppm
FROM pred
GROUP BY 1
ORDER BY label
"""


@register(
    "similarity_knn_label_accuracy",
    _KNN_ACC_ORACLE,
    doc=f"k-NN (k={_KNN_K}) label-prediction accuracy per class over {_KNN_NQ} probe vectors",
)
def similarity_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality eval by k-NN classification: predict each probe
    vector's label by majority vote of its 5 nearest neighbors (cosine,
    self excluded; ties broken by count then label) and report per-class
    accuracy — the standard "are these embeddings linearly useful"
    probe a representation pipeline runs before committing to a model.

    Exactness: cosines round to 4 dp before ranking (both engines
    compare identical doubles, ties broken by neighbor id); votes,
    rankings, and acc_ppm (integer division) are exact integers.

    Scale: brute-force rung — the bounded probe set (50 rows)
    broadcasts, the corpus is scanned once, and per-probe state is k
    rows; swap candidate generation to the IVF/LSH rungs for 100 TB
    (the vote/accuracy tail is unchanged — it only sees Q·k rows)."""
    return _knn_accuracy(_knn_predict(_knn_scored_exact(spark, sf_dir))).orderBy("label")


def _knn_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bounded probe set: (query_id, true_label, q_emb)."""
    emb = load(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") < _KNN_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("q_emb"),
    )


def _knn_scored_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force candidate scoring: every (probe, corpus) pair.

    Optimization r12 (guide §2.5/§1.2): the corpus side is ``load_spread``
    (the single-row-group scan otherwise runs the whole Q×N fold on one
    core), and both norms are precomputed ONCE PER VECTOR before the
    join instead of once per pair — the same fold order on the same
    doubles, so the cosine is bit-identical (the ``similarity_topk``
    discipline), but the per-pair work drops from three 64-wide folds to
    one."""
    emb = load_spread(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", "label", "embedding", _norm(F.col("embedding")).alias("v_nrm")
    )
    probes = _knn_probes(spark, sf_dir).withColumn("q_nrm", _norm(F.col("q_emb")))
    return (
        v.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("query_id"))
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


def _knn_predict(scored: DataFrame) -> DataFrame:
    """(query_id, true_label, neighbor_id, nbr_label, cosine) →
    (query_id, true_label, pred_label): top-k by (cosine desc, id), then
    majority vote (ties by count desc, label). Shared by the brute-force
    and IVF candidate-generation rungs — the tail only sees Q·k rows, so
    swapping the candidate source leaves it untouched."""
    return _knn_predict_from_topk(_knn_topk(scored))


def _knn_predict_from_topk(topk: DataFrame) -> DataFrame:
    """Majority vote over an already-truncated top-k candidate table."""
    votes = topk.groupBy("query_id", "true_label", "nbr_label").agg(
        F.count("*").cast("long").alias("v")
    )
    wp = Window.partitionBy("query_id").orderBy(F.col("v").desc(), F.col("nbr_label"))
    return (
        votes.withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") == 1)
        .select("query_id", "true_label", F.col("nbr_label").alias("pred_label"))
    )


def _knn_topk(scored: DataFrame) -> DataFrame:
    """The k nearest candidates per probe (cosine desc, id tie-break)."""
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= _KNN_K)


def _knn_accuracy(pred: DataFrame) -> DataFrame:
    """Per-class accuracy over (query_id, true_label, pred_label)."""
    return pred.groupBy(F.col("true_label").alias("label")).agg(
        F.count("*").cast("long").alias("n_queries"),
        F.count(F.when(F.col("pred_label") == F.col("true_label"), 1))
        .cast("long")
        .alias("n_correct"),
        F.expr(
            "CAST(count(CASE WHEN pred_label = true_label THEN 1 END) * 1000000"
            " DIV count(*) AS BIGINT)"
        ).alias("acc_ppm"),
    )


# --------------------------------------------------------------------------
# Per-dimension embedding moments (dead/dominant dimension audit)
# --------------------------------------------------------------------------

_DIMVAR_ORACLE = """
WITH comp AS (
  SELECT i AS dim, CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS x_e6
  FROM (
    SELECT unnest(embedding) AS x,
           unnest(range(1, len(embedding) + 1)) AS i
    FROM embeddings
  )
),
m AS (
  SELECT dim,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x_e6) AS BIGINT) AS s1,
         CAST(sum(CAST(x_e6 AS HUGEINT) * x_e6) AS BIGINT) AS s2
  FROM comp GROUP BY dim
)
SELECT CAST(dim AS BIGINT) AS dim, n, s1, s2,
       CAST(s1 // n AS BIGINT) AS mean_e6,
       round((CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
             / (CAST(n AS DOUBLE) * (n - 1)) / 1e12, 9) AS variance
FROM m
ORDER BY dim
"""


@register(
    "embedding_dimension_variance",
    _DIMVAR_ORACLE,
    doc="per-dimension mean/variance audit of the embedding matrix (dead-dimension detector)",
)
def embedding_dimension_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding-health margin the covariance op summarizes away:
    per-dimension mean and variance across the corpus. Dead dimensions
    (variance ≈ 0) waste index bytes and poison cosine normalization;
    dominant ones say the encoder collapsed — both are the first things
    to check before PCA/matryoshka truncation (`embedding_pca_project`,
    `embedding_matryoshka_audit` consume exactly these directions).

    Exactness: each float32 component quantizes to integer micro-units
    (float→double is exact, round is deterministic) BEFORE any fold, so
    n/s1/s2 are exact integers per dimension — partition order cannot
    change them; mean is integer division and variance one rounded IEEE
    expression.

    Scale: posexplode partial-aggregates map-side onto the
    64-dimension grid; nothing else shuffles."""
    emb = load(spark, sf_dir, "embeddings")
    comp = emb.select(F.posexplode("embedding").alias("pos", "x")).select(
        (F.col("pos") + 1).cast("long").alias("dim"),
        F.round(F.col("x").cast("double") * 1000000).cast("long").alias("x_e6"),
    )
    return (
        comp.groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x_e6").cast("long").alias("s1"),
            F.sum(F.col("x_e6").cast("decimal(38,0)") * F.col("x_e6"))
            .cast("long")
            .alias("s2"),
        )
        .selectExpr(
            "dim",
            "n",
            "s1",
            "s2",
            "CAST(s1 DIV n AS BIGINT) AS mean_e6",
            "round((CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)"
            " / (CAST(n AS DOUBLE) * (n - 1)) / 1e12, 9) AS variance",
        )
        .orderBy("dim")
    )
