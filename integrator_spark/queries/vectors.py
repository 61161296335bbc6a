"""Similarity search over the embeddings table (SURVEY.md §2.10).

``vec_knn`` is a BASELINE.md headline query: the naive crossJoin plan
measured 26.3 s at sf0.1 — the blocked-matmul plan here produces the
identical result via one broadcast + per-batch BLAS (SURVEY.md §7 G2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.num import DEC
from ..io import load_table
from ..operators.knn import knn_blocked, knn_bruteforce, knn_exact
from ..registry import register

_KNN_ORACLE = """
SELECT a.vec_id,
       b.vec_id AS neighbor_id,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6)
         AS cos_sim
FROM embeddings a
JOIN embeddings b ON a.vec_id <> b.vec_id
QUALIFY row_number() OVER (
    PARTITION BY a.vec_id
    ORDER BY ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])),
                   6) DESC,
             b.vec_id) = 1
"""


@register("vec_knn", oracle=_KNN_ORACLE, tags=("vector", "knn"))
def vec_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-1 neighbor per vector, auto-routed by corpus
    size: broadcast blocked-matmul (Arrow batches × numpy float64 BLAS,
    zero exchanges) while the candidate matrix fits the broadcast
    budget, the two-sided cogrouped block plan beyond it — so the same
    query neither OOMs the driver at 1000× embeddings nor pays the
    block-pair shuffle at fixture scale. Deterministic smallest-id
    tie-break either way."""
    e = load_table(spark, sf_dir, "embeddings")
    return knn_exact(e, k=1, est_cells=_emb_cells_estimate(sf_dir))


def _emb_cells_estimate(sf_dir: str) -> int | None:
    """Route-from-metadata estimate of embeddings matrix cells
    (rows × dims): parquet float32 payload is ~4 bytes/cell, so
    bytes/4 OVER-estimates cells (encoding overhead only adds bytes) —
    a conservative broadcast-budget check with zero Spark jobs."""
    import os

    path = os.path.join(sf_dir, "embeddings.parquet")
    try:
        if os.path.isdir(path):
            size = sum(e.stat().st_size for e in os.scandir(path) if e.is_file())
        else:
            size = os.path.getsize(path)
    except OSError:
        return None          # non-local store: fall back to the stats job
    return size // 4


@register("vec_knn_bruteforce", oracle=_KNN_ORACLE, tags=("vector", "knn"))
def vec_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same logical operator as vec_knn through the pure-DataFrame
    crossJoin + HOF-cosine plan — the O(n²)-shuffle reference
    implementation kept for plan comparison."""
    e = load_table(spark, sf_dir, "embeddings")
    return knn_bruteforce(e, k=1)


# ANN-over-sign-LSH oracle: DuckDB replays the ENTIRE candidate
# pipeline from raw vectors — the md5-parity +/-1 hyperplanes, the
# exact-integer quantized projections, the banded bucket packing
# (identical CTE text to the dedup_embedding_lsh family: same
# dials dim=64, 3 bits x 12 bands), then the ANN-specific part: a
# SYMMETRIC bucket-collision join (a <> b, both directions) and the
# exact-cosine top-1 rerank per query, ties (cos DESC, neighbor ASC)
# on the 6-dp grid both engines share. Queries with zero collisions
# are absent on both sides — a deterministic property of the planes.
_ANN_SIGNLSH_ORACLE = """
WITH
qv AS (SELECT vec_id,
              list_transform(CAST(embedding AS DOUBLE[]),
                             x -> CAST(floor(x * 1048576.0) AS BIGINT)) AS q
       FROM embeddings),
comp AS (SELECT vec_id, j, q[j + 1] AS val
         FROM qv, unnest(range(0, 64)) t(j)),
planes AS (SELECT p, j,
                  CASE WHEN CAST('0x' || substr(md5(CAST(p AS VARCHAR)
                                 || ':' || CAST(j AS VARCHAR)), 1, 2)
                            AS UBIGINT) % 2 = 0
                       THEN 1 ELSE -1 END AS c
           FROM range(0, 36) tp(p) CROSS JOIN range(0, 64) tj(j)),
proj AS (SELECT comp.vec_id, planes.p,
                SUM(comp.val * planes.c) AS s
         FROM comp JOIN planes ON comp.j = planes.j
         GROUP BY 1, 2),
buck AS (SELECT vec_id, CAST(p // 3 AS INT) AS band,
                SUM(CASE WHEN s >= 0
                         THEN (1 << CAST(p % 3 AS INT)) ELSE 0 END) AS bucket
         FROM proj GROUP BY 1, 2),
cand AS (SELECT DISTINCT a.vec_id, b.vec_id AS neighbor_id
         FROM buck a JOIN buck b
           ON a.band = b.band AND a.bucket = b.bucket
              AND a.vec_id <> b.vec_id),
scored AS (SELECT c.vec_id, c.neighbor_id,
                  ROUND(list_cosine_similarity(
                          CAST(ea.embedding AS DOUBLE[]),
                          CAST(eb.embedding AS DOUBLE[])), 6) AS approx_cos
           FROM cand c
           JOIN embeddings ea ON ea.vec_id = c.vec_id
           JOIN embeddings eb ON eb.vec_id = c.neighbor_id)
SELECT vec_id, neighbor_id, approx_cos
FROM (SELECT *, row_number() OVER (
          PARTITION BY vec_id
          ORDER BY approx_cos DESC, neighbor_id) AS rn
      FROM scored)
WHERE rn = 1
ORDER BY vec_id
"""


@register("vec_ann_lsh", oracle=_ANN_SIGNLSH_ORACLE,
          tags=("vector", "knn", "approx"))
def vec_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via sign-random-projection LSH — ORACLE-BACKED
    end to end (graduated from rows-only in round 9): candidates come
    from the deterministic md5-parity hyperplane buckets the
    dedup_embedding_lsh family already proved engine-replayable (same
    dials: dim=64, 3 bits x 12 bands, exact-integer sign arithmetic),
    so DuckDB regenerates planes, buckets, the symmetric collision
    join, AND the exact-cosine top-1 rerank. Only the recall number
    stays rows-only (vec_ann_recall, pinned >= 0.9 in tests).

    Plan: one Arrow matmul pass for buckets (no shuffle), one
    bucket-equality self-join (the only wide shuffle — cost tracks
    colliding pairs, never n²), exact cosine on candidates only, one
    per-query window for top-1. The 100 TB path once the candidate
    matrix no longer broadcasts. Registered dials pin bits=3 for
    oracle parity; production corpora use the adaptive dial — the
    driver-visible face of which is ``vec_ann_lsh_adaptive`` below.
    """
    e = load_table(spark, sf_dir, "embeddings")
    return _signlsh_ann_top1(e, bits_per_band=3,
                             est_cells=_emb_cells_estimate(sf_dir))


def _signlsh_ann_top1(e: DataFrame, bits_per_band: int,
                      n_bands: int = 12,
                      est_cells: int | None = None) -> DataFrame:
    """Shared sign-LSH ANN top-1 plan (see vec_ann_lsh): deterministic
    md5-parity hyperplane buckets → symmetric bucket-collision join →
    exact-cosine rerank → per-query top-1 window."""
    from pyspark.sql import Window

    from ..operators.dedup import _cosine_residual, signlsh_buckets

    buckets = signlsh_buckets(e, dim=64, bits_per_band=bits_per_band,
                              n_bands=n_bands)
    q = buckets.select("vec_id", "band", "bucket")
    nb = buckets.select(F.col("vec_id").alias("neighbor_id"),
                        "band", "bucket")
    cand = (q.join(nb, ["band", "bucket"])
            .filter(F.col("vec_id") != F.col("neighbor_id"))
            .select("vec_id", "neighbor_id").distinct())
    scored = _cosine_residual(cand, e, e, -1.0, "vec_id", "neighbor_id",
                              "vec_id", "embedding", est_cells=est_cells)
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(),
                                             "neighbor_id")
    return (scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("vec_id", "neighbor_id",
                    F.col("cos_sim").alias("approx_cos"))
            .orderBy("vec_id"))


@register("vec_ann_lsh_adaptive", oracle=None,
          tags=("vector", "knn", "approx"))
def vec_ann_lsh_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION dial of the sign-LSH ANN route, driver-visible
    (round-9 verdict item 1): identical pipeline to the oracle-backed
    ``vec_ann_lsh`` but with the band keyspace SIZED TO THE CORPUS by
    signlsh_adaptive_bits (clamp(ceil(log2(n/64)), 3, 20)) — the dial
    a user must run past ~8k vectors, where the pinned 3-bit keyspace
    saturates and the bucket join degenerates toward all-pairs
    (SCALING.md round-7 inflation curve; the adaptive dial held 0.06%
    of all-pairs volume at 1.155M vectors).

    Growing bits ALONE collapses recall (a b-bit band collides with
    p^b — measured 0.74 at 5 bits x the fixture 12 bands), so the
    production dial adapts BOTH knobs: bits from corpus size
    (occupancy/cost), bands from the recall target at the design
    cosine via signlsh_ann_bands (L = ln(1-recall)/ln(1-p^b)) —
    candidate volume stays ~32·n per band, L·O(n) total, linear where
    all-pairs is quadratic.

    Rows-only BY CONSTRUCTION, not by laziness: both dials depend on
    count(corpus), so no static SQL text can replay the planes — the
    oracle-parity face is ``vec_ann_lsh`` (hash-matched end to end at
    the pinned dial, same code path via _signlsh_ann_top1). Everything
    else stays deterministic (md5 planes, exact-integer signs,
    value-ordered tie-break), so reruns are bit-identical; recall@1
    >= 0.9 at the adaptive dial is pinned in tests alongside the
    bits=3 pins."""
    from ..operators.dedup import signlsh_adaptive_bits, signlsh_ann_bands

    e = load_table(spark, sf_dir, "embeddings")
    bits = signlsh_adaptive_bits(e.count())
    return _signlsh_ann_top1(e, bits_per_band=bits,
                             n_bands=signlsh_ann_bands(bits),
                             est_cells=_emb_cells_estimate(sf_dir))


# The recall arithmetic itself is oracle-checked: DuckDB replays the
# sign-LSH top-1 (the _ANN_SIGNLSH_ORACLE chain) AND the exact per-
# query best cosine, and computes the same value-rule hit count. The
# hit comparison runs on the 6-dp grid both engines share (rounding is
# monotone, so max-of-rounded == rounded-max); a query with no bucket
# collision counts as a miss via the left join.
_ANN_LSH_RECALL_ORACLE = _ANN_SIGNLSH_ORACLE.replace(
    """SELECT vec_id, neighbor_id, approx_cos
FROM (SELECT *, row_number() OVER (
          PARTITION BY vec_id
          ORDER BY approx_cos DESC, neighbor_id) AS rn
      FROM scored)
WHERE rn = 1
ORDER BY vec_id
""",
    """, top1 AS (SELECT vec_id, approx_cos
         FROM (SELECT *, row_number() OVER (
                   PARTITION BY vec_id
                   ORDER BY approx_cos DESC, neighbor_id) AS rn
               FROM scored)
         WHERE rn = 1),
exact AS (SELECT a.vec_id,
                 MAX(ROUND(list_cosine_similarity(
                       CAST(a.embedding AS DOUBLE[]),
                       CAST(b.embedding AS DOUBLE[])), 6)) AS best
          FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
          GROUP BY a.vec_id)
SELECT COUNT(*) AS n_queries,
       CAST(SUM(CASE WHEN t.approx_cos >= e.best THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       ROUND(SUM(CASE WHEN t.approx_cos >= e.best THEN 1 ELSE 0 END)
             * 1.0 / COUNT(*), 4) AS recall_at_1
FROM exact e LEFT JOIN top1 t ON t.vec_id = e.vec_id
""")
assert "top1 AS" in _ANN_LSH_RECALL_ORACLE, \
    "recall-oracle rewrite no longer matches _ANN_SIGNLSH_ORACLE"


@register("vec_ann_lsh_recall", oracle=_ANN_LSH_RECALL_ORACLE,
          tags=("vector", "knn", "approx", "quality"))
def vec_ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKED recall@1 of the deterministic sign-LSH ANN route
    against exact kNN — both pipelines are SQL-expressible, so even
    the recall arithmetic is cross-engine verified (the
    dedup_embedding_lsh_recall posture, now for the ANN query surface;
    stronger than the rows-only recall rows the engine-private spark.ml
    and k-means methods get in vec_ann_recall). Value-based hit rule on
    the shared 6-dp grid: a query whose LSH top-1 is as similar as its
    true nearest neighbor is a hit (exact ties — duplicate vectors —
    count regardless of which twin was returned); a query with no
    bucket collision is a miss."""
    exact = (vec_knn(spark, sf_dir)
             .select("vec_id", F.col("cos_sim").alias("_best")))
    top1 = vec_ann_lsh(spark, sf_dir).select("vec_id", "approx_cos")
    hit = F.when(F.col("approx_cos") >= F.col("_best"), 1).otherwise(0)
    return (exact.join(top1, "vec_id", "left")
            .agg(F.count(F.lit(1)).alias("n_queries"),
                 F.sum(hit).cast("long").alias("n_hits"),
                 F.round(F.sum(hit) / F.count(F.lit(1)), 4)
                  .alias("recall_at_1")))


@register("vec_ann_lsh_ml", oracle=None, tags=("vector", "knn", "approx"))
def vec_ann_lsh_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spark.ml face of LSH ANN (BucketedRandomProjectionLSH on
    L2-normalized vectors, where euclidean distance is monotone in
    cosine) — kept registered alongside the oracle-backed
    deterministic ``vec_ann_lsh`` exactly like ``dedup_minhash`` /
    ``dedup_minhash_det``: the MLlib estimator surface a Spark shop
    would reach for first. Rows-only: MLlib's random hyperplanes are
    engine-private, so no ANSI-SQL oracle can replay them.

    Dials: the join radius is the quality/cost knob — 1.25 in L2 over
    unit vectors == cosine >= ~0.22, below the fixture's true-NN floor
    (~0.27), so every true neighbor is inside the radius; 8 OR-ed hash
    tables at bucketLength 1.0 make the bucket-collision probability
    for in-radius pairs ~1. Measured candidate fan-out at the fixture:
    ~4% of all-pairs (10.6k of 250k) for recall 1.0."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector

    e = load_table(spark, sf_dir, "embeddings")
    if e.isEmpty():   # MLlib fit requires rows; empty corpus => no pairs
        return spark.createDataFrame(
            [], "vec_id long, neighbor_id long, approx_cos double")
    vecs = e.select("vec_id", array_to_vector("embedding").alias("raw"))
    normed = Normalizer(inputCol="raw", outputCol="features", p=2.0).transform(vecs)
    lsh = BucketedRandomProjectionLSH(inputCol="features", outputCol="hashes",
                                      bucketLength=1.0, numHashTables=8,
                                      seed=42)
    model = lsh.fit(normed)
    pairs = model.approxSimilarityJoin(normed, normed, 1.25, distCol="l2_dist")
    return (pairs
            .filter(F.col("datasetA.vec_id") != F.col("datasetB.vec_id"))
            .select(F.col("datasetA.vec_id").alias("vec_id"),
                    F.col("datasetB.vec_id").alias("neighbor_id"),
                    F.round(F.lit(1.0) - F.col("l2_dist") * F.col("l2_dist") / 2, 6)
                     .alias("approx_cos"))
            .orderBy("vec_id", F.col("approx_cos").desc(), "neighbor_id"))


@register("vec_knn_twosided", oracle=_KNN_ORACLE, tags=("vector", "knn"))
def vec_knn_twosided(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same exact kNN through the two-sided blocked plan (cogrouped
    block-pair matmuls + segmented top-k reduce) — the strategy that
    remains exact when NEITHER side fits an executor's memory."""
    from ..operators.knn import knn_blocked_twosided
    e = load_table(spark, sf_dir, "embeddings")
    return knn_blocked_twosided(e, k=1, n_blocks=4)


_KNN5_ORACLE = """
SELECT a.vec_id,
       b.vec_id AS neighbor_id,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6)
         AS cos_sim
FROM embeddings a
JOIN embeddings b ON a.vec_id <> b.vec_id
QUALIFY row_number() OVER (
    PARTITION BY a.vec_id
    ORDER BY ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])),
                   6) DESC,
             b.vec_id) <= 5
"""


@register("vec_ann_recall", oracle=None, tags=("vector", "knn", "approx",
                                               "quality"))
def vec_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@1 of each approximate-NN method against exact
    kNN — the quality number every ANN deployment must report before
    it replaces the exact path at scale.

    A query counts as a hit when the method's best candidate is as
    similar as the true nearest neighbor (value-based, so exact ties —
    duplicate vectors — count as hits regardless of which twin the
    method returned); a query with no candidates at all is a miss.
    Rows-only by design: the number depends on Spark's LSH/k-means
    internals, which no ANSI-SQL oracle can reproduce — instead
    tests/test_operators.py asserts recall >= 0.9 for both methods.
    """
    from pyspark.sql import Window

    from .scale import vec_ann_ivf

    if load_table(spark, sf_dir, "embeddings").isEmpty():
        return spark.createDataFrame(
            [], "method string, n_queries long, n_hits long, recall_at_1 double")
    from ..operators.ckpt import truncated_checkpoint

    # Both method reports join against the exact-kNN truth — checkpoint
    # it once (eager=False) so the broadcast-matmul kNN runs ONE time
    # per query, not once per method (r12, guide §1.2).
    exact = truncated_checkpoint(
        vec_knn(spark, sf_dir)
        .select("vec_id", F.col("cos_sim").alias("_best")), eager=False)
    per_method = []
    for method, fn in (("ivf", vec_ann_ivf), ("lsh", vec_ann_lsh)):
        approx = fn(spark, sf_dir)
        w = Window.partitionBy("vec_id").orderBy(F.col("approx_cos").desc(),
                                                 "neighbor_id")
        top1 = (approx.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select("vec_id", F.col("approx_cos").alias("_got")))
        hits = (exact.join(top1, "vec_id", "left")
                .agg(F.count(F.lit(1)).alias("n_queries"),
                     F.sum(F.when(F.col("_got") >= F.col("_best") - 1e-6, 1)
                            .otherwise(0)).alias("n_hits"))
                .select(F.lit(method).alias("method"), "n_queries", "n_hits",
                        F.round(F.col("n_hits") / F.col("n_queries"), 4)
                         .alias("recall_at_1")))
        per_method.append(hits)
    out = per_method[0]
    for df in per_method[1:]:
        out = out.unionByName(df)
    return out.orderBy("method")


@register("vec_ann_recall_quantized", oracle=None,
          tags=("vector", "knn", "approx", "quality", "pq"))
def vec_ann_recall_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vec_ann_recall for the quantized family: measured recall@1 of
    flat PQ (ADC + exact rerank) and IVF-PQ (probe-bounded residual
    ADC) against exact kNN, same value-based hit rule (exact-tie twins
    count; a query with no candidates is a miss). Completes the
    driver-visible quality row so all SIX ANN paths (lsh, ivf, graph,
    graph-search, pq, ivfpq) report measured recall, not vibes.
    Rows-only (k-means internals); both methods are pinned >= 0.9 in
    tests at the registered dials."""
    from pyspark.sql import Window

    if load_table(spark, sf_dir, "embeddings").isEmpty():
        return spark.createDataFrame(
            [], "method string, n_queries long, n_hits long, recall_at_1 double")
    from ..operators.ckpt import truncated_checkpoint

    # Same one-scan truth discipline as vec_ann_recall (r12).
    exact = truncated_checkpoint(
        vec_knn(spark, sf_dir)
        .select("vec_id", F.col("cos_sim").alias("_best")), eager=False)
    per_method = []
    for method, fn in (("ivfpq", vec_ann_ivfpq), ("pq", vec_ann_pq)):
        top1 = (fn(spark, sf_dir)
                .filter(F.col("rank") == 1)
                .select(F.col("query_id").alias("vec_id"),
                        F.col("cos_sim").alias("_got")))
        hits = (exact.join(top1, "vec_id", "left")
                .agg(F.count(F.lit(1)).alias("n_queries"),
                     F.sum(F.when(F.col("_got") >= F.col("_best") - 1e-6, 1)
                            .otherwise(0)).alias("n_hits"))
                .select(F.lit(method).alias("method"), "n_queries", "n_hits",
                        F.round(F.col("n_hits") / F.col("n_queries"), 4)
                         .alias("recall_at_1")))
        per_method.append(hits)
    out = per_method[0]
    for df in per_method[1:]:
        out = out.unionByName(df)
    return out.orderBy("method")


@register("vec_knn5", oracle=_KNN5_ORACLE, tags=("vector", "knn"))
def vec_knn5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 neighbors per vector through the auto-routed exact plan —
    exercises the k>1 partial-sort branch of the operator against the
    oracle (vec_knn covers k=1)."""
    e = load_table(spark, sf_dir, "embeddings")
    return knn_exact(e, k=5, est_cells=_emb_cells_estimate(sf_dir))


@register("vec_ann_graph", oracle=None, tags=("vector", "knn", "approx",
                                              "graph"))
def vec_ann_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-based ANN (third member of the triad after LSH and IVF):
    a distributed NN-Descent k-NN graph — the structure an HNSW-class
    searcher navigates — built purely from self-joins + windowed top-k
    (operators/ann_graph.py). Returns each vector's approximate top-5
    neighborhood. Rows-only: hash-seeded init + exact rescoring is
    deterministic (gate-checked) but not ANSI-SQL-expressible;
    graph quality is measured by vec_ann_graph_recall.

    Built at working degree 15 then truncated to 5 — NN-Descent needs
    the wider frontier during construction (degree-5 build converges to
    recall ~0.48; degree-15 reaches 0.996 in 4 rounds, measured at the
    fixture) because neighbor-of-neighbor proposals flow through the
    extra edges."""
    from ..operators.ann_graph import nn_descent

    e = load_table(spark, sf_dir, "embeddings")
    return (nn_descent(e, k=15, iters=4)
            .filter(F.col("rank") <= 5)
            .orderBy("vec_id", "rank"))


@register("vec_ann_graph_recall", oracle=None,
          tags=("vector", "knn", "approx", "graph", "quality"))
def vec_ann_graph_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@1 of the NN-Descent graph against exact kNN (same
    value-based hit rule as vec_ann_recall: a query whose best graph
    neighbor ties the true nearest similarity counts as a hit).
    Registered separately so vec_ann_recall's historical output stays
    byte-stable across rounds; tests assert recall >= 0.9 here too."""
    from pyspark.sql import Window

    from ..operators.ann_graph import nn_descent

    e = load_table(spark, sf_dir, "embeddings")
    exact = (vec_knn(spark, sf_dir)
             .select("vec_id", F.col("cos_sim").alias("_best")))
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(),
                                             "neighbor_id")
    top1 = (nn_descent(e, k=15, iters=4)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("vec_id", F.col("cos_sim").alias("_got")))
    return (exact.join(top1, "vec_id", "left")
            .agg(F.count(F.lit(1)).alias("n_queries"),
                 F.sum(F.when(F.col("_got") >= F.col("_best") - 1e-6, 1)
                        .otherwise(0)).alias("n_hits"))
            .select(F.lit("nn_descent").alias("method"), "n_queries",
                    "n_hits",
                    F.round(F.col("n_hits") / F.col("n_queries"), 4)
                     .alias("recall_at_1")))


@register("vec_ann_graph_search", oracle=None,
          tags=("vector", "knn", "approx", "graph"))
def vec_ann_graph_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HNSW-style navigate over the NN-Descent graph, batch-parallel:
    every query advances one hop per relational round (beam join
    adjacency → score → keep best), so Q concurrent searches cost
    hops joins total instead of Q sequential walks — the out-of-sample
    serving path the graph exists for (vec_ann_graph only reads each
    IN-corpus node's own adjacency). Beam 32 / 5 hops / 16 entry points
    measures recall@1 0.994 on the fixture (asserted >= 0.9 in tests).
    Rows-only; deterministic: fixed entry set, exact rescoring,
    (cos DESC, id ASC) tie-breaks."""
    from ..operators.ann_graph import graph_ann_search, nn_descent

    e = load_table(spark, sf_dir, "embeddings")
    g = nn_descent(e, k=15, iters=4)
    return (graph_ann_search(g, e, e, k=1, beam=32, hops=5, n_entries=16,
                             exclude_self=True)
            .orderBy("query_id"))


@register("vec_ann_graph_serve_deletes", oracle=None,
          tags=("vector", "knn", "approx", "graph", "deletes"))
def vec_ann_graph_serve_deletes(spark: SparkSession, sf_dir: str,
                                beam: int = 32) -> DataFrame:
    """READ-side graph tombstones — serving between delete and
    consolidation (vec_ann_graph_det_deletes is the write-side
    repair): the beam search navigates the UNREPAIRED pre-delete
    graph, so deleted nodes still ROUTE (they stay in the beam and
    their adjacency keeps clusters reachable — the HNSW rule, where
    filtering them from the frontier severs the paths that run
    through deleted hubs) but never RETURN: the full final beam is
    anti-joined against the tombstone set and re-ranked, and each
    live query keeps its best LIVE candidate. Deleted vectors don't
    ask either (query side anti-joined before the search). Asking
    graph_ann_search for k=beam hands back the whole final beam, so
    the post-filter re-rank has beam candidates to promote from —
    filtering a k=1 result would return nothing whenever the winner
    was deleted. Rows-only (the float beam search has no SQL oracle);
    tests pin no-tombstone-on-either-side, runner-up promotion, and
    recall@1 >= 0.9 vs exact kNN over the live corpus."""
    from pyspark.sql import Window

    from ..operators.ann_graph import graph_ann_search, nn_descent

    e = load_table(spark, sf_dir, "embeddings")
    tomb = (e.filter(F.col("vec_id") % 9 == 4)
            .select(F.col("vec_id").alias("_tid")))
    g = nn_descent(e, k=15, iters=4)          # built pre-delete
    live_q = e.join(F.broadcast(tomb), e.vec_id == F.col("_tid"),
                    "left_anti")
    full_beam = graph_ann_search(g, e, live_q, k=beam, beam=beam,
                                 hops=5, n_entries=16, exclude_self=True)
    live_beam = full_beam.join(
        F.broadcast(tomb), full_beam.neighbor_id == F.col("_tid"),
        "left_anti")
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(),
                                               "neighbor_id")
    return (live_beam.withColumn("_lrn", F.row_number().over(w))
            .filter(F.col("_lrn") == 1)
            .select("query_id", "neighbor_id", "cos_sim",
                    F.col("_lrn").cast("int").alias("rank"))
            .orderBy("query_id"))


@register("vec_pca", oracle=None, tags=("vector", "pca"))
def vec_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA dimensionality reduction over the embedding corpus: fit on
    the d×d Gram matrix (one Arrow pass + a 4 KB driver
    eigendecomposition — see operators/pca.py), project every vector
    onto the top-2 components in a second pass, report per-label
    projection centroids. Rows-only: eigendecomposition has no
    ANSI-SQL oracle; tests/test_operators.py checks the full fit +
    projection against direct NumPy PCA to 1e-6."""
    from ..operators.pca import fit_pca, project

    e = load_table(spark, sf_dir, "embeddings")
    if e.isEmpty():   # a Gram matrix needs rows (fit_pca raises cleanly)
        return spark.createDataFrame(
            [], "label int, n_vecs long, pc1_mean double, pc2_mean double")
    comps, _, _ = fit_pca(e, dim=64, k=2)
    proj = project(e.select("vec_id", "label", "embedding"), comps)
    return (proj.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.round(F.avg("pc1"), 5).alias("pc1_mean"),
                 F.round(F.avg("pc2"), 5).alias("pc2_mean"))
            .orderBy("label"))


@register("vec_stats", oracle="""
WITH norms AS (
  SELECT label,
         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                      x -> x * x))) AS l2
  FROM embeddings
)
SELECT CAST(label AS BIGINT) AS label,
       COUNT(*) AS n_vecs,
       ROUND(CAST(SUM(CAST(l2 AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6)
         AS avg_norm,
       ROUND(MIN(l2), 6) AS min_norm,
       ROUND(MAX(l2), 6) AS max_norm
FROM norms
GROUP BY label
""", tags=("vector", "stats"))
def vec_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-corpus statistics: per-label L2-norm profile computed
    with array higher-order functions (aggregate over x*x — JVM-side,
    no Python). Per-row norms are bit-identical across engines (same
    doubles, same array order), and the norm aggregation goes through
    the decimal-exact mean. The pre-index sanity check every vector
    pipeline runs: un-normalized or degenerate labels show up here
    before they poison ANN recall."""
    e = load_table(spark, sf_dir, "embeddings")
    sq_sum = F.aggregate(
        F.transform(F.col("embedding"),
                    lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    norms = e.select(F.col("label").cast("long").alias("label"),
                     F.sqrt(sq_sum).alias("l2"))
    return (norms.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.round(F.sum(F.col("l2").cast(DEC)).cast("double")
                         / F.count(F.lit(1)), 6).alias("avg_norm"),
                 F.round(F.min("l2"), 6).alias("min_norm"),
                 F.round(F.max("l2"), 6).alias("max_norm")))


@register("vec_quantize_int8", oracle="""
WITH m AS (
  SELECT MAX(list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                     x -> abs(x)))) AS maxabs
  FROM embeddings
), s AS (
  SELECT CASE WHEN maxabs IS NOT NULL AND maxabs > 0
              THEN 127.0 / maxabs ELSE 1.0 END AS scale
  FROM m
), el AS (
  SELECT e.vec_id,
         CAST(u.x AS DOUBLE) AS x,
         FLOOR(CAST(u.x AS DOUBLE) * s.scale + 0.5) AS code
  FROM embeddings e, s, UNNEST(e.embedding) AS u(x)
)
SELECT COUNT(DISTINCT el.vec_id) AS n_vectors,
       COUNT(*) AS n_elements,
       ROUND((SELECT scale FROM s), 6) AS scale,
       CAST(SUM(el.code) AS BIGINT) AS sum_codes,
       CAST(SUM(ABS(el.code)) AS BIGINT) AS sum_abs_codes,
       CAST(SUM(CASE WHEN ABS(el.code) = 127 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_saturated,
       ROUND(MAX(ABS(el.x - el.code / (SELECT scale FROM s))), 6)
         AS max_abs_err,
       ROUND(CAST(SUM(CAST(ROUND(ABS(el.x - el.code / (SELECT scale FROM s)),
                                 6) AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 6) AS mean_abs_err
FROM el
""", tags=("vector", "quantize"))
def vec_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization round-trip, oracle-exact (graduated from
    rows-only in round 8, VERDICT r7 item 5a): symmetric scale fit on
    the global max |x| (scale = 127 / maxabs), per-element code =
    floor(x·scale + 0.5) — floor(+0.5) instead of ROUND so both engines
    share ONE rounding rule with no half-even/half-up ambiguity — and
    the reconstruction error of decoding code/scale. Everything is
    plain relational: one global max, one explode, one aggregate;
    integer code sums are exact cross-engine, float error stats use the
    per-element-round-then-DECIMAL-sum discipline from the registry
    header. The kNN recall measurement on the quantized corpus lives in
    ``vec_quantize_recall`` (rows-only by design — recall of an
    engine-internal index walk isn't SQL)."""
    e = load_table(spark, sf_dir, "embeddings")
    maxabs_expr = F.aggregate(
        F.transform("embedding", lambda x: F.abs(x.cast("double"))),
        F.lit(0.0).cast("double"), lambda acc, x: F.greatest(acc, x))
    row = e.agg(F.max(maxabs_expr).alias("m")).first()
    maxabs = row["m"]
    scale = 127.0 / maxabs if maxabs else 1.0
    el = e.select(
        "vec_id",
        F.posexplode(F.transform("embedding",
                                 lambda x: x.cast("double")))
         .alias("pos", "x"))
    code = F.floor(F.col("x") * F.lit(scale) + F.lit(0.5))
    err = F.abs(F.col("x") - code / F.lit(scale))
    return (el.select("vec_id", code.alias("code"), err.alias("err"))
            .agg(F.countDistinct("vec_id").alias("n_vectors"),
                 F.count(F.lit(1)).alias("n_elements"),
                 F.round(F.lit(scale), 6).alias("scale"),
                 F.sum("code").cast("long").alias("sum_codes"),
                 F.sum(F.abs(F.col("code"))).cast("long")
                  .alias("sum_abs_codes"),
                 F.sum(F.when(F.abs(F.col("code")) == 127, 1)
                        .otherwise(0)).cast("long").alias("n_saturated"),
                 F.round(F.max("err"), 6).alias("max_abs_err"),
                 F.round(F.sum(F.round(F.col("err"), 6).cast(DEC))
                          .cast("double") / F.count(F.lit(1)), 6)
                  .alias("mean_abs_err")))


@register("vec_quantize_recall", oracle=None, tags=("vector", "quantize"))
def vec_quantize_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@1 of exact kNN run on the int8-QUANTIZED corpus vs the
    float baseline — the accuracy cost of the 4× memory cut, measured
    rather than assumed. The quantized corpus is genuinely
    ``array<tinyint>`` + one scalar scale (see
    ``quantize_embeddings_int8``) — the 4× storage ratio is realized in
    the payload schema, not simulated; consumers dequantize on read.
    Rows-only (the kNN comparison isn't SQL-expressible at fixture
    cost); tests/test_operators.py asserts recall >= 0.9, the 4× ratio,
    and the tinyint schema. The code/error round-trip itself is
    oracle-exact in ``vec_quantize_int8``."""
    from ..operators.knn import knn_blocked

    e = load_table(spark, sf_dir, "embeddings")
    qe, scale = quantize_embeddings_int8(e)
    deq = dequantize_int8(qe, scale)
    exact = knn_blocked(e, k=1).select(
        F.col("vec_id").alias("v"), F.col("neighbor_id").alias("n_f"))
    qnn = knn_blocked(deq, k=1).select(
        F.col("vec_id").alias("v"), F.col("neighbor_id").alias("n_q"))
    joined = exact.join(qnn, "v")
    return (joined.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.sum(F.when(F.col("n_f") == F.col("n_q"), 1).otherwise(0))
                / F.count(F.lit(1)), 4).alias("recall_at_1"),
        F.lit(4.0).alias("memory_ratio_fp32_int8")))


def quantize_embeddings_int8(e: DataFrame, vec_col: str = "embedding"
                             ) -> tuple[DataFrame, float]:
    """Quantize ``vec_col`` to an actual ``array<tinyint>`` column
    ``q_embedding`` plus the symmetric scale (one double for the whole
    corpus, fit on global max |x| so dequantization needs no per-row
    metadata). This is the storable form: 1 byte/dim vs 4 — writing
    ``q_embedding`` to parquet realizes the 4x cut.

    Codes are floor(x·scale + 0.5) — a single explicit rounding rule
    with no half-even/half-up ambiguity, shared verbatim by the
    vec_quantize_int8 oracle so DuckDB recomputes identical codes."""
    maxabs = e.select(F.aggregate(
        F.transform(vec_col, lambda x: F.abs(x)),
        F.lit(0.0).cast("double"),
        lambda acc, x: F.greatest(acc, x.cast("double"))).alias("m")) \
        .agg(F.max("m")).collect()[0][0]
    # empty corpus (or all-zero vectors): nothing to fit — identity scale
    scale = 127.0 / maxabs if maxabs else 1.0
    quant = F.transform(
        vec_col,
        lambda x: F.floor(x.cast("double") * scale + 0.5).cast("tinyint"))
    cols = [c for c in e.columns if c != vec_col]
    return e.select(*cols, quant.alias("q_embedding")), scale


def dequantize_int8(qe: DataFrame, scale: float,
                    out_col: str = "embedding") -> DataFrame:
    """Consumer-side decode: tinyint codes -> float vectors."""
    deq = F.transform("q_embedding",
                      lambda x: x.cast("double") / F.lit(scale)) \
        .cast("array<float>")
    cols = [c for c in qe.columns if c != "q_embedding"]
    return qe.select(*cols, deq.alias(out_col))


@register("vec_centroids", oracle="""
SELECT CAST(label AS BIGINT) AS label,
       CAST(pos AS INTEGER) AS pos,
       COUNT(*) AS n_vecs,
       ROUND(CAST(SUM(CAST(CAST(val AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 6) AS centroid_val
FROM (
  SELECT label,
         generate_subscripts(embedding, 1) - 1 AS pos,
         unnest(embedding) AS val
  FROM embeddings
)
GROUP BY label, pos
""", tags=("vector", "agg"))
def vec_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids, one row per (label, dimension) —
    the building block for topic prototypes, cluster drift monitoring,
    and IVF coarse-quantizer seeding. posexplode turns the array into
    (pos, val) pairs so the mean is a plain hash aggregate on
    (label, pos): one shuffle whose width is |labels| x dim regardless
    of corpus size, with map-side partial sums doing the heavy
    reduction. Float values go through cast-to-double then the
    decimal-exact sum (same path as vec_stats) so centroids are
    bit-identical across engines and partitionings."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(F.col("label").cast("long").alias("label"),
                  F.posexplode("embedding").alias("pos", "val"))
    return (ex.groupBy("label", "pos")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.round(F.sum(F.col("val").cast("double").cast(DEC))
                         .cast("double") / F.count(F.lit(1)), 6)
                 .alias("centroid_val")))


_SEARCH_ORACLE = """
SELECT q.vec_id AS query_id,
       c.vec_id AS neighbor_id,
       ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(c.embedding AS DOUBLE[])), 6)
         AS cos_sim
FROM embeddings q
JOIN embeddings c ON q.vec_id <> c.vec_id
WHERE q.vec_id % 40 = 0
QUALIFY row_number() OVER (
    PARTITION BY q.vec_id
    ORDER BY ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])),
                   6) DESC,
             c.vec_id) = 1
"""


@register("vec_search", oracle=_SEARCH_ORACLE, tags=("vector", "knn",
                                                     "search"))
def vec_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact search of a SMALL query set against the whole corpus —
    the inversion of vec_knn's broadcast: the queries (here every 40th
    vector) broadcast, the corpus streams through one matmul per Arrow
    batch emitting per-batch local winners, one window reduces them to
    the global top-1. The corpus is never collected or shuffled, so
    this is the "look up these 1000 vectors in the 100 TB index" plan —
    scan parallelism = file splits, memory = |Q| x dim + one batch.
    Exact float64 cosine, smallest-id tie-break (oracle-checked)."""
    from ..operators.knn import knn_search_broadcast

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 40 == 0)
    return knn_search_broadcast(e, queries, k=1)


@register("vec_ann_ivf_matmul", oracle=None, tags=("vector", "knn",
                                                   "approx", "ivf"))
def vec_ann_ivf_matmul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF through the matmul kernels (operators/ivf.py) — the same
    inverted-file index as vec_ann_ivf but expressed the way it runs at
    10^6+ vectors: driver-bounded deterministic k-means sample for the
    coarse quantizer, Arrow-batched matmul assignment (no per-pair HOF
    cosines, no shuffle), probe-bounded cogrouped bucket search. Output
    is each query vector's approximate top-1 over its probed buckets.
    Rows-only (k-means internals aren't ANSI-SQL-expressible);
    determinism is gate-checked and recall@1 vs exact kNN is asserted
    >= 0.9 in tests/test_operators.py; the 1.1M-vector run was
    measured in round 5 (SCALING.md)."""
    from ..operators.ivf import (bounded_sample_matrix, ivf_assign,
                                 ivf_search, train_centroids)

    e = load_table(spark, sf_dir, "embeddings")
    try:   # one count + one bounded collect; doubles as the empty gate
        mat = bounded_sample_matrix(e, 2000)
    except ValueError:   # the coarse quantizer needs a nonempty sample
        return spark.createDataFrame(
            [], "vec_id long, neighbor_id long, cos_sim double")
    cent = train_centroids(e, n_clusters=16, sample_rows=2000, iters=10,
                           sample_mat=mat)
    index = ivf_assign(e, cent, n_assign=3)
    return (ivf_search(index, e, cent, n_probe=6, k=1)
            .withColumnRenamed("query_id", "vec_id")
            .orderBy("vec_id"))


@register("vec_ann_pq", oracle=None, tags=("vector", "knn", "approx", "pq"))
def vec_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/pq.py): codes are 32× smaller
    than the raw float32 embeddings (8 one-byte subspace ids vs 256
    bytes), the ADC scan reads ONLY codes + broadcast query LUTs (m
    table lookups per pair, zero per-pair float math, zero shuffle),
    and the top-32 shortlist per query is reranked EXACTLY against the
    true vectors — the faiss IndexPQ recipe as a DataFrame pipeline.
    This is the storage/IO-bound scale path of the ANN family: at
    100 TB of embeddings the PQ code table is ~3 TB, so the full-scan
    cost drops by the same 32× before any IVF-style probe pruning is
    even applied. Rows-only (subspace k-means isn't SQL-expressible);
    recall@1 vs exact kNN pinned >= 0.9 in tests (measured 0.926 at
    m=8/ksub=64/shortlist=32; the m=16 and shortlist=64 dials measured
    0.936/0.970 — dial sweep in the round-7 notes); determinism via the
    seeded bounded-sample trainer and (score DESC, id ASC) ties."""
    from ..operators.ivf import bounded_sample_matrix
    from ..operators.pq import pq_encode, pq_search, pq_train

    e = load_table(spark, sf_dir, "embeddings")
    try:   # one count + one bounded collect; doubles as the empty gate
        mat = bounded_sample_matrix(e, 2000)
    except ValueError:   # the subspace quantizer needs a nonempty sample
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cos_sim double, rank int")
    cb = pq_train(e, m=8, ksub=64, sample_rows=2000, iters=10,
                  sample_mat=mat)
    codes = pq_encode(e, cb)
    return (pq_search(codes, e, e, cb, k=1, shortlist=32,
                      exclude_self=True)
            .orderBy("query_id"))


@register("vec_ann_ivfpq", oracle=None,
          tags=("vector", "knn", "approx", "pq", "ivf"))
def vec_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the combined index every 100 TB vector deployment
    actually runs (faiss IVFPQ as a DataFrame pipeline): coarse cells
    bound the SCAN (each query meets ~n_probe/n_cells of the corpus,
    directory-prunable under a partitionBy(bucket) layout) while
    residual PQ codes bound the BYTES (~32× under raw float32), and
    residual-ADC scoring is q·centroid + m table lookups per pair. The
    unit query vector travels WITH the query through the bucket cogroup
    (64 doubles; the LUT is rebuilt per cell), so nothing corpus-sized
    is ever broadcast or shuffled; the shortlist pays the exact rerank.
    Rows-only; recall@1
    vs exact kNN pinned >= 0.9 in tests (measured 0.954 at
    n_assign=3 / n_probe=8 / shortlist=64 — multi-assignment is the
    same recall lever vec_ann_ivf uses; single-assignment measured
    0.744/0.846 in the dial sweep)."""
    from ..operators.ivf import bounded_sample_matrix, train_centroids
    from ..operators.pq import ivfpq_encode, ivfpq_search, ivfpq_train

    e = load_table(spark, sf_dir, "embeddings")
    # Guide §1.2 / §2.4 (remove passes): the coarse quantizer and the
    # residual codebook train on the SAME modulo-on-id bounded sample —
    # collect it ONCE and feed both trainers. Before: isEmpty + 2×count
    # + 2×collect = 5 corpus passes before any index work; now 2 (one
    # count + one bounded collect). Identical matrices → bit-identical
    # centroids, codebook, codes, results.
    try:
        mat = bounded_sample_matrix(e, 2000)
    except ValueError:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cos_sim double, rank int")
    cent = train_centroids(e, n_clusters=16, sample_rows=2000, iters=10,
                           sample_mat=mat)
    cb = ivfpq_train(e, cent, m=8, ksub=64, sample_rows=2000, iters=10,
                     sample_mat=mat)
    codes = ivfpq_encode(e, cent, cb, n_assign=3)
    return (ivfpq_search(codes, e, e, cent, cb, n_probe=8, k=1,
                         shortlist=64, exclude_self=True)
            .orderBy("query_id"))


def vec_ann_ivfpq_stage_walls(spark: SparkSession, sf_dir: str,
                              serve_runs: int = 3) -> dict:
    """Diagnostic stage breakdown for the ``vec_ann_ivfpq`` bench entry
    (round-8 verdict item 1): the end-to-end rebuilt-per-run wall mixes
    three very different 100-TB questions — TRAIN (driver-bounded
    sample collects + numpy k-means; amortized once per index life),
    BUILD (one corpus encode pass; amortized per ingest), and SERVE
    (the probe/ADC/rerank query path; the per-query cost a deployment
    actually pays). Emits each wall separately, with SERVE measured
    against persisted codes as median of ``serve_runs`` fresh builds of
    the search plan. Not registered — bench.py attaches the result to
    BENCH_r{N}.json as ``stage_breakdown``."""
    import statistics as _stats
    import time as _time

    from ..operators.ivf import bounded_sample_matrix, train_centroids
    from ..operators.pq import ivfpq_encode, ivfpq_search, ivfpq_train

    e = load_table(spark, sf_dir, "embeddings")
    walls: dict[str, float] = {}
    # Same fused-sample shape as the registered query: the shared
    # count+collect is charged to train_centroids (it is the pass that
    # pays it); train_codebook is then pure driver numpy.
    t0 = _time.perf_counter()
    mat = bounded_sample_matrix(e, 2000)
    cent = train_centroids(e, n_clusters=16, sample_rows=2000, iters=10,
                           sample_mat=mat)
    walls["train_centroids"] = round(_time.perf_counter() - t0, 4)
    t0 = _time.perf_counter()
    cb = ivfpq_train(e, cent, m=8, ksub=64, sample_rows=2000, iters=10,
                     sample_mat=mat)
    walls["train_codebook"] = round(_time.perf_counter() - t0, 4)
    t0 = _time.perf_counter()
    codes = ivfpq_encode(e, cent, cb, n_assign=3).persist()
    codes.count()
    walls["build_encode"] = round(_time.perf_counter() - t0, 4)
    serve = []
    for _ in range(serve_runs):
        t0 = _time.perf_counter()
        (ivfpq_search(codes, e, e, cent, cb, n_probe=8, k=1,
                      shortlist=64, exclude_self=True)
         .orderBy("query_id").collect())
        serve.append(_time.perf_counter() - t0)
    codes.unpersist()
    walls["serve_median"] = round(_stats.median(serve), 4)
    walls["serve_runs"] = serve_runs
    walls["train_total"] = round(walls["train_centroids"]
                                 + walls["train_codebook"], 4)
    return walls


def _mmr_oracle_sql(k: int = 10, n_cand: int = 30,
                    lam: float = 0.7) -> str:
    """Unrolled greedy-MMR oracle (graduated vec_mmr from rows-only in
    round 8, same unrolling idea as graph_pagerank's oracle): the pick
    count is FIXED, so each greedy step is one chained CTE pair —
    p{i} = argmax over unpicked candidates of
    lam·rel − (1−lam)·max(sim to picked), picked{i} = picked{i-1} ∪
    p{i}. Cross-engine float parity: rel is the 6-dp-rounded candidate
    cosine, the redundancy sims are rounded to 6 dp on BOTH engines
    before the max (the Spark kernel input is np.round(sims, 6)), so
    every score is the same two-term expression over identical grid
    doubles; ties break (score DESC, rel DESC, vec_id) — the SQL
    restatement of mmr_select's sorted-entry first-index rule."""
    d, od = lam, 1.0 - lam
    cos = ("list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), "
           "CAST(q.embedding AS DOUBLE[]))")
    steps = []
    for i in range(2, k + 1):
        p = i - 1
        steps.append(f""",
p{i} AS MATERIALIZED (
  SELECT c.vec_id, c.rel, c.emb,
         {d!r} * c.rel - {od!r} * (
           SELECT MAX(ROUND(list_cosine_similarity(
                              CAST(c.emb AS DOUBLE[]),
                              CAST(s.emb AS DOUBLE[])), 6))
           FROM picked{p} s) AS score
  FROM cand c
  WHERE c.vec_id NOT IN (SELECT vec_id FROM picked{p})
  ORDER BY score DESC, c.rel DESC, c.vec_id
  LIMIT 1
), picked{i} AS MATERIALIZED (
  SELECT * FROM picked{p}
  UNION ALL SELECT {i} AS rank, vec_id, rel, emb, score FROM p{i}
)""")
    return f"""
WITH q AS MATERIALIZED (SELECT embedding FROM embeddings WHERE vec_id = 0),
cand AS MATERIALIZED (
  SELECT c.vec_id, ROUND({cos}, 6) AS rel, c.embedding AS emb
  FROM embeddings c, q
  WHERE c.vec_id <> 0
  ORDER BY ROUND({cos}, 6) DESC, c.vec_id
  LIMIT {n_cand}
),
p1 AS MATERIALIZED (
  SELECT vec_id, rel, emb, {d!r} * rel AS score
  FROM cand ORDER BY {d!r} * rel DESC, rel DESC, vec_id LIMIT 1
), picked1 AS MATERIALIZED (
  SELECT 1 AS rank, vec_id, rel, emb, score FROM p1
){"".join(steps)}
SELECT CAST(rank AS BIGINT) AS rank, vec_id, rel,
       ROUND(score, 7) AS mmr_score
FROM picked{k}
ORDER BY rank
"""


@register("vec_mmr", oracle=_mmr_oracle_sql(), tags=("vector", "retrieval"))
def vec_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified retrieval via maximal marginal relevance — the
    standard two-stage retrieve-then-rerank: stage 1 runs the
    DISTRIBUTED exact search (knn_search_broadcast: query broadcast,
    corpus streamed, never collected) to cut the corpus to 30
    candidates; stage 2 collects that BOUNDED candidate set (30 rows x
    dim — a documented bounded collect, same class as the PCA/sketch
    partials) and greedily selects 10 results trading relevance
    against redundancy (lambda = 0.7). This is the dedup-at-serving-
    time companion to dedup_embedding: near-duplicate corpus entries
    that would dominate a plain top-10 get suppressed.

    Oracle-backed since round 8: the fixed-k greedy chain unrolls into
    one CTE pair per pick (see ``_mmr_oracle_sql``); redundancy sims
    are 6-dp-rounded on both engines so scores live on an exact shared
    grid. The kernel (operators/knn.py:mmr_select) additionally stays
    pinned against an independent reference implementation and
    determinism-gated in tests/test_analytics.py. Output ranks are
    deterministic: candidates enter sorted (rel desc, vec_id), ties
    keep the earlier candidate."""
    import numpy as np

    from ..operators.knn import knn_search_broadcast, mmr_select

    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == 0)
    corpus = e.where(F.col("vec_id") != 0)
    cands = knn_search_broadcast(corpus, q, k=30)
    rows = (cands.join(e.select(F.col("vec_id").alias("neighbor_id"),
                                "embedding"), "neighbor_id")
            .select("neighbor_id", "cos_sim", "embedding")
            .orderBy(F.desc("cos_sim"), "neighbor_id")
            .collect())                      # bounded: 30 candidates
    schema = "rank long, vec_id long, rel double, mmr_score double"
    if not rows:                             # empty corpus/query: no picks
        return spark.createDataFrame([], schema)
    ids = np.array([r["neighbor_id"] for r in rows])
    rel = np.array([r["cos_sim"] for r in rows], dtype=np.float64)
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    # A zero-norm candidate would make its whole similarity row/col NaN
    # and NaN never wins mmr_select's `>` comparisons — silently
    # mis-ranking everything after the first pick. Clamp: a zero vector
    # has similarity 0 to everything (mat row is all zeros already).
    norms = np.where(norms == 0.0, 1.0, norms)
    # 6-dp grid BEFORE selection: the oracle's redundancy term rounds
    # its cosines the same way, so both engines' scores are the same
    # two-term expression over identical grid doubles — without this,
    # BLAS-vs-DuckDB dot-product sum order could flip a near-tied pick.
    sims = np.round((mat @ mat.T) / np.outer(norms, norms), 6)
    picked = mmr_select(rel, sims, k=10, lam=0.7)
    # Score grid: lam*rel - (1-lam)*red of 6-dp grid terms lives on an
    # EXACT 1e-7 decimal grid, so rounding to 6 dp hits a half-grid tie
    # on ~1/10 of picks — where python round (half-even on the binary
    # double) and DuckDB ROUND (decimal half-away) disagree (caught by
    # the sf0.001 oracle gate). Rounding AT the intrinsic 7-dp grid is
    # tie-free: both engines hold the same double within ~1e-9 of the
    # grid point and agree.
    out = [(rank + 1, int(ids[i]), round(float(rel[i]), 6), round(score, 7))
           for rank, (i, score) in enumerate(picked)]
    return spark.createDataFrame(out, schema)


def _pca_power_oracle_sql(dim: int = 64, iterations: int = 16,
                          squarings: int = 7) -> str:
    """Unrolled power-iteration PCA oracle (the pagerank unrolling
    pattern applied to linear algebra): covariance entries are exact
    decimal sums snapped to a 12-dp grid; each iteration is one
    (matvec, norm, renormalized-iterate) CTE triple whose arithmetic
    is grid-exact — matvec terms quantize to DECIMAL(38,18) before
    summation (order-independent), the iterate renormalizes through an
    IEEE sqrt and snaps back to 12 dp. Every step mirrors
    operators/pca.py:power_iteration_grid digit-for-digit, which is
    what lets an eigen-computation sit in the oracle column at all."""
    sqs = []
    for k in range(1, squarings + 1):
        prev = "cov" if k == 1 else f"bn{k - 1}"
        sqs.append(f"""
b{k} AS MATERIALIZED (
  SELECT a.i, b.j,
         CAST(SUM(CAST(a.c * b.c AS DECIMAL(38,18))) AS DOUBLE) AS c
  FROM {prev} a JOIN {prev} b ON a.j = b.i GROUP BY a.i, b.j
), f{k} AS (
  SELECT sqrt(CAST(SUM(CAST(c * c AS DECIMAL(38,18))) AS DOUBLE)) AS f
  FROM b{k}
), bn{k} AS MATERIALIZED (
  SELECT i, j, ROUND(c / (SELECT f FROM f{k}), 12) AS c FROM b{k}
)""")
    mat = f"bn{squarings}" if squarings else "cov"
    its = []
    for t in range(1, iterations + 1):
        p = t - 1
        its.append(f"""
w{t} AS MATERIALIZED (
  SELECT m.i AS pos,
         CAST(SUM(CAST(m.c * v.v AS DECIMAL(38,18))) AS DOUBLE) AS w
  FROM {mat} m JOIN v{p} v ON m.j = v.pos GROUP BY m.i
), nm{t} AS (
  SELECT sqrt(CAST(SUM(CAST(w * w AS DECIMAL(38,18))) AS DOUBLE)) AS nm
  FROM w{t}
), v{t} AS MATERIALIZED (
  SELECT pos, ROUND(w / (SELECT nm FROM nm{t}), 12) AS v FROM w{t}
)""")
    return f"""
WITH ex AS MATERIALIZED (
  SELECT vec_id, j - 1 AS pos, CAST(embedding[j] AS DOUBLE) AS val
  FROM embeddings, unnest(range(1, len(embedding) + 1)) u(j)
),
nn AS (SELECT COUNT(*) AS n FROM embeddings),
means AS MATERIALIZED (
  SELECT pos,
         ROUND(CAST(SUM(CAST(val AS DECIMAL(38,12))) AS DOUBLE)
               / (SELECT n FROM nn), 12) AS m
  FROM ex GROUP BY pos
),
cx AS MATERIALIZED (
  SELECT vec_id, pos, val - m AS c FROM ex JOIN means USING (pos)
),
cov AS MATERIALIZED (
  SELECT a.pos AS i, b.pos AS j,
         ROUND(CAST(SUM(CAST(a.c * b.c AS DECIMAL(38,18))) AS DOUBLE)
               / (SELECT n FROM nn), 12) AS c
  FROM cx a JOIN cx b ON a.vec_id = b.vec_id
  GROUP BY 1, 2
),
v0 AS (SELECT DISTINCT pos, 0.125 AS v FROM ex),{",".join(sqs)},{",".join(its)}
SELECT CAST(pos AS INTEGER) AS pos, v AS pc1_loading
FROM v{iterations}
ORDER BY pos
"""


@register("vec_pca_power", oracle=_pca_power_oracle_sql(),
          tags=("vector", "pca"))
def vec_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA top principal component by exact-grid power iteration —
    the ORACLE-CHECKABLE eigen-computation (vec_pca's LAPACK fit stays
    the fast physical path, NumPy-pinned; this query proves the same
    linear algebra can be held to the exact cross-engine bar).

    Distributed part: the d×d covariance as EXACT decimal sums over
    the centered per-row products (the only corpus-sized pass; at this
    formulation it is one explode + self-join on vec_id — n·d² rows —
    chosen because an ANSI oracle can recompute it; the Gram-partial
    mapInPandas pass in operators/pca.py is the same statistic for the
    physical path, exactly the tfidf relational-vs-ml pairing).
    Driver part: 7 matrix squarings (Frobenius-renormalized — the
    measured spectrum is nearly flat, λ2/λ1 = 0.987 at sf0.01, so
    C^(2^7) compounds the eigengap to ratio^2048 where plain power
    iteration would need ~550 rounds) then 16 power-iteration rounds,
    all in exact grid arithmetic (operators/pca.py:
    power_iteration_grid — 1e-18-quantized term sums, 12-dp snapping,
    IEEE sqrt), so the unrolled SQL oracle reproduces every digit.
    Bounded driver state: d² doubles, like fit_pca.

    Output: (pos, pc1_loading) — the unit top-eigenvector on the
    12-dp grid. Sign is pinned by the iteration dynamics from the
    fixed uniform start (no LAPACK sign ambiguity); direction accuracy
    vs NumPy eigh is asserted ≥ |cos| 0.999 in tests (measured 0.9999+
    at sf0.001 — 16 plain rounds alone measured 0.66 on the flat
    spectrum, which is why the squaring stage exists)."""
    from ..operators.pca import power_iteration_grid

    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()      # bounded scalar: the covariance denominator
    if n == 0:
        return spark.createDataFrame([], "pos int, pc1_loading double")
    ex = (e.select("vec_id", F.posexplode("embedding").alias("pos", "val"))
          .select("vec_id", "pos", F.col("val").cast("double").alias("val")))
    means = (ex.groupBy("pos")
             .agg(F.round(F.sum(F.col("val").cast("decimal(38,12)"))
                          .cast("double") / n, 12).alias("m")))
    cx = (ex.join(F.broadcast(means), "pos")
          .select("vec_id", "pos", (F.col("val") - F.col("m")).alias("c")))
    a = cx.select("vec_id", F.col("pos").alias("i"), F.col("c").alias("ci"))
    b = cx.select("vec_id", F.col("pos").alias("j"), F.col("c").alias("cj"))
    cov = (a.join(b, "vec_id")
           .groupBy("i", "j")
           .agg(F.round(F.sum((F.col("ci") * F.col("cj"))
                              .cast("decimal(38,18)"))
                        .cast("double") / n, 12).alias("c")))
    rows = cov.collect()   # bounded: d² = 4096 entries (the 4 KB matrix)
    dim = 1 + max(int(r.i) for r in rows)
    v = power_iteration_grid(((r.i, r.j, r.c) for r in rows), dim,
                             iterations=16)
    return spark.createDataFrame(
        [(i, float(x)) for i, x in enumerate(v)],
        "pos int, pc1_loading double")
