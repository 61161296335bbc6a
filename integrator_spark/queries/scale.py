"""Scale-pattern queries (SURVEY.md §4 / M5): partition-pruned scans,
binary-file ingest, salted aggregation, IVF approximate NN — each the
pattern that keeps its operator family viable at 100 TB, verified at
fixture scale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.num import DEC, dsum, sql_dsum
from ..io import derived_dir, load_table
from ..operators import budget
from ..operators.skew import salted_aggregate
from ..registry import register


@register("scan_partition_pruned", oracle=f"""
SELECT COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice')} AS total
FROM orders
WHERE o_orderstatus = 'F'
""", tags=("source", "partitioned", "pruning"))
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition pruning end-to-end: write hive-partitioned, read with a
    partition-key filter — the scan must touch only the matching
    directory (asserted in tests/test_plans.py). At 100 TB this is the
    difference between scanning one status and scanning everything."""
    src = load_table(spark, sf_dir, "orders")
    path = derived_dir(sf_dir, "orders_by_status_pruned")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        src.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    # explicit schema: a partitionBy write of an EMPTY frame leaves no
    # data files, and a schema-less re-read cannot infer one
    df = (spark.read.schema(src.schema).parquet(path)
          .filter(F.col("o_orderstatus") == "F"))
    return df.agg(F.count(F.lit(1)).alias("n_orders"),
                  dsum("o_totalprice").alias("total"))


#: Records-per-shard bound for the scan_binaryfile staging writer: with
#: each language's rows in one task (repartition on lang), the writer
#: rolls a new file every SHARD_RECORDS rows, so shard count per lang is
#: exactly ceil(n_lang / SHARD_RECORDS) — deterministic, oracle-checked.
SHARD_RECORDS = 200


@register("scan_binaryfile", oracle=f"""
SELECT lang,
       CAST(CEIL(COUNT(*) / {SHARD_RECORDS}.0) AS BIGINT) AS n_files,
       CAST(SUM(n_chars) + COUNT(*) AS BIGINT) AS n_bytes
FROM documents
GROUP BY lang
""", tags=("source", "binary", "multimodal"))
def scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque binary ingest via the binaryFile source: documents staged
    as a hive-partitioned text shard layout (``partitionBy(lang)`` with
    ``maxRecordsPerFile`` bounding every shard at SHARD_RECORDS rows),
    re-read as (path, content) rows — the pattern for image/audio shard
    ingest. The byte oracle is SUM(n_chars) + one newline per record;
    the shard-count oracle is ceil(n_lang / SHARD_RECORDS), so the
    bounded-file property itself is verified, not just claimed.

    100 TB posture: the shard stage is the engine's own partitioned
    writer — every task writes only its partition's bounded files, no
    per-key blob ever exists in one row or on the driver (the r4
    verdict's finding 3: collect_list-of-a-whole-language is gone)."""
    d = load_table(spark, sf_dir, "documents")
    path = derived_dir(sf_dir, "lang_shards")
    (d.select("lang", "text")
     .repartition("lang")                       # all of a lang in one task
     .sortWithinPartitions("lang")
     .write.mode("overwrite")
     .option("maxRecordsPerFile", SHARD_RECORDS)
     .partitionBy("lang")
     .text(path))
    df = spark.read.format("binaryFile") \
        .option("pathGlobFilter", "*.txt").load(path)
    return (df.select(
                F.regexp_extract("path", r"lang=([^/]+)", 1).alias("lang"),
                F.length("content").cast("long").alias("_bytes"))
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_files"),
                 F.sum("_bytes").alias("n_bytes")))


@register("agg_salted", oracle=f"""
SELECT event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS total_value
FROM events
GROUP BY event_type
""", tags=("agg", "skew"))
def agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over the 5 hot event-type keys —
    the skew shape where one key would otherwise pin a single reducer.
    Decimal sums re-aggregate exactly, so the result is bit-identical
    to the plain plan (which is what the oracle computes)."""
    e = load_table(spark, sf_dir, "events")
    return salted_aggregate(
        e, keys=["event_type"], salt_on="event_id",
        aggs={
            "n_events": (F.count(F.lit(1)), F.sum("n_events")),
            "total_value": (F.sum(F.col("value").cast(DEC)),
                            F.sum("total_value").cast("double")),
        },
        buckets=8)


@register("vec_ann_ivf", oracle=None, tags=("vector", "knn", "approx"))
def vec_ann_ivf(spark: SparkSession, sf_dir: str,
                n_clusters: int = 16, n_assign: int = 3,
                n_probe: int = 6) -> DataFrame:
    """IVF approximate NN with multi-assignment: k-means coarse
    quantizer over L2-normalized vectors (seeded), each DB vector
    inverted into its ``n_assign`` nearest centroid buckets, each query
    probing its ``n_probe`` nearest — exact HOF cosine only inside
    probed buckets. Rows-only; measured recall@1 lives in
    vec_ann_recall (asserted >= 0.9 in tests).

    Candidate fan-out is n x n_probe x avg_bucket x n_assign — bounded
    by the dials, never n². The dials are a recall/cost trade that is
    DATA-dependent: the synthetic fixture is isotropic (no cluster
    structure, true-NN cosine ~0.37 vs bulk ~0.0 +- 0.125), the
    adversarial case for IVF, so hitting 0.9+ recall needs deep probing
    (assign=3/probe=6 -> 0.97 here). On real clustered embeddings the
    same index reaches that recall at probe=1-2 with a tiny scan
    fraction — which is the regime that makes IVF the 100 TB path.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import Normalizer
    from pyspark.ml.functions import array_to_vector

    from ..operators.knn import _cosine_expr, _l2_expr

    e = load_table(spark, sf_dir, "embeddings")
    if e.isEmpty():   # KMeans.fit requires rows; empty corpus => no pairs
        return spark.createDataFrame(
            [], "vec_id long, neighbor_id long, approx_cos double")
    vecs = Normalizer(inputCol="raw", outputCol="features", p=2.0).transform(
        e.select("vec_id", "embedding",
                 array_to_vector("embedding").alias("raw")))
    km = KMeans(k=n_clusters, seed=42, maxIter=8,
                featuresCol="features", predictionCol="bucket")
    model = km.fit(vecs)

    # Rank every (vector, centroid) pair once (centroids broadcast);
    # the top-n_assign ranks build the inverted index, the top-n_probe
    # ranks pick the query's probe set.
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "bucket int, centroid array<double>")
    sims = (e.select("vec_id", "embedding")
            .crossJoin(F.broadcast(centroids))
            .select("vec_id", "embedding", "bucket",
                    _cosine_expr(F.col("embedding"),
                                 F.col("centroid")).alias("_sim")))
    w = Window.partitionBy("vec_id").orderBy(F.col("_sim").desc(), F.col("bucket"))
    ranked = sims.withColumn("_rn", F.row_number().over(w))
    # _cbucket (not "bucket"): both cogroup sides derive from `ranked`,
    # and identical attribute ids trip the ambiguous-self-join check.
    assigned = ranked.filter(F.col("_rn") <= n_assign).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("bucket").alias("_cbucket"),
        _l2_expr(F.col("embedding")).alias("_cn"))
    probed = ranked.filter(F.col("_rn") <= n_probe).select(
        "vec_id", F.col("embedding").alias("q_emb"), "bucket",
        _l2_expr(F.col("embedding")).alias("_qn"))

    # r12 (guide §4.2 — hand whole batches to vectorized native code):
    # the probe join fans out to ~n·probe·bucket candidate pairs (4.5M
    # at sf0.1) and the per-pair HOF dot ran interpreted — 29 s of the
    # 39 s wall; materializing the pairs for the global window was most
    # of the rest. The scoring is now a cogrouped-by-bucket numpy
    # matmul that emits only each query's per-bucket best (raw float64
    # sims, self-pairs masked, ties to the smallest id via the
    # id-sorted argmax-first rule — the window's exact tie-break), so
    # the global window merges n·probe rows instead of n·probe·bucket.
    # Selection stays on RAW doubles with round(6) applied after the
    # final top-1, exactly as before (this face deliberately does NOT
    # use _chunked_topk_rows' grid-before-select convention).
    import numpy as np
    import pandas as pd

    def _bucket_top1(qdf: "pd.DataFrame",
                     cdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame({"vec_id": pd.Series(dtype="int64"),
                              "neighbor_id": pd.Series(dtype="int64"),
                              "_cos": pd.Series(dtype="float64")})
        if qdf.empty or cdf.empty:
            return empty
        order = np.argsort(cdf["neighbor_id"].to_numpy(), kind="stable")
        c_ids = cdf["neighbor_id"].to_numpy()[order]
        C = np.array(cdf["c_emb"].tolist(), dtype=np.float64)[order]
        cn = cdf["_cn"].to_numpy()[order]
        q_ids = qdf["vec_id"].to_numpy()
        Q = np.array(qdf["q_emb"].tolist(), dtype=np.float64)
        qn = qdf["_qn"].to_numpy()
        sims = (Q @ C.T) / (qn[:, None] * cn[None, :])
        sims[q_ids[:, None] == c_ids[None, :]] = -np.inf
        j = sims.argmax(axis=1)          # first max = smallest id
        best = sims[np.arange(len(q_ids)), j]
        keep = best != -np.inf           # a query alone in its bucket
        return pd.DataFrame({"vec_id": q_ids[keep].astype("int64"),
                             "neighbor_id": c_ids[j[keep]].astype("int64"),
                             "_cos": best[keep]})

    pairs = (probed.groupBy("bucket")
             .cogroup(assigned.groupBy("_cbucket"))
             .applyInPandas(_bucket_top1,
                            "vec_id long, neighbor_id long, _cos double"))
    w2 = Window.partitionBy("vec_id").orderBy(F.col("_cos").desc(),
                                              F.col("neighbor_id"))
    return (pairs.withColumn("_rn", F.row_number().over(w2))
            .filter(F.col("_rn") == 1)
            .select("vec_id",
                    F.col("neighbor_id").cast("long").alias("neighbor_id"),
                    F.round("_cos", 6).alias("approx_cos")))


def _ivf_det_chain_sql(k: int = 16, iters: int = 4) -> str:
    """The deterministic-k-means CTE chain shared by every det-IVF
    oracle (ANN top-1 in _ivf_det_oracle_sql, near-dup pairs in
    queries/dedup.py): quantized corpus → md5-ranked seeds → ``iters``
    unrolled Lloyd rounds → ``ranked`` = per-vector centroid ranks.
    Callers append their own tail CTEs/SELECT."""
    head = """
WITH qv AS (SELECT vec_id,
              list_transform(CAST(embedding AS DOUBLE[]),
                             x -> CAST(floor(x * 1048576.0) AS BIGINT)) AS q
       FROM embeddings),
comp AS (SELECT vec_id, j, q[j + 1] AS val
         FROM qv, unnest(range(0, 64)) t(j)),
seedids AS (SELECT vec_id,
                   row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                      vec_id) - 1 AS bucket
            FROM embeddings),
cent0 AS (SELECT s.bucket, c.j, c.val
          FROM seedids s JOIN comp c ON c.vec_id = s.vec_id
          WHERE s.bucket < {k})""".format(k=k)
    step = """,
sim{i} AS (SELECT c.vec_id, t.bucket, SUM(c.val * t.val) AS dot
           FROM comp c JOIN cent{p} t ON c.j = t.j
           GROUP BY 1, 2),
nrm{i} AS (SELECT bucket, sqrt(CAST(SUM(val * val) AS DOUBLE)) AS nrm
           FROM cent{p} GROUP BY 1),
asg{i} AS (SELECT vec_id, bucket FROM (
             SELECT s.vec_id, s.bucket,
                    row_number() OVER (PARTITION BY s.vec_id
                      ORDER BY CASE WHEN n.nrm = 0
                                    THEN CAST('-infinity' AS DOUBLE)
                                    ELSE CAST(s.dot AS DOUBLE) / n.nrm
                               END DESC, s.bucket) AS rn
             FROM sim{i} s JOIN nrm{i} n ON s.bucket = n.bucket)
           WHERE rn = 1),
new{i} AS (SELECT a.bucket, c.j,
                  CAST(floor(CAST(SUM(c.val) AS DOUBLE) / COUNT(*))
                       AS BIGINT) AS val
           FROM asg{i} a JOIN comp c ON a.vec_id = c.vec_id
           GROUP BY 1, 2),
cent{i} AS (SELECT p.bucket, p.j, COALESCE(n.val, p.val) AS val
            FROM cent{p} p LEFT JOIN new{i} n
              ON n.bucket = p.bucket AND n.j = p.j)"""
    body = "".join(step.format(i=i, p=i - 1) for i in range(1, iters + 1))
    rank_tail = """,
fsim AS (SELECT c.vec_id, t.bucket, SUM(c.val * t.val) AS dot
         FROM comp c JOIN cent{it} t ON c.j = t.j
         GROUP BY 1, 2),
fnrm AS (SELECT bucket, sqrt(CAST(SUM(val * val) AS DOUBLE)) AS nrm
         FROM cent{it} GROUP BY 1),
ranked AS (SELECT s.vec_id, s.bucket,
                  row_number() OVER (PARTITION BY s.vec_id
                    ORDER BY CASE WHEN n.nrm = 0
                                  THEN CAST('-infinity' AS DOUBLE)
                                  ELSE CAST(s.dot AS DOUBLE) / n.nrm
                             END DESC, s.bucket) AS rn
           FROM fsim s JOIN fnrm n ON s.bucket = n.bucket)""".format(it=iters)
    return head + body + rank_tail


def _ivf_det_oracle_sql(k: int = 16, iters: int = 4, n_assign: int = 3,
                        n_probe: int = 6,
                        live_pred: str = "TRUE") -> str:
    """Unrolled-CTE DuckDB replay of the ENTIRE deterministic IVF
    pipeline — the ml_logreg / vec_pca_power template applied to
    Lloyd k-means: every iteration is one CTE trio (assign → per-
    component integer means → COALESCE empty buckets), walking the
    exact integer grid the engine walks (see vec_ann_ivf_det). The
    tail (candidates → exact-cosine top-1) is the _ANN_SIGNLSH_ORACLE
    tail verbatim. ``live_pred`` (over ``vec_id``) filters BOTH the
    assigned and the probed side AFTER the fit — the tombstone
    read-side rule of vec_ann_ivf_deletes: the quantizer was trained
    before the deletes, only serving excludes them."""
    tail = """,
assigned AS (SELECT vec_id AS neighbor_id, bucket FROM ranked
             WHERE rn <= {na} AND ({lp})),
probed AS (SELECT vec_id, bucket FROM ranked
           WHERE rn <= {np} AND ({lp})),
cand AS (SELECT DISTINCT p.vec_id, a.neighbor_id
         FROM probed p JOIN assigned a ON p.bucket = a.bucket
         WHERE p.vec_id <> a.neighbor_id),
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
""".format(na=n_assign, np=n_probe, lp=live_pred)
    return _ivf_det_chain_sql(k, iters) + tail


def _ivf_det_quantize(e: DataFrame) -> DataFrame:
    """The shared floor(x·2²⁰) integer-grid projection (eagerly
    checkpointed: every fit/serve consumer re-reads it)."""
    return e.select(
        "vec_id",
        F.transform(F.col("embedding").cast("array<double>"),
                    lambda x: F.floor(x * F.lit(1048576.0)).cast("long"))
        .alias("q")).localCheckpoint(eager=True)


def _det_collect_q(q: DataFrame, dim: int):
    """Bounded collect of the quantized frame for the driver-side
    Lloyd kernel (r13: one Arrow collect replaces ~6 driver-synchronized
    jobs per fit; k-means training at 100 TB samples to a bounded set
    anyway, and this gate IS that bound): (ids int64[n], mat
    int64[n×dim]) when n×dim×8 fits the driver budget, else None
    (callers take the distributed route). One cheap count job (q is
    checkpointed) gates the Arrow transfer so the over-budget case
    never ships data."""
    import numpy as np

    if not budget.fits_driver(q.count() * dim * 8):
        return None
    pdf = q.select("vec_id", "q").toPandas()
    ids = pdf["vec_id"].to_numpy()
    if len(pdf) == 0:
        return ids, np.zeros((0, dim), dtype=np.int64)
    return ids, np.array(pdf["q"].tolist(), dtype=np.int64)


def _np_cent_sims(mat, cent: dict[int, list[int]]):
    """n×k similarity matrix of the det chain — the SAME ops in the
    same order as _ivf_det_rank / _det_assign_fold_sql: exact int64
    dots (values ≤2²⁰, dim 64 → |dot| ≤ 2⁴⁶, no overflow), centroid
    norms via math.sqrt of exact integer squares, one IEEE double
    division per cell, -inf for zero-norm centroids. Returns
    (sorted bucket ids, sims float64[n×k])."""
    import math

    import numpy as np

    buckets = sorted(cent)
    cmat = np.array([cent[b] for b in buckets], dtype=np.int64)
    nrm = np.array([math.sqrt(sum(int(v) * int(v) for v in cent[b]))
                    for b in buckets], dtype=np.float64)
    dots = mat @ cmat.T
    with np.errstate(divide="ignore", invalid="ignore"):
        sims = dots.astype(np.float64) / nrm[None, :]
    sims[:, nrm == 0.0] = float("-inf")
    return buckets, sims


def _np_lloyd(ids, mat, k: int, iters: int) -> dict[int, list[int]]:
    """Driver replay of :func:`_ivf_det_fit_q_dist` — identical seeds
    (k smallest (md5(str(id)), id)), identical assignment (argmax of
    dot/nrm, ties → lowest bucket: np.argmax's first-max matches the
    fold's strict->), identical means (exact int64 sums, Python
    int/int true division then floor — the same arithmetic the
    distributed loop does on its collected sums), empty buckets keep
    the old centroid. Bit-equality with the distributed route is
    pinned in tests."""
    import hashlib
    import math

    import numpy as np

    order = sorted(range(len(ids)),
                   key=lambda i: (hashlib.md5(str(int(ids[i])).encode())
                                  .hexdigest(), int(ids[i])))
    cent = {i: [int(v) for v in mat[order[i]]]
            for i in range(min(k, len(ids)))}
    if not cent:
        # Empty corpus → empty seed set; the distributed loop's rounds
        # are all no-ops in that case, so return the (empty) dict now.
        return cent
    for _ in range(iters):
        buckets, sims = _np_cent_sims(mat, cent)
        asg = sims.argmax(axis=1)
        sums = np.zeros((len(buckets), mat.shape[1]), dtype=np.int64)
        np.add.at(sums, asg, mat)
        cnts = np.bincount(asg, minlength=len(buckets))
        new = {}
        for bi, b in enumerate(buckets):
            if cnts[bi]:
                new[b] = [math.floor(int(s) / int(cnts[bi]))
                          for s in sums[bi]]
        cent.update(new)
    return cent


def _np_det_rank_pdf(ids, mat, cent: dict[int, list[int]], max_rn: int):
    """Driver twin of :func:`_ivf_det_rank` truncated to the top
    ``max_rn`` buckets per vector: a stable argsort on -sim reproduces
    the window's (sim DESC, bucket ASC) order exactly (negation is an
    exact sign flip; stable ties keep the bucket-ascending column
    order; -inf for zero-norm centroids sorts last). Returns a pandas
    frame (vec_id, bucket, _rn) — row-identical to the relational
    ranking filtered to _rn <= max_rn."""
    import numpy as np
    import pandas as pd

    if len(ids) == 0 or not cent:
        # Mirror _ivf_det_rank on empty input: zero ranked rows.
        return pd.DataFrame({
            "vec_id": np.array([], dtype=np.int64),
            "bucket": np.array([], dtype=np.int32),
            "_rn": np.array([], dtype=np.int32)})
    buckets, sims = _np_cent_sims(mat, cent)
    order = np.argsort(-sims, axis=1, kind="stable")[:, :max_rn]
    n, r = order.shape
    return pd.DataFrame({
        "vec_id": np.repeat(np.asarray(ids, dtype=np.int64), r),
        "bucket": np.asarray(buckets, dtype=np.int32)[order.ravel()],
        "_rn": np.tile(np.arange(1, r + 1, dtype=np.int32), n),
    })


def _np_codebook_arrays(cent: dict[int, list[int]]):
    """(codeword matrix int64[ksub×sub_dim], norms float64[ksub]) in
    bucket order — the literal arrays _det_assign_fold_sql embeds."""
    import math

    import numpy as np

    buckets = sorted(cent)
    w = np.array([cent[b] for b in buckets], dtype=np.int64)
    nrm = np.array([math.sqrt(sum(int(v) * int(v) for v in cent[b]))
                    for b in buckets], dtype=np.float64)
    return w, nrm


def _np_sub_codes(vecs, w, nrm):
    """Per-row nearest codeword of one subspace — identical selection
    to _det_assign_fold_sql / _ivf_det_rank rn=1 (exact int64 dots,
    dot/nrm IEEE division, -inf for zero norms, first-max argmax ==
    lowest-bucket tie)."""
    import numpy as np

    dots = vecs @ w.T
    with np.errstate(divide="ignore", invalid="ignore"):
        sims = dots.astype(np.float64) / nrm[None, :]
    sims[:, nrm == 0.0] = float("-inf")
    return sims.argmax(axis=1)


def _np_topk_pairs(q_arr, x_arr, v_arr, shortlist: int):
    """(q, x, v) triplets → the per-q top-``shortlist`` pairs under
    (v DESC, x ASC) after a max-per-(q,x) reduction — the numpy twin
    of the relational bst→window chain (row_number ties identical:
    lexsort is stable and keys are exact copies of the SQL sort keys).
    Returns a pandas frame (vec_id, neighbor_id)."""
    import numpy as np
    import pandas as pd

    # bst: max v per (q, x) — first row of each (q, x) run under
    # (q, x, -v) ascending.
    order = np.lexsort((-v_arr, x_arr, q_arr))
    q_arr, x_arr, v_arr = q_arr[order], x_arr[order], v_arr[order]
    first = np.ones(len(q_arr), dtype=bool)
    first[1:] = (q_arr[1:] != q_arr[:-1]) | (x_arr[1:] != x_arr[:-1])
    q_arr, x_arr, v_arr = q_arr[first], x_arr[first], v_arr[first]
    # shortlist: rank within q under (v DESC, x ASC).
    order = np.lexsort((x_arr, -v_arr, q_arr))
    q_arr, x_arr = q_arr[order], x_arr[order]
    starts = np.ones(len(q_arr), dtype=bool)
    starts[1:] = q_arr[1:] != q_arr[:-1]
    run_start = np.maximum.accumulate(
        np.where(starts, np.arange(len(q_arr)), 0))
    rank = np.arange(len(q_arr)) - run_start + 1
    keep = rank <= shortlist
    return pd.DataFrame({"vec_id": q_arr[keep],
                         "neighbor_id": x_arr[keep]})


def _np_ivfpq_shortlist(ids, mat, coarse, rcents, n_assign, n_probe,
                        shortlist, m, sub_dim):
    """Driver replay of vec_ann_ivfpq_det's compressed-domain scan —
    codes, reconstruction norms, LUTs, probe-bounded residual-ADC
    scoring, best-per-pair, top-``shortlist`` — all exact int64 (plus
    the same one IEEE division per score the relational plan does).
    Returns the shortlist pairs; the exact-cosine rerank stays in
    Spark. Route parity with the relational scan is pinned end-to-end
    in tests."""
    import numpy as np

    ids = np.asarray(ids, dtype=np.int64)
    n = len(ids)
    cbuckets, csims = _np_cent_sims(mat, coarse)
    corder = np.argsort(-csims, axis=1, kind="stable")
    cmat = np.array([coarse[b] for b in cbuckets], dtype=np.int64)
    Ws, Wnrms = zip(*[_np_codebook_arrays(rcents[s]) for s in range(m)])
    # Per (x, assignment slot): subspace codes + exact reconstruction
    # norm  Σ_j (cell_j + w_j)².
    codes = np.zeros((n, n_assign, m), dtype=np.int64)
    nrm2 = np.zeros((n, n_assign), dtype=np.int64)
    for a in range(n_assign):
        cells_a = corder[:, a]
        rq = mat - cmat[cells_a]
        recon = np.zeros_like(mat)
        for s in range(m):
            cs = _np_sub_codes(rq[:, s * sub_dim:(s + 1) * sub_dim],
                               Ws[s], Wnrms[s])
            codes[:, a, s] = cs
            recon[:, s * sub_dim:(s + 1) * sub_dim] = Ws[s][cs]
        full = cmat[cells_a] + recon
        nrm2[:, a] = np.einsum("ij,ij->i", full, full)
    # Query-side LUTs (n × m × ksub int64 dots) and coarse dots.
    luts = np.stack([mat[:, s * sub_dim:(s + 1) * sub_dim] @ Ws[s].T
                     for s in range(m)], axis=1)
    cdots = mat @ cmat.T
    # Probe scan, cell by cell: queries probing c × members assigned
    # to c (any slot), rd = Σ_s lut[q, s, code], v = (rd + cdot)/|x̂|.
    probe_cells = corder[:, :n_probe]
    qs_parts, xs_parts, vs_parts = [], [], []
    for ci in range(len(cbuckets)):
        q_idx = np.nonzero((probe_cells == ci).any(axis=1))[0]
        x_idx, x_slot = np.nonzero(corder[:, :n_assign] == ci)
        if len(q_idx) == 0 or len(x_idx) == 0:
            continue
        rd = np.zeros((len(q_idx), len(x_idx)), dtype=np.int64)
        xc = codes[x_idx, x_slot]                        # nx × m
        for s in range(m):
            rd += luts[q_idx][:, s, :][:, xc[:, s]]
        xn = nrm2[x_idx, x_slot].astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            v = ((rd + cdots[q_idx, ci][:, None]).astype(np.float64)
                 / np.sqrt(xn)[None, :])
        v[:, xn == 0.0] = float("-inf")
        qq = np.repeat(ids[q_idx], len(x_idx))
        xx = np.tile(ids[x_idx], len(q_idx))
        keep = qq != xx                                  # q_id <> x_id
        qs_parts.append(qq[keep])
        xs_parts.append(xx[keep])
        vs_parts.append(v.ravel()[keep])
    if not qs_parts:
        import pandas as pd
        return pd.DataFrame({"vec_id": np.array([], dtype=np.int64),
                             "neighbor_id": np.array([], dtype=np.int64)})
    return _np_topk_pairs(np.concatenate(qs_parts),
                          np.concatenate(xs_parts),
                          np.concatenate(vs_parts), shortlist)


def _np_pq_shortlist(ids, mat, cents, shortlist, m, sub_dim):
    """Driver replay of vec_ann_pq_det's exhaustive compressed-domain
    ADC scan (codes, LUT dots, score/|x̂| ranking) → top-``shortlist``
    pairs. Flat PQ scans every (q, x) pair BY DESIGN, so the n×n score
    matrix is the computation itself — gated on its n×n×8 bytes by the
    driver budget, with the relational scan as the over-budget route."""
    import numpy as np

    ids = np.asarray(ids, dtype=np.int64)
    n = len(ids)
    Ws, Wnrms = zip(*[_np_codebook_arrays(cents[s]) for s in range(m)])
    codes = np.stack([_np_sub_codes(mat[:, s * sub_dim:(s + 1) * sub_dim],
                                    Ws[s], Wnrms[s])
                      for s in range(m)], axis=1)         # n × m
    n2 = [np.einsum("ij,ij->i", Ws[s], Ws[s]) for s in range(m)]
    xnorm = np.zeros(n, dtype=np.int64)
    for s in range(m):
        xnorm += n2[s][codes[:, s]]
    luts = np.stack([mat[:, s * sub_dim:(s + 1) * sub_dim] @ Ws[s].T
                     for s in range(m)], axis=1)          # n × m × ksub
    dot = np.zeros((n, n), dtype=np.int64)
    for s in range(m):
        dot += luts[:, s, :][:, codes[:, s]]
    xnf = xnorm.astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        v = dot.astype(np.float64) / np.sqrt(xnf)[None, :]
    v[:, xnf == 0.0] = float("-inf")
    np.fill_diagonal(v, np.nan)                           # q_id <> x_id
    qq = np.repeat(ids, n)
    xx = np.tile(ids, n)
    vv = v.ravel()
    keep = ~np.isnan(vv)
    return _np_topk_pairs(qq[keep], xx[keep], vv[keep], shortlist)


def _ivf_det_fit(e: DataFrame, k: int, iters: int,
                 dim: int = 64) -> tuple[DataFrame, dict[int, list[int]]]:
    """Deterministic integer-grid Lloyd k-means shared by
    vec_ann_ivf_det and the dedup twin (queries/dedup.py): quantize
    the corpus to the floor(x·2²⁰) grid (checkpointed once), then fit
    via the driver numpy kernel when the matrix fits the driver
    budget (one Arrow collect, r13 optimization round —
    guide §1.2: the per-round job barriers were the wall, not the
    arithmetic), else the distributed loop (seed TakeOrdered + per-
    round bounded k×dim collects — the documented ml_logreg posture).
    Returns (quantized frame, centroid dict) — identical on both
    routes (parity-tested)."""
    q = _ivf_det_quantize(e)
    return q, _ivf_det_fit_q(q, k, iters, dim)


def _ivf_det_fit_q(q: DataFrame, k: int, iters: int,
                   dim: int) -> dict[int, list[int]]:
    """The Lloyd fit on an ALREADY-quantized (vec_id, q: array<long>)
    frame — also the entry point for fits over derived integer vectors
    (e.g. IVF-PQ residuals, which are integer differences and never
    pass through the float grid). Routes to the driver kernel under
    budget, else the distributed loop."""
    got = _det_collect_q(q, dim)
    if got is not None:
        return _np_lloyd(got[0], got[1], k, iters)
    return _ivf_det_fit_q_dist(q, k, iters, dim)


def _ivf_det_fit_ranked(
        e: DataFrame, k: int, iters: int, max_rn: int, dim: int = 64,
) -> tuple[DataFrame, dict[int, list[int]], DataFrame]:
    """Fit + centroid ranking in ONE bounded collect: returns
    (quantized frame, centroids, ranked) where ranked is the
    (vec_id, bucket, _rn <= max_rn) frame every det-IVF serve path
    filters from. Under budget the ranking is the driver twin of
    _ivf_det_rank (no crossJoin, no window exchange — and the ranked
    subtree is consumed twice by every caller, so the relational form
    paid that plan twice); over budget it IS _ivf_det_rank filtered
    to max_rn. Row-identical either way (parity-tested)."""
    q = _ivf_det_quantize(e)
    got = _det_collect_q(q, dim)
    if got is None:
        cent = _ivf_det_fit_q_dist(q, k, iters, dim)
        return q, cent, _ivf_det_rank(q, cent).filter(
            F.col("_rn") <= max_rn)
    ids, mat = got
    cent = _np_lloyd(ids, mat, k, iters)
    ranked = q.sparkSession.createDataFrame(
        _np_det_rank_pdf(ids, mat, cent, max_rn),
        "vec_id long, bucket int, _rn int")
    return q, cent, ranked


def _ivf_det_fit_q_dist(q: DataFrame, k: int, iters: int,
                        dim: int) -> dict[int, list[int]]:
    """The distributed Lloyd loop (the at-scale route of
    _ivf_det_fit_q): seed from the k smallest (md5(id), id) keys via a
    distributed TakeOrderedAndProject, then ``iters`` rounds of
    assign → per-component integer means. The ONLY driver collects are
    the k seed rows and k×dim component sums per round."""
    import math

    seed_rows = (q.select(F.md5(F.col("vec_id").cast("string"))
                          .alias("_h"), "vec_id", "q")
                 .orderBy("_h", "vec_id").limit(k).collect())
    cent: dict[int, list[int]] = {i: list(r.q)
                                  for i, r in enumerate(seed_rows)}
    for _ in range(iters):
        # _ivf_det_assign: selection-identical to the old
        # _ivf_det_rank(...)._rn==1 slice, but a narrow projection
        # that carries q along — the per-iteration job is one
        # aggregation instead of crossJoin + window exchange + join.
        # The component sums are dim COLUMN-WISE F.sum(q[j]) aggs (r12,
        # guide §2.3 "aggregate before you shuffle"): no posexplode
        # row blow-up, map-side partial aggregation, and the shuffle
        # carries k rows of dim+1 longs. int64 addition is exact and
        # order-free, so sums are bit-identical to the exploded form.
        sums = (_ivf_det_assign(q, cent)
                .groupBy("bucket")
                .agg(F.count(F.lit(1)).alias("cnt"),
                     *[F.sum(F.col("q").getItem(j)).alias(f"_s{j}")
                       for j in range(dim)])
                .collect())           # k x dim ints — bounded, documented
        new: dict[int, list[int]] = {}
        for r in sums:
            new[r.bucket] = [math.floor(r[f"_s{j}"] / r.cnt)
                             for j in range(dim)]
        cent.update(new)              # empty buckets keep old centroid
    return cent


def _ivf_det_assign(q: DataFrame, cent: dict[int, list[int]],
                    out_col: str = "bucket") -> DataFrame:
    """Top-1 bucket of :func:`_ivf_det_rank` (the ``_rn == 1`` slice)
    WITHOUT the crossJoin + window: the centroids become one literal
    array in the plan and each row walks it with a strict-``>``
    accumulator fold — selection is identical to the window's
    (``_sim`` DESC, bucket ASC) rule because the array is sorted by
    bucket and ties keep the earlier entry, and every arithmetic op
    (int64 zip_with dot, one double division by the driver-computed
    norm) is the same IEEE op in the same order as _ivf_det_rank's.

    Why it exists (r12 optimization round, guide §2.4): assignment is
    the inner step of every det-k-means iteration and of every
    per-subspace code pass; through _ivf_det_rank it cost a broadcast
    crossJoin, a full window sort-exchange, and (for the Lloyd sums) a
    join back to ``q`` — 3 stages and 2 shuffles per use, ~3 s/job at
    sf0.1 measured almost entirely as stage overhead. This form is a
    single narrow projection: zero shuffle, zero join; callers keep
    ``q`` alongside the bucket, so the Lloyd sum needs no join either.
    Output keeps (vec_id, q, bucket) — project as needed."""
    if not cent:
        # Empty-centroid parity with _ivf_det_rank: a crossJoin against
        # zero centroid rows yields zero assignment rows (empty-input
        # queries reach this through _ivf_det_fit's empty seed set).
        return (q.select("vec_id", "q",
                         F.lit(0).cast("int").alias(out_col))
                .filter(F.lit(False)))
    best, first_b = _det_assign_fold_sql(cent, "q")
    return (q.select("vec_id", "q", F.expr(best).alias("_best"))
            .select("vec_id", "q",
                    F.when(F.col("_best.b") == -1,
                           F.lit(first_b))
                    .otherwise(F.col("_best.b")).cast("int")
                    .alias(out_col)))


def _det_assign_fold_sql(cent: dict[int, list[int]],
                         vec_expr: str) -> tuple[str, int]:
    """SQL text of the argmax-centroid fold over ``vec_expr`` (an
    array<long> SQL expression) — see :func:`_ivf_det_assign` for the
    selection-equivalence argument. Returns (fold_sql, first_bucket);
    the fold yields named_struct('s' double, 'b' int) with b = -1 when
    every centroid is zero-norm (callers coalesce to first_bucket,
    the window tie rule's pick).

    The whole centroid array + fold is ONE SQL string: building it
    from F.lit()/F.struct() Columns costs one py4j round trip per
    literal (measured 10.5 s of pure driver time for 16×64 ints); one
    expr() is a single round trip + parse. repr() round-trips doubles
    exactly and Spark's string→double cast parses them exactly, so
    the norms are the same IEEE doubles _ivf_det_rank computes."""
    import math

    entries = [(b, vals, math.sqrt(sum(v * v for v in vals)))
               for b, vals in sorted(cent.items())]
    structs = ",".join(
        "named_struct('b',{b},'c',array({c}),'nrm',CAST('{n!r}' AS DOUBLE))"
        .format(b=int(b), c=",".join(f"{int(v)}L" for v in vals), n=nrm)
        for b, vals, nrm in entries)
    sim_x = ("CASE WHEN x.nrm = 0.0D THEN CAST('-Infinity' AS DOUBLE) "
             f"ELSE CAST(aggregate(zip_with({vec_expr}, x.c, "
             "(a, bb) -> a * bb), "
             "0L, (a2, v) -> a2 + v) AS DOUBLE) / x.nrm END")
    best = (f"aggregate(array({structs}), "
            "named_struct('s', CAST('-Infinity' AS DOUBLE), 'b', -1), "
            f"(acc, x) -> CASE WHEN ({sim_x}) > acc.s "
            f"THEN named_struct('s', {sim_x}, 'b', x.b) ELSE acc END)")
    return best, int(entries[0][0])


def _ivf_det_rank(q: DataFrame, cent: dict[int, list[int]]) -> DataFrame:
    """Rank every (vector, centroid) pair of the deterministic IVF:
    exact int64 dot against the broadcast integer centroids, divided
    by the (driver-computed, IEEE-exact) centroid norm — |q| is
    constant per vector so dot/|c| orders buckets identically to
    cosine. Returns (vec_id, bucket, _rn)."""
    import math

    spark = q.sparkSession
    rows = [(b, [int(v) for v in vals],
             math.sqrt(sum(v * v for v in vals)))
            for b, vals in sorted(cent.items())]
    cdf = spark.createDataFrame(rows, "bucket int, c array<long>, nrm double")
    dot = F.aggregate(F.zip_with("q", "c", lambda a, b: a * b),
                      F.lit(0).cast("long"), lambda acc, x: acc + x)
    sim = F.when(F.col("nrm") == 0.0, F.lit(float("-inf"))) \
        .otherwise(dot.cast("double") / F.col("nrm"))
    w = Window.partitionBy("vec_id").orderBy(F.col("_sim").desc(), "bucket")
    return (q.crossJoin(F.broadcast(cdf))
            .select("vec_id", "bucket", sim.alias("_sim"))
            .withColumn("_rn", F.row_number().over(w))
            .select("vec_id", "bucket", "_rn"))


def _ivf_det_serve(e: DataFrame, ranked: DataFrame, n_assign: int,
                   n_probe: int) -> DataFrame:
    """The det-IVF serve tail: candidates are the members of each
    vector's ``n_assign`` buckets met through its ``n_probe`` probed
    buckets, scored by exact cosine, top-1 per vector (ties by
    neighbor_id). ``ranked`` is _ivf_det_fit_ranked's frame, possibly
    with rows already removed (the tombstone anti-join)."""
    from ..operators.dedup import _cosine_residual

    assigned = (ranked.filter(F.col("_rn") <= n_assign)
                .select(F.col("vec_id").alias("neighbor_id"), "bucket"))
    probed = (ranked.filter(F.col("_rn") <= n_probe)
              .select("vec_id", "bucket"))
    cand = (probed.join(assigned, "bucket")
            .filter(F.col("vec_id") != F.col("neighbor_id"))
            .select("vec_id", "neighbor_id").distinct())
    scored = _cosine_residual(cand, e, e, -1.0, "vec_id", "neighbor_id",
                              "vec_id", "embedding")
    w2 = Window.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(),
                                              "neighbor_id")
    return (scored.withColumn("_rn", F.row_number().over(w2))
            .filter(F.col("_rn") == 1)
            .select("vec_id", "neighbor_id",
                    F.col("cos_sim").alias("approx_cos"))
            .orderBy("vec_id"))


@register("vec_ann_ivf_det", oracle=_ivf_det_oracle_sql(),
          tags=("vector", "knn", "approx", "ivf"))
def vec_ann_ivf_det(spark: SparkSession, sf_dir: str, k: int = 16,
                    iters: int = 4, n_assign: int = 3,
                    n_probe: int = 6) -> DataFrame:
    """IVF approximate NN with the k-means coarse quantizer itself
    ORACLE-BACKED — the round-9 verdict's graduation target, built
    from the two proven templates: deterministic md5 seeding
    (vec_ann_lsh's plane trick, here picking the ``k`` seed vectors by
    md5-of-id rank) + a fixed-iteration driver-updated loop on an
    exact integer grid (ml_logreg's shape, here Lloyd steps whose
    centroids are INTEGER vectors on the same floor(x·2²⁰) grid as the
    quantized corpus). Every cross-engine operation is either exact
    int64 arithmetic (dots, component sums) or a single IEEE
    double op on exactly-representable ints (sqrt for norms, one
    division for the mean and for dot/|c|) — both engines therefore
    walk the identical sequence of assignments and centroids, and
    DuckDB replays all ``iters`` Lloyd rounds as unrolled CTEs
    (_ivf_det_oracle_sql) through to the exact-cosine top-1.

    Scale shape (same as vec_ann_ivf): per iteration one broadcast
    k-row crossJoin + top-1 window (n×k int dots, no corpus shuffle)
    and one posexplode groupBy for the k×64 component sums — the ONLY
    driver collects are k×64 integers per round, the documented-
    bounded ml_logreg posture (k-means training at 100 TB samples
    anyway — operators/ivf.py trains on a bounded sample for the
    same reason). Search is probe-bounded: candidates =
    probed-bucket members only, exact cosine on candidates, never n².
    Recall at these dials is pinned >= 0.9 in tests alongside
    vec_ann_ivf's."""
    e = load_table(spark, sf_dir, "embeddings")
    if e.isEmpty():
        return spark.createDataFrame(
            [], "vec_id long, neighbor_id long, approx_cos double")
    q, cent, ranked = _ivf_det_fit_ranked(e, k, iters,
                                          max_rn=max(n_assign, n_probe))
    return _ivf_det_serve(e, ranked, n_assign, n_probe)


@register("vec_ann_ivf_deletes",
          oracle=_ivf_det_oracle_sql(live_pred="vec_id % 7 <> 3"),
          tags=("vector", "knn", "approx", "ivf", "deletes"))
def vec_ann_ivf_deletes(spark: SparkSession, sf_dir: str, k: int = 16,
                        iters: int = 4, n_assign: int = 3,
                        n_probe: int = 6) -> DataFrame:
    """IVF serving over a corpus with a DELETE SET — the IVF-family
    face of the tombstone story (vec_hamming_serve_deletes proves it
    on the binary index; multimodal_image_dedup_deletes on the image
    codes): the coarse quantizer and the bucket assignments were
    trained and built BEFORE the deletes (centroids are never refit,
    the index is never rewritten), and the tombstone set — data in a
    small frame, not a predicate baked into the pipeline — is
    broadcast-anti-joined against BOTH serve sides before the top-1
    window: deleted vectors neither return as neighbors nor ask. The
    anti-join sits before the ranking, so a query whose nearest
    neighbor was deleted PROMOTES its runner-up instead of vanishing
    (post-filtering the results would get this wrong — pinned in
    tests). Tombstone rule vec_id % 7 == 3 (static, so DuckDB replays
    it as WHERE clauses on the same pre-delete CTE chain)."""
    e = load_table(spark, sf_dir, "embeddings")
    if e.isEmpty():
        return spark.createDataFrame(
            [], "vec_id long, neighbor_id long, approx_cos double")
    q, cent, ranked = _ivf_det_fit_ranked(
        e, k, iters, max_rn=max(n_assign, n_probe))  # pre-delete fit
    tomb = (e.filter(F.col("vec_id") % 7 == 3).select("vec_id"))
    live = ranked.join(F.broadcast(tomb), "vec_id", "left_anti")
    return _ivf_det_serve(e, live, n_assign, n_probe)


def _pq_det_oracle_sql(m: int = 8, sub_dim: int = 8, k: int = 64,
                       iters: int = 3, shortlist: int = 64) -> str:
    """Unrolled-CTE oracle for the deterministic flat PQ: the det-IVF
    chain generalized with a ``sub`` (subspace) grouping key — one
    integer-grid Lloyd fit PER SUBSPACE in the same CTEs — followed by
    the ADC scan: integer LUT dots, per-vector reconstruction norms,
    the exhaustive compressed-domain top-``shortlist`` window, and the
    exact-cosine RERANK of the shortlist (the standard
    shortlist-then-rerank recipe — quantization only affects which
    candidates reach the rerank). Everything before the rerank is
    EXACT int64 arithmetic (plus the norm sqrt/division on
    exactly-representable ints)."""
    dim = m * sub_dim
    its = []
    for i in range(1, iters + 1):
        p = i - 1
        its.append(f"""
sim{i} AS MATERIALIZED (
  SELECT c.vec_id, t.sub, t.bucket, SUM(c.val * t.val) AS dot
  FROM comp c JOIN cent{p} t ON c.j = t.j AND c.sub = t.sub
  GROUP BY 1, 2, 3),
nrm{i} AS (SELECT sub, bucket, sqrt(CAST(SUM(val * val) AS DOUBLE)) AS nrm
           FROM cent{p} GROUP BY 1, 2),
asg{i} AS MATERIALIZED (
  SELECT vec_id, sub, bucket FROM (
    SELECT s.vec_id, s.sub, s.bucket,
           row_number() OVER (PARTITION BY s.vec_id, s.sub
             ORDER BY CASE WHEN n.nrm = 0
                           THEN CAST('-infinity' AS DOUBLE)
                           ELSE CAST(s.dot AS DOUBLE) / n.nrm
                      END DESC, s.bucket) AS rn
    FROM sim{i} s JOIN nrm{i} n ON s.sub = n.sub AND s.bucket = n.bucket)
  WHERE rn = 1),
new{i} AS (
  SELECT a.sub, a.bucket, c.j,
         CAST(floor(CAST(SUM(c.val) AS DOUBLE) / COUNT(*)) AS BIGINT) AS val
  FROM asg{i} a JOIN comp c ON a.vec_id = c.vec_id AND a.sub = c.sub
  GROUP BY 1, 2, 3),
cent{i} AS MATERIALIZED (
  SELECT p.sub, p.bucket, p.j, COALESCE(n.val, p.val) AS val
  FROM cent{p} p LEFT JOIN new{i} n
    ON n.sub = p.sub AND n.bucket = p.bucket AND n.j = p.j)""")
    return f"""
WITH qv AS (SELECT vec_id,
              list_transform(CAST(embedding AS DOUBLE[]),
                             x -> CAST(floor(x * 1048576.0) AS BIGINT)) AS q
       FROM embeddings),
comp AS MATERIALIZED (
  SELECT vec_id, j, q[j + 1] AS val, CAST(j // {sub_dim} AS INT) AS sub
  FROM qv, unnest(range(0, {dim})) t(j)),
seedids AS (SELECT vec_id,
                   row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                      vec_id) - 1 AS bucket
            FROM embeddings),
cent0 AS MATERIALIZED (
  SELECT c.sub, s.bucket, c.j, c.val
  FROM seedids s JOIN comp c ON c.vec_id = s.vec_id
  WHERE s.bucket < {k}),{",".join(its)},
fsim AS MATERIALIZED (
  SELECT c.vec_id, t.sub, t.bucket, SUM(c.val * t.val) AS dot
  FROM comp c JOIN cent{iters} t ON c.j = t.j AND c.sub = t.sub
  GROUP BY 1, 2, 3),
fnrm AS (SELECT sub, bucket, sqrt(CAST(SUM(val * val) AS DOUBLE)) AS nrm
         FROM cent{iters} GROUP BY 1, 2),
codes AS MATERIALIZED (
  SELECT vec_id, sub, bucket FROM (
    SELECT s.vec_id, s.sub, s.bucket,
           row_number() OVER (PARTITION BY s.vec_id, s.sub
             ORDER BY CASE WHEN n.nrm = 0
                           THEN CAST('-infinity' AS DOUBLE)
                           ELSE CAST(s.dot AS DOUBLE) / n.nrm
                      END DESC, s.bucket) AS rn
    FROM fsim s JOIN fnrm n ON s.sub = n.sub AND s.bucket = n.bucket)
  WHERE rn = 1),
cn2 AS (SELECT sub, bucket, SUM(val * val) AS n2
        FROM cent{iters} GROUP BY 1, 2),
xnorm AS (SELECT cd.vec_id, SUM(n2.n2) AS nrm2
          FROM codes cd JOIN cn2 n2
            ON cd.sub = n2.sub AND cd.bucket = n2.bucket
          GROUP BY 1),
score AS MATERIALIZED (
  SELECT l.vec_id AS q_id, cd.vec_id AS x_id, SUM(l.dot) AS dot
  FROM codes cd JOIN fsim l
    ON l.sub = cd.sub AND l.bucket = cd.bucket
  WHERE l.vec_id <> cd.vec_id
  GROUP BY 1, 2),
short AS MATERIALIZED (
  SELECT q_id, x_id FROM (
    SELECT s.q_id, s.x_id,
           row_number() OVER (PARTITION BY s.q_id
             ORDER BY CASE WHEN x.nrm2 = 0
                           THEN CAST('-infinity' AS DOUBLE)
                           ELSE CAST(s.dot AS DOUBLE)
                                / sqrt(CAST(x.nrm2 AS DOUBLE))
                      END DESC, s.x_id) AS rn
    FROM score s JOIN xnorm x ON x.vec_id = s.x_id)
  WHERE rn <= {shortlist}),
rer AS (
  SELECT t.q_id AS vec_id, t.x_id AS neighbor_id,
         ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                      CAST(eb.embedding AS DOUBLE[])), 6)
           AS approx_cos
  FROM short t
  JOIN embeddings ea ON ea.vec_id = t.q_id
  JOIN embeddings eb ON eb.vec_id = t.x_id)
SELECT vec_id, neighbor_id, approx_cos
FROM (SELECT *, row_number() OVER (
          PARTITION BY vec_id
          ORDER BY approx_cos DESC, neighbor_id) AS rn
      FROM rer)
WHERE rn = 1
ORDER BY vec_id
"""


@register("vec_ann_pq_det", oracle=_pq_det_oracle_sql(),
          tags=("vector", "knn", "approx", "pq"))
def vec_ann_pq_det(spark: SparkSession, sf_dir: str, m: int = 8,
                   sub_dim: int = 8, k: int = 64, iters: int = 3,
                   shortlist: int = 64) -> DataFrame:
    """Flat product quantization with the WHOLE index oracle-backed —
    the det-k-means template per subspace: dim-64 vectors split into
    m=8 sub_dim-8 subspaces (the float twin vec_ann_pq's dials), each
    fitted by the integer-grid md5-seeded Lloyd k-means
    (_ivf_det_fit, k=64 codewords), codes =
    per-subspace nearest codeword, and the ADC search is PURE INTEGER
    arithmetic end to end — per-query LUT dots against the codebooks,
    score(q, x) = Σ_sub lut[q, sub, code(x, sub)], ranked by
    score/|x̂| (reconstruction-norm-corrected, sqrt/division on exact
    ints) into a top-``shortlist`` window, then the shortlist alone is
    rescored by EXACT cosine (the standard shortlist-then-rerank
    recipe — quantization only affects which candidates reach the
    rerank, measured as recall). DuckDB replays subspace training,
    code assignment, LUTs, the exhaustive compressed-domain scan, AND
    the rerank — hash-matched.

    Flat PQ is BY DESIGN an exhaustive compressed-domain scan (every
    query meets every code — 16 bytes/vector instead of 256): the
    honest fixture-scale face of the family whose probe-bounded scale
    path is vec_ann_ivfpq. The float/production faces (vec_ann_pq,
    spark.ml k-means, byte-packed codes) stay registered; this twin
    completes the det story across the quantized family (LSH, IVF,
    semantic dedup, PQ). Recall pinned >= 0.9 in tests at these
    dials."""
    from functools import reduce

    from ..operators.dedup import _cosine_residual

    e = load_table(spark, sf_dir, "embeddings")
    if e.isEmpty():
        return spark.createDataFrame(
            [], "vec_id long, neighbor_id long, approx_cos double")
    # r13 (guide §1.2): quantize the FULL-dim corpus once — each
    # subspace's integer grid is exactly the slice of the full grid
    # (floor(x·2²⁰) is elementwise, so slice∘floor == floor∘slice) —
    # and run the m codebook fits in the driver numpy kernel from ONE
    # Arrow collect. The old shape paid m separate quantize-checkpoint
    # + seed + iters×collect chains (~48 driver-synchronized jobs,
    # thread-pooled but still the query's wall). Over budget: the
    # distributed fits over slices of the shared quantized frame,
    # overlapped by a small thread pool (guide §2.6).
    dim = m * sub_dim
    q = _ivf_det_quantize(e)
    got = _det_collect_q(q, dim)
    if got is not None:
        ids, mat = got
        cents = [_np_lloyd(ids, mat[:, s * sub_dim:(s + 1) * sub_dim],
                           k, iters) for s in range(m)]
        # Driver ADC (r13): flat PQ's compressed-domain scan is an
        # exhaustive (q, x) pass BY DESIGN — the relational form
        # shuffled |n|²·m LUT-contribution rows through a (sub, code)
        # join + two aggregation exchanges, the query's wall. The same
        # exact-int64 codes/LUTs/score arithmetic over the collected
        # matrix is gated by the n×n score-matrix budget; the
        # exact-cosine rerank stays in Spark. Over budget (or over the
        # fit budget) → the relational scan below, unchanged.
        if budget.fits_driver(len(ids) * len(ids) * 8):
            short = spark.createDataFrame(
                _np_pq_shortlist(ids, mat, cents, shortlist, m, sub_dim),
                "vec_id long, neighbor_id long")
            return _det_exact_rerank(short, e)
    else:
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=4) as pool:
            cents = list(pool.map(
                lambda s: _ivf_det_fit_q_dist(
                    q.select("vec_id",
                             F.slice("q", s * sub_dim + 1, sub_dim)
                             .alias("q")),
                    k=k, iters=iters, dim=sub_dim),
                range(m)))

    def _sub_relations(s: int):
        cent = cents[s]
        q_s = q.select("vec_id",
                       F.slice("q", s * sub_dim + 1, sub_dim).alias("q"))
        code_s = (_ivf_det_assign(q_s, cent)
                  .select("vec_id", F.lit(s).alias("sub"), "bucket"))
        rows = [(b, [int(v) for v in vals])
                for b, vals in sorted(cent.items())]
        cdf = spark.createDataFrame(rows, "bucket int, c array<long>")
        dot = F.aggregate(F.zip_with("q", "c", lambda a, b: a * b),
                          F.lit(0).cast("long"), lambda acc, x: acc + x)
        lut_s = (q_s.crossJoin(F.broadcast(cdf))
                 .select("vec_id", F.lit(s).alias("sub"), "bucket",
                         dot.alias("d")))
        n2 = F.aggregate(F.transform("c", lambda x: x * x),
                         F.lit(0).cast("long"), lambda acc, x: acc + x)
        cn2_s = cdf.select(F.lit(s).alias("sub"), "bucket",
                           n2.alias("n2"))
        return code_s, lut_s, cn2_s

    parts = [_sub_relations(s) for s in range(m)]
    codes = [p[0] for p in parts]
    luts = [p[1] for p in parts]
    cn2s = [p[2] for p in parts]
    codes_df = reduce(lambda a, b: a.unionByName(b), codes)
    lut_df = reduce(lambda a, b: a.unionByName(b), luts)
    cn2_df = reduce(lambda a, b: a.unionByName(b), cn2s)
    xnorm = (codes_df.join(cn2_df, ["sub", "bucket"])
             .groupBy("vec_id").agg(F.sum("n2").alias("nrm2")))
    score = (codes_df.withColumnRenamed("vec_id", "x_id")
             .join(lut_df.withColumnRenamed("vec_id", "q_id"),
                   ["sub", "bucket"])
             .filter(F.col("q_id") != F.col("x_id"))
             .groupBy("q_id", "x_id").agg(F.sum("d").alias("dot")))
    val = (F.when(F.col("nrm2") == 0, F.lit(float("-inf")))
           .otherwise(F.col("dot").cast("double")
                      / F.sqrt(F.col("nrm2").cast("double"))))
    w = Window.partitionBy("q_id").orderBy(val.desc(), "x_id")
    short = (score.join(xnorm, score.x_id == xnorm.vec_id)
             .withColumn("_rn", F.row_number().over(w))
             .filter(F.col("_rn") <= shortlist)
             .select(F.col("q_id").alias("vec_id"),
                     F.col("x_id").alias("neighbor_id")))
    scored = _cosine_residual(short, e, e, -1.0, "vec_id", "neighbor_id",
                              "vec_id", "embedding")
    w2 = Window.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(),
                                              "neighbor_id")
    return (scored.withColumn("_rn", F.row_number().over(w2))
            .filter(F.col("_rn") == 1)
            .select("vec_id", "neighbor_id",
                    F.col("cos_sim").alias("approx_cos"))
            .orderBy("vec_id"))




def _ivfpq_det_oracle_sql(n_cells: int = 16, c_iters: int = 4,
                          m: int = 8, sub_dim: int = 8, ksub: int = 64,
                          r_iters: int = 3, n_assign: int = 3,
                          n_probe: int = 8, shortlist: int = 64) -> str:
    """Unrolled-CTE oracle for the deterministic IVF-PQ — the full
    faiss-style combined index replayed: coarse det-k-means chain
    (c-prefixed CTEs), integer RESIDUALS per (vector, assigned cell),
    per-subspace residual codebook chains (r-prefixed, grouped by
    sub), probe-bounded residual-ADC scoring
    (dot(q, cell) + Σ_sub lut[q, sub, code]), reconstruction-norm
    ranking, shortlist, exact-cosine rerank. Every step before the
    rerank is exact int64 arithmetic or one IEEE double op on
    exactly-representable ints."""
    dim = m * sub_dim
    c_its = []
    for i in range(1, c_iters + 1):
        p = i - 1
        c_its.append(f"""
csim{i} AS MATERIALIZED (
  SELECT c.vec_id, t.bucket, SUM(c.val * t.val) AS dot
  FROM comp c JOIN ccent{p} t ON c.j = t.j
  GROUP BY 1, 2),
cnrm{i} AS (SELECT bucket, sqrt(CAST(SUM(val * val) AS DOUBLE)) AS nrm
            FROM ccent{p} GROUP BY 1),
casg{i} AS MATERIALIZED (
  SELECT vec_id, bucket FROM (
    SELECT s.vec_id, s.bucket,
           row_number() OVER (PARTITION BY s.vec_id
             ORDER BY CASE WHEN n.nrm = 0
                           THEN CAST(\'-infinity\' AS DOUBLE)
                           ELSE CAST(s.dot AS DOUBLE) / n.nrm
                      END DESC, s.bucket) AS rn
    FROM csim{i} s JOIN cnrm{i} n ON s.bucket = n.bucket)
  WHERE rn = 1),
cnew{i} AS (
  SELECT a.bucket, c.j,
         CAST(floor(CAST(SUM(c.val) AS DOUBLE) / COUNT(*)) AS BIGINT) AS val
  FROM casg{i} a JOIN comp c ON a.vec_id = c.vec_id
  GROUP BY 1, 2),
ccent{i} AS MATERIALIZED (
  SELECT p.bucket, p.j, COALESCE(n.val, p.val) AS val
  FROM ccent{p} p LEFT JOIN cnew{i} n
    ON n.bucket = p.bucket AND n.j = p.j)""")
    r_its = []
    for i in range(1, r_iters + 1):
        p = i - 1
        r_its.append(f"""
rsim{i} AS MATERIALIZED (
  SELECT r.vec_id, t.sub, t.bucket, SUM(r.val * t.val) AS dot
  FROM rres1 r JOIN rcent{p} t ON r.j = t.j AND r.sub = t.sub
  GROUP BY 1, 2, 3),
rnrm{i} AS (SELECT sub, bucket, sqrt(CAST(SUM(val * val) AS DOUBLE)) AS nrm
            FROM rcent{p} GROUP BY 1, 2),
rasg{i} AS MATERIALIZED (
  SELECT vec_id, sub, bucket FROM (
    SELECT s.vec_id, s.sub, s.bucket,
           row_number() OVER (PARTITION BY s.vec_id, s.sub
             ORDER BY CASE WHEN n.nrm = 0
                           THEN CAST(\'-infinity\' AS DOUBLE)
                           ELSE CAST(s.dot AS DOUBLE) / n.nrm
                      END DESC, s.bucket) AS rn
    FROM rsim{i} s JOIN rnrm{i} n
      ON s.sub = n.sub AND s.bucket = n.bucket)
  WHERE rn = 1),
rnew{i} AS (
  SELECT a.sub, a.bucket, r.j,
         CAST(floor(CAST(SUM(r.val) AS DOUBLE) / COUNT(*)) AS BIGINT) AS val
  FROM rasg{i} a JOIN rres1 r ON a.vec_id = r.vec_id AND a.sub = r.sub
  GROUP BY 1, 2, 3),
rcent{i} AS MATERIALIZED (
  SELECT p.sub, p.bucket, p.j, COALESCE(n.val, p.val) AS val
  FROM rcent{p} p LEFT JOIN rnew{i} n
    ON n.sub = p.sub AND n.bucket = p.bucket AND n.j = p.j)""")
    return f"""
WITH qv AS (SELECT vec_id,
              list_transform(CAST(embedding AS DOUBLE[]),
                             x -> CAST(floor(x * 1048576.0) AS BIGINT)) AS q
       FROM embeddings),
comp AS MATERIALIZED (
  SELECT vec_id, j, q[j + 1] AS val, CAST(j // {sub_dim} AS INT) AS sub
  FROM qv, unnest(range(0, {dim})) t(j)),
seedids AS (SELECT vec_id,
                   row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                      vec_id) - 1 AS bucket
            FROM embeddings),
ccent0 AS MATERIALIZED (
  SELECT s.bucket, c.j, c.val
  FROM seedids s JOIN comp c ON c.vec_id = s.vec_id
  WHERE s.bucket < {n_cells}),{",".join(c_its)},
cfsim AS MATERIALIZED (
  SELECT c.vec_id, t.bucket, SUM(c.val * t.val) AS dot
  FROM comp c JOIN ccent{c_iters} t ON c.j = t.j
  GROUP BY 1, 2),
cfnrm AS (SELECT bucket, sqrt(CAST(SUM(val * val) AS DOUBLE)) AS nrm
          FROM ccent{c_iters} GROUP BY 1),
crk AS MATERIALIZED (
  SELECT s.vec_id, s.bucket AS cell,
         row_number() OVER (PARTITION BY s.vec_id
           ORDER BY CASE WHEN n.nrm = 0
                         THEN CAST(\'-infinity\' AS DOUBLE)
                         ELSE CAST(s.dot AS DOUBLE) / n.nrm
                    END DESC, s.bucket) AS rn
  FROM cfsim s JOIN cfnrm n ON s.bucket = n.bucket),
xasg AS (SELECT vec_id, cell FROM crk WHERE rn <= {n_assign}),
probes AS (SELECT vec_id AS q_id, cell FROM crk WHERE rn <= {n_probe}),
rres AS MATERIALIZED (
  SELECT a.vec_id, a.cell, c.j, c.sub, c.val - t.val AS val
  FROM xasg a
  JOIN comp c ON c.vec_id = a.vec_id
  JOIN ccent{c_iters} t ON t.bucket = a.cell AND t.j = c.j),
rres1 AS MATERIALIZED (
  SELECT r.vec_id, r.j, r.sub, r.val
  FROM rres r JOIN crk k
    ON k.vec_id = r.vec_id AND k.cell = r.cell AND k.rn = 1),
rcent0 AS MATERIALIZED (
  SELECT r.sub, s.bucket, r.j, r.val
  FROM seedids s JOIN rres1 r ON r.vec_id = s.vec_id
  WHERE s.bucket < {ksub}),{",".join(r_its)},
esim AS MATERIALIZED (
  SELECT r.vec_id, r.cell, t.sub, t.bucket, SUM(r.val * t.val) AS dot
  FROM rres r JOIN rcent{r_iters} t ON r.j = t.j AND r.sub = t.sub
  GROUP BY 1, 2, 3, 4),
efnrm AS (SELECT sub, bucket, sqrt(CAST(SUM(val * val) AS DOUBLE)) AS nrm
          FROM rcent{r_iters} GROUP BY 1, 2),
codes AS MATERIALIZED (
  SELECT vec_id AS x_id, cell, sub, bucket AS code FROM (
    SELECT s.vec_id, s.cell, s.sub, s.bucket,
           row_number() OVER (PARTITION BY s.vec_id, s.cell, s.sub
             ORDER BY CASE WHEN n.nrm = 0
                           THEN CAST(\'-infinity\' AS DOUBLE)
                           ELSE CAST(s.dot AS DOUBLE) / n.nrm
                      END DESC, s.bucket) AS rn
    FROM esim s JOIN efnrm n ON s.sub = n.sub AND s.bucket = n.bucket)
  WHERE rn = 1),
lutq AS MATERIALIZED (
  SELECT c.vec_id AS q_id, t.sub, t.bucket AS code,
         SUM(c.val * t.val) AS d
  FROM comp c JOIN rcent{r_iters} t ON c.j = t.j AND c.sub = t.sub
  GROUP BY 1, 2, 3),
dqc AS (SELECT vec_id AS q_id, bucket AS cell, dot FROM cfsim),
rc AS MATERIALIZED (
  SELECT cd.x_id, cd.cell, cc.val + w.val AS fv
  FROM codes cd
  JOIN rcent{r_iters} w ON w.sub = cd.sub AND w.bucket = cd.code
  JOIN ccent{c_iters} cc ON cc.bucket = cd.cell AND cc.j = w.j),
xnorm AS (SELECT x_id, cell, SUM(fv * fv) AS nrm2
          FROM rc GROUP BY 1, 2),
s0 AS MATERIALIZED (
  SELECT p.q_id, cd.x_id, cd.cell, SUM(l.d) AS rd
  FROM probes p
  JOIN codes cd ON cd.cell = p.cell AND cd.x_id <> p.q_id
  JOIN lutq l ON l.q_id = p.q_id AND l.sub = cd.sub AND l.code = cd.code
  GROUP BY 1, 2, 3),
vals AS (
  SELECT s.q_id, s.x_id,
         CASE WHEN x.nrm2 = 0 THEN CAST(\'-infinity\' AS DOUBLE)
              ELSE CAST(s.rd + d.dot AS DOUBLE)
                   / sqrt(CAST(x.nrm2 AS DOUBLE))
         END AS v
  FROM s0 s
  JOIN dqc d ON d.q_id = s.q_id AND d.cell = s.cell
  JOIN xnorm x ON x.x_id = s.x_id AND x.cell = s.cell),
bst AS (SELECT q_id, x_id, MAX(v) AS v FROM vals GROUP BY 1, 2),
short AS (
  SELECT q_id, x_id FROM (
    SELECT q_id, x_id,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY v DESC, x_id) AS rn
    FROM bst)
  WHERE rn <= {shortlist}),
rer AS (
  SELECT t.q_id AS vec_id, t.x_id AS neighbor_id,
         ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                      CAST(eb.embedding AS DOUBLE[])), 6)
           AS approx_cos
  FROM short t
  JOIN embeddings ea ON ea.vec_id = t.q_id
  JOIN embeddings eb ON eb.vec_id = t.x_id)
SELECT vec_id, neighbor_id, approx_cos
FROM (SELECT *, row_number() OVER (
          PARTITION BY vec_id
          ORDER BY approx_cos DESC, neighbor_id) AS rn
      FROM rer)
WHERE rn = 1
ORDER BY vec_id
"""


@register("vec_ann_ivfpq_det", oracle=_ivfpq_det_oracle_sql(),
          tags=("vector", "knn", "approx", "pq", "ivf"))
def vec_ann_ivfpq_det(spark: SparkSession, sf_dir: str,
                      n_cells: int = 16, c_iters: int = 4, m: int = 8,
                      sub_dim: int = 8, ksub: int = 64,
                      r_iters: int = 3, n_assign: int = 3,
                      n_probe: int = 8,
                      shortlist: int = 64) -> DataFrame:
    """IVF-PQ with the ENTIRE combined index oracle-backed — the
    capstone of the deterministic ANN family (LSH, IVF, PQ, and now
    the faiss-style index every 100 TB vector deployment actually
    runs, all four routes cross-engine replayed). Same dials as the
    float twin vec_ann_ivfpq (16 cells / m=8 / ksub=64 / assign 3 /
    probe 8 / shortlist 64):

    - coarse quantizer: the shared integer-grid det k-means
      (_ivf_det_fit), multi-assignment to 3 cells;
    - RESIDUALS are integer differences (quantized vector minus
      integer cell centroid) — they never pass through the float
      grid, so the per-subspace residual codebooks (_ivf_det_fit_q,
      64 codewords each) stay exact;
    - search is probe-bounded residual-ADC: score(q, x via cell) =
      dot(q, cell) + Σ_sub lut[q, sub, code(x, cell, sub)] — pure
      int64 — ranked by score/|x̂| with the reconstruction norm
      Σ_j (cell_j + codeword_j)² also exact-integer; best
      representation per pair (a pair can meet through several
      assigned cells), top-``shortlist`` window, exact-cosine rerank.

    DuckDB replays coarse training, residuals, all 8 subspace
    codebook fits, encoding, LUTs, the probe-bounded scan, and the
    rerank — hash-matched. Recall pinned >= 0.9 in tests. Scale
    shape matches the production twin: each query meets only its
    probed cells' codes; nothing corpus-sized is broadcast (the
    codebooks are k·dim ints)."""
    from functools import reduce

    from ..operators.dedup import _cosine_residual

    e = load_table(spark, sf_dir, "embeddings")
    if e.isEmpty():
        return spark.createDataFrame(
            [], "vec_id long, neighbor_id long, approx_cos double")
    # r13 (guide §1.2): the whole training side — coarse fit, cell
    # ranking, top-1 residuals, all m residual codebook fits — runs in
    # the driver numpy kernel from ONE Arrow collect when the corpus
    # fits the driver budget. The old shape paid the coarse fit's 6
    # jobs + 2 checkpoint jobs + m×(r_iters+1) residual-fit collects
    # (~40 driver-synchronized jobs — the query's wall at sf0.1, where
    # every job is fixed scheduling overhead). Residuals are exact
    # int64 differences in both routes; route parity is pinned in
    # tests. Over budget: the distributed chain below, unchanged.
    dim = m * sub_dim
    q = _ivf_det_quantize(e)
    got = _det_collect_q(q, dim)
    if got is not None:
        import numpy as np

        ids, mat = got
        coarse = _np_lloyd(ids, mat, n_cells, c_iters)
        cbuckets, csims = _np_cent_sims(mat, coarse)
        cmat = np.array([coarse[b] for b in cbuckets], dtype=np.int64)
        r1mat = mat - cmat[csims.argmax(axis=1)]   # top-1 cell residuals
        rcents = [_np_lloyd(ids, r1mat[:, s * sub_dim:(s + 1) * sub_dim],
                            ksub, r_iters) for s in range(m)]
        # Second r13 gate: the compressed-domain probe scan itself.
        # The relational serve's codes_wide folds and LUT projections
        # run INTERPRETED (measured: ~7 s codes_wide materialization +
        # most of a 13.8 s final action at sf0.1 — the walls left
        # after the fits went numpy); the same exact-int64 arithmetic
        # over the already-collected matrix is milliseconds. Spark
        # keeps the exact-cosine rerank. Over budget → the r12
        # relational scan below, unchanged.
        if budget.fits_driver(len(ids) * len(ids) * 8):
            short = spark.createDataFrame(
                _np_ivfpq_shortlist(ids, mat, coarse, rcents, n_assign,
                                    n_probe, shortlist, m, sub_dim),
                "vec_id long, neighbor_id long")
            return _det_exact_rerank(short, e)
        crk = spark.createDataFrame(
            _np_det_rank_pdf(ids, mat, coarse,
                             max_rn=max(n_assign, n_probe)),
            "vec_id long, bucket int, _rn int")
        ccdf = spark.createDataFrame(
            [(b, [int(v) for v in vals])
             for b, vals in sorted(coarse.items())],
            "cell int, carr array<long>")
        xasg = (crk.filter(F.col("_rn") <= n_assign)
                .select("vec_id", F.col("bucket").alias("cell")))
        # rq_all feeds codes_wide ONCE on this route (r1 is numpy-side)
        # — no checkpoint needed.
        rq_all = (xasg.join(q, "vec_id").join(F.broadcast(ccdf), "cell")
                  .select("vec_id", "cell",
                          F.zip_with("q", "carr", lambda a, b: a - b)
                          .alias("rq")))
    else:
        coarse = _ivf_det_fit_q_dist(q, n_cells, c_iters, dim)
        crk = _ivf_det_rank(q, coarse)
        ccdf = spark.createDataFrame(
            [(b, [int(v) for v in vals])
             for b, vals in sorted(coarse.items())],
            "cell int, carr array<long>")
        xasg = (crk.filter(F.col("_rn") <= n_assign)
                .select("vec_id", F.col("bucket").alias("cell")))
        rq_all = (xasg.join(q, "vec_id").join(F.broadcast(ccdf), "cell")
                  .select("vec_id", "cell",
                          F.zip_with("q", "carr", lambda a, b: a - b)
                          .alias("rq"))
                  .localCheckpoint(eager=True))
        # Checkpoint: the m subspace fits each run iters x 2 jobs over
        # this frame — without truncation every one would re-derive
        # the coarse rank window from scratch.
        r1 = (crk.filter(F.col("_rn") == 1)
              .select("vec_id", F.col("bucket").alias("cell"))
              .join(rq_all, ["vec_id", "cell"])
              .select("vec_id", F.col("rq").alias("q"))
              .localCheckpoint(eager=True))
        # Guide §2.6: the m residual-subspace fits are independent
        # chains of small driver-synchronized jobs over the
        # checkpointed r1 — overlap them with a thread pool (same
        # rationale and identical-output argument as vec_ann_pq_det's
        # subspace fits).
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=4) as pool:
            rcents = list(pool.map(
                lambda s: _ivf_det_fit_q_dist(
                    r1.select("vec_id",
                              F.slice("q", s * sub_dim + 1, sub_dim)
                              .alias("q")),
                    k=ksub, iters=r_iters, dim=sub_dim),
                range(m)))
    probes = (crk.filter(F.col("_rn") <= n_probe)
              .select(F.col("vec_id").alias("q_id"),
                      F.col("bucket").alias("cell")))
    # r12 optimization (guide §2.3/§2.4 — shuffle fewer bytes, remove
    # shuffles): the per-subspace code/LUT/norm relations used to meet
    # in long-format joins — codes_df (8 rows per (x, cell)) × lut_df
    # (q × m × ksub rows) keyed on (q_id, sub, code) exploded the
    # probe join to |pairs| × m rows through TWO aggregation
    # exchanges (s0, xnorm) plus a per-subspace union + crossJoins.
    # All of it is now computed WIDE, one row per entity:
    #   codes_wide: (x_id, cell, codes[m], nrm2) in ONE narrow pass
    #     over rq_all — the m argmax folds (_det_assign_fold_sql,
    #     selection-identical to _ivf_det_rank rn=1) plus the exact
    #     reconstruction norm from literal codebook arrays;
    #   lutw: (q_id, luts[m][ksub]) — one narrow projection, replacing
    #     the m LUT crossJoins;
    #   the probe join then carries ONE row per (q, x, cell) and the
    #   ADC sum is an m-lookup fold — int64 addition is exact and
    #   order-free, so every v is bit-identical to the long-format
    #   plan's (oracle-checked). Measured 30.6 s -> ~8 s for the
    #   search action at sf0.1; at scale the shuffle shrinks 8×.
    def _arr2(vec_lists):
        return "array(" + ",".join(
            "array(" + ",".join(f"{int(v)}L" for v in vals) + ")"
            for vals in vec_lists) + ")"

    W = [_arr2([rcents[s][b] for b in sorted(rcents[s])])
         for s in range(m)]
    CC = _arr2([coarse[b] for b in sorted(coarse)])
    folds = [_det_assign_fold_sql(
        rcents[s], f"slice(rq, {s * sub_dim + 1}, {sub_dim})")
        for s in range(m)]
    wide0 = rq_all.select(
        F.col("vec_id").alias("x_id"), "cell",
        *[F.expr(folds[s][0]).alias(f"_b{s}") for s in range(m)])
    codes_col = F.array(*[
        F.when(F.col(f"_b{s}.b") == -1, F.lit(folds[s][1]))
        .otherwise(F.col(f"_b{s}.b")).cast("int") for s in range(m)])
    wfull = "concat(" + ",".join(
        f"element_at({W[s]}, codes[{s}] + 1)" for s in range(m)) + ")"
    nrm2_sql = (f"aggregate(zip_with(element_at({CC}, cell + 1), "
                f"{wfull}, (a, b) -> (a + b) * (a + b)), 0L, "
                "(acc, v) -> acc + v)")
    codes_wide = (wide0.select("x_id", "cell", codes_col.alias("codes"))
                  .select("x_id", "cell", "codes",
                          F.expr(nrm2_sql).alias("nrm2"))
                  .localCheckpoint(eager=True))
    luts_sql = "array(" + ",".join(
        f"transform({W[s]}, c -> aggregate(zip_with("
        f"slice(q, {s * sub_dim + 1}, {sub_dim}), c, "
        "(a, bb) -> a * bb), 0L, (a2, v) -> a2 + v))"
        for s in range(m)) + ")"
    lutw = q.select(F.col("vec_id").alias("q_id"),
                    F.expr(luts_sql).alias("luts"))
    cdot = F.aggregate(F.zip_with("q", "carr", lambda a, b: a * b),
                       F.lit(0).cast("long"), lambda acc, x: acc + x)
    dqc = (q.crossJoin(F.broadcast(ccdf))
           .select(F.col("vec_id").alias("q_id"), "cell",
                   cdot.alias("cdot")))
    # Flat left-associated sum, NOT an aggregate/zip_with fold: HOFs
    # run interpreted and allocate a per-row array — at |pairs| rows
    # that interpretation was the stage's wall (measured ~15 s of the
    # 23 s post-join stage at sf0.1). element_at/getItem chains stay
    # inside WholeStageCodegen. int64 addition in the same s=0..m-1
    # order → bit-identical sums.
    rd = F.expr(" + ".join(
        f"element_at(luts[{s}], codes[{s}] + 1)" for s in range(m)))
    # lutw/dqc are QUERY-side: |Q| × (m·ksub longs) / |Q| × n_probe
    # skinny rows — broadcast them (guide §8: never let a pair join
    # ship the wide per-query payload through a shuffle; without the
    # hint Catalyst picked a sort-merge join that moved luts once per
    # PAIR row). A serving batch's Q is bounded; at corpus-Q fixture
    # scale this is 2000 × 4 KB ≈ 8 MB. codes_wide stays a hash join
    # on cell — the corpus side is never broadcast.
    vals_df = (probes.join(codes_wide, "cell")
               .filter(F.col("q_id") != F.col("x_id"))
               .join(F.broadcast(dqc), ["q_id", "cell"])
               .join(F.broadcast(lutw), "q_id")
               .select("q_id", "x_id",
                       F.when(F.col("nrm2") == 0, F.lit(float("-inf")))
                       .otherwise((rd + F.col("cdot"))
                                  .cast("double")
                                  / F.sqrt(F.col("nrm2").cast("double")))
                       .alias("v")))
    bst = vals_df.groupBy("q_id", "x_id").agg(F.max("v").alias("v"))
    w = Window.partitionBy("q_id").orderBy(F.col("v").desc(), "x_id")
    short = (bst.withColumn("_rn", F.row_number().over(w))
             .filter(F.col("_rn") <= shortlist)
             .select(F.col("q_id").alias("vec_id"),
                     F.col("x_id").alias("neighbor_id")))
    return _det_exact_rerank(short, e)


def _det_exact_rerank(short: DataFrame, e: DataFrame) -> DataFrame:
    """The shared shortlist→exact-cosine-top-1 tail of the det PQ
    family: rescore the (vec_id, neighbor_id) shortlist by exact
    cosine and keep the best per query under (cos DESC, id ASC)."""
    from ..operators.dedup import _cosine_residual

    scored = _cosine_residual(short, e, e, -1.0, "vec_id", "neighbor_id",
                              "vec_id", "embedding")
    w2 = Window.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(),
                                              "neighbor_id")
    return (scored.withColumn("_rn", F.row_number().over(w2))
            .filter(F.col("_rn") == 1)
            .select("vec_id", "neighbor_id",
                    F.col("cos_sim").alias("approx_cos"))
            .orderBy("vec_id"))


@register("maint_compact", oracle=f"""
SELECT COUNT(*) AS n_rows,
       {sql_dsum('l_extendedprice')} AS sum_price,
       COUNT(DISTINCT l_orderkey) AS n_orders
FROM lineitem
""", tags=("maintenance", "compaction"))
def maint_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction round-trip: shatter lineitem into many
    small files (the streaming-ingest failure mode), compact to
    target-sized files, verify the compacted copy is row-identical to
    the source (oracle aggregates the original table)."""
    from ..operators.maintenance import compact_parquet

    shattered = derived_dir(sf_dir, "lineitem_shattered")
    compacted = derived_dir(sf_dir, "lineitem_compacted")
    li = load_table(spark, sf_dir, "lineitem")
    li.repartition(64).write.mode("overwrite").parquet(shattered)
    df = compact_parquet(spark, shattered, compacted, target_file_mb=16)
    return df.agg(F.count(F.lit(1)).alias("n_rows"),
                  dsum("l_extendedprice").alias("sum_price"),
                  F.countDistinct("l_orderkey").alias("n_orders"))


@register("maint_schema_evolution", oracle="""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_src0_flagged
FROM documents
GROUP BY lang
""", tags=("maintenance", "evolution"))
def maint_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution: batch 1 written WITHOUT the flag column, batch 2
    written WITH it; a mergeSchema read unions both (nulls for the old
    batch) and downstream aggregation treats missing as false — the
    add-a-column-without-rewriting-history pattern."""
    from ..operators.maintenance import read_with_evolution

    d = load_table(spark, sf_dir, "documents")
    b1_dir = derived_dir(sf_dir, "docs_batch1")
    b2_dir = derived_dir(sf_dir, "docs_batch2")
    b1 = d.filter(F.col("doc_id") % 2 == 0)          # old schema: no flag
    b2 = (d.filter(F.col("doc_id") % 2 == 1)         # new schema: + flag
          .withColumn("src0_flag", F.col("source") == "src0"))
    b1.write.mode("overwrite").parquet(b1_dir)
    b2.write.mode("overwrite").parquet(b2_dir)
    merged = read_with_evolution(spark, b1_dir, b2_dir)
    # Old-batch rows have NULL flag; recompute it from source for them.
    flag = F.coalesce(F.col("src0_flag"), F.col("source") == "src0")
    return (merged.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.when(flag, 1).otherwise(0)).alias("n_src0_flagged")))


@register("join_salted", oracle=f"""
WITH dim AS (
  SELECT event_type AS det, COUNT(*) AS type_total
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       COUNT(*) AS n_events,
       CAST(MIN(d.type_total) AS BIGINT) AS type_total,
       {sql_dsum('e.value')} AS total_value
FROM events e JOIN dim d ON d.det = e.event_type
GROUP BY e.event_type
""", tags=("join", "skew"))
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skewed join: the fact side has only 5 hot join keys, so a
    plain sort-merge join pins each key's entire volume on one reducer.
    Salting splits every hot key 8 ways — fact rows get
    salt = xxhash64(event_id) % 8, the dim side is exploded once per
    salt value — and the join key becomes (key, salt), spreading each
    hot key over 8 reducers. Re-aggregating afterwards restores the
    per-key result, bit-identical to the unsalted plan (decimal sums
    are associative), which is what the oracle computes.

    The merge hint forces the shuffle join the demo is about (with a
    5-row dim Spark would rightly broadcast — the salt pattern is for
    when BOTH sides are too big to broadcast; AQE skew-join does this
    rebalancing automatically for sort-merge joins, salting is the
    explicit fallback when AQE's split granularity isn't enough)."""
    e = load_table(spark, sf_dir, "events")
    buckets = 8
    dim = e.groupBy(F.col("event_type").alias("det")) \
           .agg(F.count(F.lit(1)).alias("type_total"))
    dim_salted = dim.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1))))
    fact = e.withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(buckets)).cast("int"))
    joined = fact.hint("merge").join(
        dim_salted,
        (fact["event_type"] == dim_salted["det"])
        & (fact["salt"] == dim_salted["salt"]))
    return (joined.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("type_total").alias("type_total"),
                 dsum("value").alias("total_value")))


#: Zipf-skew key derivation shared by the zipf queries (skew measured
#: in round 5, SCALING.md): an integer-mixed pseudo-uniform bucket b in
#: [0, 1024) mapped through floor(1024 / (1 + b)) — ~50% of all rows
#: land on key 1, ~17% on key 2, ... (freq ~ 1/k(k+1)), a heavy
#: zipf-like distribution. Engine-portable by construction: the mix is
#: pure int64 arithmetic (no engine hash), and floor over 1024/(1+b) is
#: exact in double because the quotient's denominator is <= 1024, so
#: Spark and DuckDB agree on every row.
ZIPF_KEY_SQL = ("CAST(FLOOR(1024.0 / (1 + ((event_id * 1103515245 + 12345)"
                " % 1024))) AS BIGINT)")


def zipf_key(event_id: F.Column = None) -> F.Column:
    """Spark-side twin of ZIPF_KEY_SQL."""
    e = F.col("event_id") if event_id is None else event_id
    b = F.pmod(e * F.lit(1103515245) + F.lit(12345), F.lit(1024))
    return F.floor(F.lit(1024.0) / (F.lit(1) + b)).cast("long")


@register("agg_salted_zipf", oracle=f"""
WITH f AS (SELECT {ZIPF_KEY_SQL} AS skew_key, value FROM events)
SELECT skew_key,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS total_value
FROM f GROUP BY skew_key
""", tags=("agg", "skew", "zipf"))
def agg_salted_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted aggregation under REAL zipf skew: the derived key puts
    half of all events on one key, the shape where a plain groupBy pins
    one reducer with 50% of the table. Two-phase salting bounds every
    reducer at ~1/buckets of the hot key; decimal partials re-aggregate
    exactly, so the result is bit-identical to the plain plan (the
    oracle). Salted-vs-unsalted wall/max-task numbers were measured in
    round 5 (SCALING.md)."""
    e = load_table(spark, sf_dir, "events").withColumn("skew_key", zipf_key())
    return salted_aggregate(
        e, keys=["skew_key"], salt_on="event_id",
        aggs={
            "n_events": (F.count(F.lit(1)), F.sum("n_events")),
            "total_value": (F.sum(F.col("value").cast(DEC)),
                            F.sum("total_value").cast("double")),
        },
        buckets=16)


@register("join_salted_zipf", oracle=f"""
WITH f AS (
  SELECT {ZIPF_KEY_SQL} AS skew_key, value FROM events
), dim AS (
  SELECT skew_key AS dk, COUNT(*) AS key_total FROM f GROUP BY skew_key
)
SELECT f.skew_key,
       COUNT(*) AS n_events,
       CAST(MIN(d.key_total) AS BIGINT) AS key_total,
       {sql_dsum('f.value')} AS total_value
FROM f JOIN dim d ON d.dk = f.skew_key
GROUP BY f.skew_key
""", tags=("join", "skew", "zipf"))
def join_salted_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted shuffle join under real zipf skew (~50% of fact rows on
    one key): fact rows get salt = xxhash64(event_id) % 16, the dim side
    explodes once per salt, and the (key, salt) join spreads the hot
    key over 16 reducers; post-join re-aggregation restores the per-key
    result bit-identically (what the oracle computes). The merge hint
    forces the shuffle join the salt exists for — with a broadcastable
    dim Spark would rightly skip the problem entirely."""
    buckets = 16
    f = (load_table(spark, sf_dir, "events")
         .select(zipf_key().alias("skew_key"), "value", "event_id"))
    dim = f.groupBy(F.col("skew_key").alias("dk")) \
           .agg(F.count(F.lit(1)).alias("key_total"))
    dim_salted = dim.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1))))
    fact = f.withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(buckets)).cast("int"))
    joined = fact.hint("merge").join(
        dim_salted,
        (fact["skew_key"] == dim_salted["dk"])
        & (fact["salt"] == dim_salted["salt"]))
    return (joined.groupBy("skew_key")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("key_total").alias("key_total"),
                 dsum("value").alias("total_value")))


@register("join_bucketed", oracle="""
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""", tags=("join", "bucketing"))
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both tables written bucketed+sorted on
    the join key (external parquet under _derived, catalog entries in
    the session's in-memory catalog), then joined WITHOUT any shuffle
    exchange — the physical layout strategy for repeated fact-fact
    joins at 100 TB, where shuffling either side every query is the
    dominant cost. The bucket spec must match (8 buckets, same key,
    both sides) or Spark silently falls back to a shuffle; the
    zero-Exchange property is machine-asserted in
    tests/test_bucketing.py, and the join result is oracle-checked
    here. Broadcast is disabled for the join so the demo exercises the
    bucketed path even at fixture scale."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    base = derived_dir(sf_dir, "bucketed")
    pid_sfx = f"_{os.getpid()}"
    for name, df, key in (("b_orders", o, "o_custkey"),
                          ("b_customer", c, "c_custkey")):
        (df.write.bucketBy(8, key).sortBy(key)
         .option("path", os.path.join(base, name))
         .mode("overwrite").saveAsTable(name + pid_sfx))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (spark.table("b_orders" + pid_sfx)
                  .join(spark.table("b_customer" + pid_sfx),
                        F.col("o_custkey") == F.col("c_custkey"))
                  .groupBy("c_mktsegment")
                  .agg(F.count(F.lit(1)).alias("n_orders"),
                       F.sum(F.col("o_totalprice").cast(DEC))
                        .cast("double").alias("total")))
        # Materialize while broadcast is disabled: the plan must be
        # EXECUTED under the no-broadcast conf for the bucketed
        # (zero-exchange) join path to actually run — a lazily returned
        # frame would re-plan after the conf is restored below.
        return joined.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


@register("maint_time_travel", oracle="""
SELECT 1 AS version, COUNT(*) AS n_rows,
       CAST(0 AS BIGINT) AS n_updated, CAST(0 AS BIGINT) AS n_new
FROM customer
UNION ALL
SELECT 2,
       COUNT(*) + (SELECT COUNT(*) FROM customer WHERE c_custkey % 13 = 0),
       (SELECT COUNT(*) FROM customer WHERE c_custkey % 7 = 0),
       (SELECT COUNT(*) FROM customer WHERE c_custkey % 13 = 0)
FROM customer
""", tags=("maintenance", "timetravel"))
def maint_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot versioning + time travel: v1 = the dimension as loaded;
    v2 = after a MERGE upsert (same change set as etl_merge_upsert).
    Both versions stay independently readable through committed
    manifests (operators/maintenance.py — an interrupted write leaves
    no manifest and is invisible), and the query reads BOTH snapshots
    back, proving v1 is untouched by v2's rewrite. The oracle derives
    each version's row accounting from the source table."""
    from ..operators.maintenance import read_snapshot, write_snapshot

    c = load_table(spark, sf_dir, "customer")
    root = derived_dir(sf_dir, "tt_customer")
    write_snapshot(c.select("c_custkey", "c_mktsegment"), root, 1)
    updates = (c.filter(F.col("c_custkey") % 7 == 0)
               .select("c_custkey", F.lit("UPDATED").alias("c_mktsegment")))
    inserts = (c.filter(F.col("c_custkey") % 13 == 0)
               .select((F.col("c_custkey") + 10000000).alias("c_custkey"),
                       F.lit("NEW").alias("c_mktsegment")))
    v1 = read_snapshot(spark, root, 1)
    merged = (v1.join(updates.withColumnRenamed("c_mktsegment", "_new"),
                      "c_custkey", "left")
              .select("c_custkey",
                      F.coalesce("_new", "c_mktsegment").alias("c_mktsegment"))
              .unionByName(inserts))
    write_snapshot(merged, root, 2)

    def stats(ver: int) -> DataFrame:
        s = read_snapshot(spark, root, ver)
        return s.agg(F.lit(ver).cast("int").alias("version"),
                     F.count(F.lit(1)).alias("n_rows"),
                     F.sum(F.when(F.col("c_mktsegment") == "UPDATED", 1)
                           .otherwise(0)).cast("long").alias("n_updated"),
                     F.sum(F.when(F.col("c_mktsegment") == "NEW", 1)
                           .otherwise(0)).cast("long").alias("n_new"))
    return stats(1).unionAll(stats(2))


@register("scan_zorder", oracle=f"""
SELECT event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS total_value
FROM events
WHERE user_id BETWEEN 2 AND 10
  AND event_id BETWEEN 100 AND 5000
GROUP BY event_type
""", tags=("scan", "layout"))
def scan_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustered layout: events rewritten
    range-partitioned on the bit-interleave of (user_id, event_id), so
    every parquet file covers a compact 2-D tile and a 2-D box filter
    prunes by footer stats in BOTH dimensions (operators/layout.py —
    what OPTIMIZE ZORDER BY does, on stock Spark). The query reads the
    clustered copy with a 2-D filter; the oracle computes the same
    slice from the source table, so the rewrite must be lossless.
    tests/test_operators.py measures the actual file-skip win vs a
    1-D-sorted layout from the parquet footers."""
    from ..operators.layout import write_zordered

    e = load_table(spark, sf_dir, "events")
    out = derived_dir(sf_dir, "events_zorder")
    write_zordered(e, out, "user_id", "event_id", n_files=16)
    z = spark.read.parquet(out)
    return (z.filter(F.col("user_id").between(2, 10)
                     & F.col("event_id").between(100, 5000))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 dsum("value").alias("total_value")))


@register("skew_profile", oracle="""
WITH per_key AS (
  SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey
), stats AS (
  SELECT COUNT(*) AS n_keys,
         CAST(SUM(n) AS BIGINT) AS total_rows,
         CAST(MAX(n) AS BIGINT) AS max_n,
         ROUND(CAST(SUM(n) AS DOUBLE) / COUNT(*), 6) AS avg_n
  FROM per_key
)
SELECT n_keys, total_rows, max_n, avg_n,
       ROUND(max_n / avg_n, 6) AS skew_ratio,
       (SELECT CAST(MIN(o_custkey) AS BIGINT) FROM per_key
        WHERE n = (SELECT MAX(n) FROM per_key)) AS hottest_key
FROM stats
""", tags=("scale", "skew", "diagnostics"))
def skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/aggregation-key skew diagnostics — the profiling pass you
    run BEFORE choosing salting / AQE-skew-join / broadcast on a 100 TB
    key: per-key cardinality distribution reduced to (key count, max,
    avg, max/avg skew ratio, hottest key). One shuffle on the key, then
    a 1-row reduce; the hottest-key lookup ties deterministically to
    the smallest key. A ratio near 1 means uniform keys; >> 1 flags the
    keys the skew guards in operators/skew.py and dedup's
    max_doc_freq/max_band_freq exist for."""
    o = load_table(spark, sf_dir, "orders")
    per_key = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    mx = per_key.agg(F.max("n").alias("_mx"))
    hottest = (per_key.join(F.broadcast(mx), F.col("n") == F.col("_mx"))
               .agg(F.min("o_custkey").cast("long").alias("hottest_key")))
    stats = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").cast("long").alias("total_rows"),
        F.max("n").cast("long").alias("max_n"),
        F.round(F.sum("n").cast("double") / F.count(F.lit(1)), 6).alias("avg_n"))
    return (stats.join(F.broadcast(hottest))
            .select("n_keys", "total_rows", "max_n", "avg_n",
                    F.round(F.col("max_n") / F.col("avg_n"), 6)
                     .alias("skew_ratio"),
                    "hottest_key"))


@register("join_size_estimate", oracle="""
WITH o_keys AS (
  SELECT o_orderkey AS k, COUNT(*) AS n_o FROM orders GROUP BY 1
), l_keys AS (
  SELECT l_orderkey AS k, COUNT(*) AS n_l FROM lineitem GROUP BY 1
), sampled AS (
  SELECT o.k, o.n_o * l.n_l AS contrib
  FROM o_keys o JOIN l_keys l ON o.k = l.k
  WHERE o.k % 100 = 0
), actual AS (
  SELECT CAST(SUM(o.n_o * l.n_l) AS BIGINT) AS rows_
  FROM o_keys o JOIN l_keys l ON o.k = l.k
)
SELECT CAST(COUNT(*) AS BIGINT) AS sampled_keys,
       CAST(SUM(contrib) * 100 AS BIGINT) AS est_join_rows,
       (SELECT rows_ FROM actual) AS actual_join_rows,
       ROUND(ABS(SUM(contrib) * 100.0 - (SELECT rows_ FROM actual))
             / (SELECT rows_ FROM actual), 4) AS rel_error
FROM sampled
""", tags=("scale", "diagnostics", "join"))
def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-output cardinality estimation from a deterministic 1% key
    sample — the pre-flight check before launching a 100 TB fact-fact
    join: |A ⋈ B| = Σ_k n_A(k)·n_B(k), estimated by summing only keys
    with k % 100 == 0 and scaling. The estimate touches two key-count
    aggregates and a sampled join of key COUNTS (never the fact rows);
    the query also computes the true size so rel_error is reported
    honestly (the fixture's uniform ~4 lineitems/order keeps it ~1%).
    Modulo sampling is engine-agnostic-deterministic, unlike engine
    hash functions."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ok = o.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_o"))
    lk = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_l"))
    joined = ok.join(lk, "k").select(
        "k", (F.col("n_o") * F.col("n_l")).alias("contrib"))
    actual = joined.agg(F.sum("contrib").cast("long").alias("_actual"))
    sampled = joined.filter(F.col("k") % 100 == 0)
    return (sampled.join(F.broadcast(actual))
            .agg(F.count(F.lit(1)).alias("sampled_keys"),
                 (F.sum("contrib") * 100).cast("long").alias("est_join_rows"),
                 F.first("_actual").alias("actual_join_rows"),
                 F.round(F.abs(F.sum("contrib") * 100.0 - F.first("_actual"))
                         / F.first("_actual"), 4).alias("rel_error")))


@register("diag_join_skew", oracle="""
WITH per_key AS (
  SELECT o_custkey AS key, COUNT(*) AS n
  FROM orders GROUP BY o_custkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(MAX(n) AS BIGINT) AS max_per_key,
       ROUND(median(CAST(n AS DOUBLE)), 4) AS p50_per_key,
       ROUND(quantile_cont(CAST(n AS DOUBLE), 0.99), 4) AS p99_per_key,
       ROUND(MAX(n) / median(CAST(n AS DOUBLE)), 4) AS skew_ratio,
       CAST(SUM(n * n) AS BIGINT) AS selfjoin_rows
FROM per_key
""", tags=("scale", "diagnostic"))
def diag_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis — the pre-flight check before any big
    join at 100 TB: per-key cardinality distribution (max / p50 / p99,
    max:median skew ratio) plus the exact row count a self-equi-join on
    this key would produce (Σ n² — the quantity that explodes under
    skew). Feeds the routing decision between the plain, salted
    (join_salted) and AQE-skew paths.

    Scale posture: one partial-aggregated groupBy on the key, then a
    handful of scalar aggregates over |keys| rows — the diagnosis
    never touches more than the key-count distribution, so it costs a
    fraction of the join it protects."""
    o = load_table(spark, sf_dir, "orders")
    per_key = (o.groupBy(F.col("o_custkey").alias("key"))
               .agg(F.count(F.lit(1)).alias("n")))
    return (per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("n").alias("max_per_key"),
        F.round(F.median(F.col("n").cast("double")), 4).alias("p50_per_key"),
        F.round(F.percentile(F.col("n").cast("double"), 0.99), 4)
         .alias("p99_per_key"),
        F.round(F.max("n") / F.median(F.col("n").cast("double")), 4)
         .alias("skew_ratio"),
        F.sum(F.col("n") * F.col("n")).alias("selfjoin_rows")))


@register("maint_snapshot_diff", oracle="""
SELECT 'added' AS change, COUNT(*) AS n_rows
FROM customer WHERE c_custkey % 13 = 0
UNION ALL
SELECT 'removed', COUNT(*) FROM customer WHERE c_custkey % 11 = 0
UNION ALL
SELECT 'changed', COUNT(*)
FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 11 != 0
UNION ALL
SELECT 'unchanged', COUNT(*)
FROM customer
WHERE c_custkey % 7 != 0 AND c_custkey % 11 != 0
""", tags=("maintenance", "timetravel"))
def maint_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-to-version row-level DIFF over the snapshot store — the
    change-audit primitive behind every lakehouse 'what changed between
    v1 and v2' question (CDC backfill validation, incremental consumer
    catch-up). v2 applies deletes (%11), updates (%7) and inserts
    (%13) to v1; the diff is ONE full outer join on the key
    classifying each row as added / removed / changed / unchanged, and
    the oracle recomputes the class populations in closed form from
    the source predicates.

    Scale posture: the diff is a single key-partitioned join between
    two snapshot scans — no driver-side manifest walk of row data; at
    100 TB the same plan runs partition-parallel, and a key-bucketed
    snapshot layout would make it a zero-shuffle zipper join."""
    from ..operators.maintenance import read_snapshot, write_snapshot

    c = load_table(spark, sf_dir, "customer")
    root = derived_dir(sf_dir, "diff_customer")
    base = c.select("c_custkey", "c_acctbal")
    write_snapshot(base, root, 1)
    v2 = (base.filter(F.col("c_custkey") % 11 != 0)          # deletes
          .withColumn("c_acctbal",
                      F.when(F.col("c_custkey") % 7 == 0,    # updates
                             F.col("c_acctbal") + 1.0)
                       .otherwise(F.col("c_acctbal")))
          .unionByName(                                      # inserts
              c.filter(F.col("c_custkey") % 13 == 0)
              .select((F.col("c_custkey") + 10000000).alias("c_custkey"),
                      "c_acctbal")))
    write_snapshot(v2, root, 2)
    a = read_snapshot(spark, root, 1).withColumnRenamed("c_acctbal", "_v1")
    b = read_snapshot(spark, root, 2).withColumnRenamed("c_acctbal", "_v2")
    change = (F.when(F.col("_v1").isNull(), "added")
              .when(F.col("_v2").isNull(), "removed")
              .when(F.col("_v1") != F.col("_v2"), "changed")
              .otherwise("unchanged"))
    observed = (a.join(b, "c_custkey", "full_outer")
                .groupBy(change.alias("change"))
                .agg(F.count(F.lit(1)).alias("n_rows")))
    # Emit all 4 change classes even when a class is empty (the oracle's
    # COUNT over an empty predicate is 0 rows-with-0, not absence) —
    # left-join the observed counts onto the fixed class frame.
    classes = spark.createDataFrame(
        [("added",), ("removed",), ("changed",), ("unchanged",)],
        "change string")
    return (classes.join(observed, "change", "left")
            .select("change",
                    F.coalesce("n_rows", F.lit(0)).cast("long")
                     .alias("n_rows")))


@register("join_bloom", oracle="""
SELECT strftime(date_trunc('week', o.o_orderdate), '%Y-%m-%d') AS wk,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(38,6))) AS DOUBLE), 6)
         AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT' AND o.o_orderstatus = 'F'
GROUP BY wk
""", tags=("join", "bloom", "scale"))
def join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join reduction via a Bloom pre-filter: the fact (lineitem)
    is probed against a Bloom filter of the selected dimension keys
    BEFORE the exact join, so only ~selectivity + fpp of the fact rows
    enter the shuffle. Result is identical to the plain join — false
    positives are eliminated by the exact equi-join that follows, so
    the filter is purely a shuffle-volume optimization (the same
    contract as dedup_incremental_bloom, and the manual analog of
    Spark's runtime row-group bloom pushdown, which needs
    creation-side sizes this fixture can't reach).

    When it matters at 100 TB: the selected dimension is too large to
    broadcast-join outright but its BLOOM BITS still broadcast (1e9
    keys @ 1% fpp ~ 1.2 GB); shuffling 1% of a 100 TB fact instead of
    all of it is the difference between a tractable and an untenable
    stage. At fixture scale the dim would broadcast anyway; the query
    exercises the full build-probe-verify path with the oracle pinning
    exactness.

    The filter build collects only n_partitions bit-arrays (bounded by
    filter size, never corpus size); the probe is an Arrow-batched
    pandas UDF over the broadcast bits."""
    from ..operators.bloom import bloom_maybe_contains, build_bloom

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    dim = o.where((F.col("o_orderpriority") == "1-URGENT")
                  & (F.col("o_orderstatus") == "F"))
    # Exact key count sizes the filter keys-proportional. This is ONE
    # pushed-filter single-column scan of the dim — the bloom build
    # makes the same scan right after, so the sizing pass adds ~half
    # the (small) dim-side work and nothing fact-side. A whole-table
    # byte heuristic was tried and rejected: it ignores the predicate
    # selectivity (~1/15 here), inflating the bit array ~50x and
    # breaking build_bloom's bounded-driver-collect contract at scale.
    n_keys = dim.select("o_orderkey").count()
    bits, m, k = build_bloom(dim.select("o_orderkey"), "o_orderkey",
                             n_estimate=max(1024, n_keys))
    probed = bloom_maybe_contains(li, "l_orderkey", bits, m, k)
    pre = probed.where(F.col("_maybe")).drop("_maybe")
    return (pre.join(dim, pre.l_orderkey == dim.o_orderkey)
            .groupBy(F.date_format(F.date_trunc("week", "o_orderdate"),
                                   "yyyy-MM-dd").alias("wk"))
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.round(F.sum(F.col("l_extendedprice")
                               .cast("decimal(38,6)")).cast("double"), 6)
                  .alias("revenue")))


def _silhouette_oracle_sql(k: int = 8, iters: int = 4) -> str:
    """Centroid-based silhouette over the shared deterministic-k-means
    chain: appended CTEs reuse the chain's ``fsim``/``fnrm`` (final
    centroids) but normalize by BOTH norms — the chain's ranking score
    (dot/|c|) orders buckets correctly yet exceeds 1, while silhouette
    needs the true cosine. a(i)=1-cos(best), b(i)=1-cos(second);
    s=(b-a)/max(a,b)=(cos1-cos2)/max(1-cos1,1-cos2). Per-cluster means
    accumulate as DECIMAL(28,9) (the ml_logreg cast discipline) so
    float summation order cannot split the engines."""
    return _ivf_det_chain_sql(k=k, iters=iters) + """,
qn AS (SELECT vec_id, sqrt(CAST(SUM(val * val) AS DOUBLE)) AS qnrm
       FROM comp GROUP BY vec_id),
scored AS (SELECT s.vec_id, s.bucket,
                  CASE WHEN n.nrm = 0 OR q.qnrm = 0 THEN -2.0
                       ELSE CAST(s.dot AS DOUBLE) / (q.qnrm * n.nrm)
                  END AS cos,
                  row_number() OVER (PARTITION BY s.vec_id
                    ORDER BY CASE WHEN n.nrm = 0 OR q.qnrm = 0 THEN -2.0
                                  ELSE CAST(s.dot AS DOUBLE)
                                       / (q.qnrm * n.nrm) END DESC,
                             s.bucket) AS rn
           FROM fsim s JOIN fnrm n ON s.bucket = n.bucket
                        JOIN qn q ON q.vec_id = s.vec_id),
top2 AS (SELECT vec_id,
                MAX(CASE WHEN rn = 1 THEN bucket END) AS bucket,
                MAX(CASE WHEN rn = 1 THEN cos END) AS cos1,
                MAX(CASE WHEN rn = 2 THEN cos END) AS cos2
         FROM scored WHERE rn <= 2 GROUP BY vec_id),
sil AS (SELECT bucket,
               CASE WHEN GREATEST(1.0 - cos1, 1.0 - cos2) = 0 THEN 0.0
                    ELSE (cos1 - cos2) / GREATEST(1.0 - cos1, 1.0 - cos2)
               END AS s
        FROM top2)
SELECT bucket, COUNT(*) AS n_members,
       ROUND(CAST(SUM(CAST(s AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*), 6)
           AS avg_silhouette
FROM sil GROUP BY bucket ORDER BY bucket
"""


@register("ml_silhouette", oracle=_silhouette_oracle_sql(),
          tags=("ml", "cluster", "quality"))
def ml_silhouette(spark: SparkSession, sf_dir: str, k: int = 8,
                  iters: int = 4) -> DataFrame:
    """Per-cluster silhouette score of the deterministic k-means
    partition — ORACLE-BACKED cluster-quality evaluation: the
    centroid-based silhouette (Rousseeuw's a/b distances taken to the
    own vs second-best centroid rather than all points — the O(nk)
    form every large-scale evaluator uses; exact all-pairs silhouette
    is O(n²) by definition). Reuses the _ivf_det_fit machinery
    end-to-end, so DuckDB replays the k-means AND the evaluation:
    a(i) = 1 - cos(own centroid), b(i) = 1 - cos(runner-up),
    s = (cos1-cos2)/max(1-cos1, 1-cos2), per-cluster means summed as
    DECIMAL(28,9).

    Scale shape: one broadcast of k integer centroids, one scan for
    the n x k score matrix, a width-2 window, one groupBy over k
    keys. tests/test_analytics.py pins the [-1, 1] range, agreement
    with a NumPy re-derivation, and that planting tighter clusters
    raises the score."""
    import math

    e = load_table(spark, sf_dir, "embeddings")
    q, cent = _ivf_det_fit(e, k=k, iters=iters)
    rows = [(b, [int(v) for v in vals],
             math.sqrt(sum(v * v for v in vals)))
            for b, vals in sorted(cent.items())]
    cdf = spark.createDataFrame(rows,
                                "bucket int, c array<long>, nrm double")
    dot = F.aggregate(F.zip_with("q", "c", lambda a, b: a * b),
                      F.lit(0).cast("long"), lambda acc, x: acc + x)
    qnrm = F.sqrt(F.aggregate(
        F.zip_with("q", "q", lambda a, b: a * b),
        F.lit(0).cast("long"), lambda acc, x: acc + x).cast("double"))
    qn = q.select("vec_id", "q", qnrm.alias("qnrm"))
    cos = (F.when((F.col("nrm") == 0.0) | (F.col("qnrm") == 0.0),
                  F.lit(-2.0))
           .otherwise(dot.cast("double")
                      / (F.col("qnrm") * F.col("nrm"))))
    w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(),
                                             "bucket")
    scored = (qn.crossJoin(F.broadcast(cdf))
              .select("vec_id", "bucket", cos.alias("cos"))
              .withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= 2))
    top2 = (scored.groupBy("vec_id")
            .agg(F.max(F.when(F.col("rn") == 1, F.col("bucket")))
                 .alias("bucket"),
                 F.max(F.when(F.col("rn") == 1, F.col("cos")))
                 .alias("cos1"),
                 F.max(F.when(F.col("rn") == 2, F.col("cos")))
                 .alias("cos2")))
    a_d = F.lit(1.0) - F.col("cos1")
    b_d = F.lit(1.0) - F.col("cos2")
    s = (F.when(F.greatest(a_d, b_d) == 0.0, F.lit(0.0))
         .otherwise((F.col("cos1") - F.col("cos2"))
                    / F.greatest(a_d, b_d)))
    return (top2.select(F.col("bucket").cast("long").alias("bucket"),
                        s.alias("s"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_members"),
                 F.round(F.sum(F.col("s").cast("decimal(28,9)"))
                         .cast("double") / F.count(F.lit(1)), 6)
                 .alias("avg_silhouette"))
            .orderBy("bucket"))


# ---------------------------------------------------------------------------
# Scaling sentinels (r13, VERDICT item 4). At sf0.1 every original
# headline entry is seconds of fixed job/driver overhead, so the
# driver's 8-vs-32-core bench ratio sits at ~1 for all of them — the
# bench could not DEMONSTRATE parallel scaling at all. These three
# entries deterministically replicate the fixture inside the query
# (explode over a literal sequence — recomputed from parquet on every
# run, nothing persisted) so that compute/shuffle dominates scheduling
# overhead and the core-count ratio becomes measurable. One sentinel
# per resource regime: codegen CPU (hash chain), shuffle + aggregation
# (replica-keyed shingle self-join), and the Python kernel path
# (broadcast-CSR triangle counting). Each is oracle-backed — DuckDB
# replays the replication with a range() lateral — so the driver's
# correctness gate covers them like any other query.
# Registered in queries/__init__.py's LATE block (append-only registry
# order — never mid-module).

#: Replication factors: sized so each sentinel runs ~2-5 s of real
#: parallel work at sf0.1 on 32 cores (tuned in OPTIMIZATION_r13.md —
#: first cut used an exchange-volume pairs sentinel and a replicated
#: CSR triangle census; measured 8-vs-32-core ratios were ~1.0 and
#: ~0.7: the sf0.1-sized exchange is latency-bound, not core-bound,
#: and the census replication ballooned the per-worker kernel
#: broadcast. Both were replaced by CPU-dominated stages of the same
#: families: a levenshtein candidate-verify and a per-replica matmul
#: kernel).
SENTINEL_HASH_REP = 96
SENTINEL_PAIRS_REP = 2
SENTINEL_KNN_REP = 384
#: Id offset for disjoint replicas (> max id at any fixture SF).
_REP_OFF = 1 << 20

_SENTINEL_HASH_ORACLE = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(ascii(substr(h, 1, 1)) + ascii(substr(h, 2, 1))
                + ascii(substr(h, 3, 1)) + ascii(substr(h, 4, 1)))
            AS BIGINT) AS s
FROM (
  SELECT md5(md5(md5(
           CAST(l.l_orderkey * {SENTINEL_HASH_REP} + t.r AS VARCHAR)
           || '|' || CAST(l.l_partkey AS VARCHAR)
           || '|' || CAST(l.l_suppkey AS VARCHAR)))) AS h
  FROM lineitem l, range({SENTINEL_HASH_REP}) t(r))
"""


def scale_sentinel_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CPU-scaling sentinel: lineitem replicated ×{R} (deterministic
    explode, per-replica-salted key) through a 3-round md5 chain and an
    exact integer aggregate. Pure whole-stage-codegen row work after an
    explicit round-robin repartition to 4× defaultParallelism (the
    single fixture file would otherwise scan as ONE task and hide the
    core count) — wall is ~pure compute, so the 8-vs-32-core bench
    ratio measures parallel speedup, which is this entry's entire
    purpose (no other headline entry is compute-bound at sf0.1)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey")
    par = spark.sparkContext.defaultParallelism
    rep = (li.repartition(4 * par)
           .select("l_orderkey", "l_partkey", "l_suppkey",
                   F.explode(F.sequence(
                       F.lit(0), F.lit(SENTINEL_HASH_REP - 1))).alias("r")))
    h = F.md5(F.md5(F.md5(F.concat_ws(
        "|",
        (F.col("l_orderkey") * SENTINEL_HASH_REP + F.col("r"))
        .cast("string"),
        F.col("l_partkey").cast("string"),
        F.col("l_suppkey").cast("string")))))
    asum = sum([F.ascii(F.substring(h, i, 1)).cast("long")
                for i in range(1, 5)], F.lit(0).cast("long"))
    return rep.agg(F.count(F.lit(1)).alias("n"),
                   F.sum(asum).cast("long").alias("s"))


_SENTINEL_PAIRS_ORACLE = f"""
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT DISTINCT doc_id,
              w[i] || '|' || w[i+1] || '|' || w[i+2] AS shingle
       FROM words, unnest(range(1, len(w) - 1)) t(i)),
cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         FROM sh a JOIN sh b
           ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
lev AS (SELECT t.rep, c.d1, c.d2,
               levenshtein(substr(da.text, 1, 96),
                           substr(db.text, 1, 96)) AS dist
        FROM cand c
        JOIN documents da ON da.doc_id = c.d1
        JOIN documents db ON db.doc_id = c.d2,
        range({SENTINEL_PAIRS_REP}) t(rep))
SELECT rep, CAST(COUNT(*) AS BIGINT) AS n_cand,
       CAST(SUM(CASE WHEN dist <= 48 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_match
FROM lev GROUP BY rep ORDER BY rep
"""


def scale_sentinel_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-family scaling sentinel: shingle-equality CANDIDATE pairs
    (the LSH-style banded-join shape, ~1.1M distinct pairs at sf0.1)
    verified by an exact levenshtein over the texts' 96-char prefixes,
    replicated ×SENTINEL_PAIRS_REP. The verify stage is pure
    whole-stage-codegen CPU (a 96×96 DP per pair — the candidate-
    verification step every at-scale dedup pipeline pays), so the
    8-vs-32-core ratio measures parallel speedup. A first cut measured
    the candidate JOIN alone: at sf0.1 the exchange is latency-bound
    (ratio ~1.0), which is itself the finding that motivated making
    the probe compute-bound."""
    from ..operators.dedup import shingle_rows

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    par = spark.sparkContext.defaultParallelism
    sh = shingle_rows(d.repartition(2 * par), k=3)
    a = sh.select(F.col("doc_id").alias("d1"), "shingle")
    b = sh.select(F.col("doc_id").alias("d2"), "shingle")
    cand = (a.join(b, "shingle").filter(F.col("d1") < F.col("d2"))
            .select("d1", "d2").distinct())
    ta = d.select(F.col("doc_id").alias("d1"),
                  F.substring("text", 1, 96).alias("_ta"))
    tb = d.select(F.col("doc_id").alias("d2"),
                  F.substring("text", 1, 96).alias("_tb"))
    # Explicit round-robin repartition BEFORE the DP stage: the
    # candidate frame leaves the distinct as a few AQE-coalesced
    # ~30 MB partitions, which would run the CPU-heavy verify on 1-2
    # tasks (measured: 81 s flat across core counts — the exact
    # failure mode this sentinel exists to expose).
    lev = (cand.repartition(4 * par)
           .join(F.broadcast(ta), "d1").join(F.broadcast(tb), "d2")
           .select("d1", "d2",
                   F.explode(F.sequence(
                       F.lit(0),
                       F.lit(SENTINEL_PAIRS_REP - 1))).alias("rep"),
                   F.levenshtein("_ta", "_tb").alias("dist")))
    return (lev.groupBy("rep")
            .agg(F.count(F.lit(1)).alias("n_cand"),
                 F.sum(F.when(F.col("dist") <= 48, 1).otherwise(0))
                 .cast("long").alias("n_match"))
            .orderBy("rep"))


_SENTINEL_KNN_ORACLE = f"""
WITH base AS (
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
)
SELECT t.rep,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CAST(FLOOR(cos_sim * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cos_micros
FROM base, range({SENTINEL_KNN_REP}) t(rep)
GROUP BY t.rep
ORDER BY t.rep
"""


def scale_sentinel_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numpy-kernel scaling sentinel: exact cosine top-1 over
    SENTINEL_KNN_REP disjoint replicas of the embedding corpus (ids
    offset per replica), each replica scored independently by the
    repo's canonical grouped matmul kernel (applyInPandas, one
    2000×2000×64 float64 matmul per task at sf0.1) — the Python-kernel
    path's parallel-speedup probe (the hash sentinel covers codegen,
    the pairs sentinel the candidate-verify CPU). Scoring arithmetic
    and the grid-before-select tie-break are
    operators/knn._chunked_topk_rows — the same kernel vec_knn's
    oracle-verified route uses. The oracle exploits that replicas are
    identical point sets and the constant id offset preserves id
    order: per-replica top-1 == base top-1 shifted, so DuckDB computes
    the base scan once and expands — the ENGINE still does the full
    per-replica work, which is the point of the sentinel. Each task
    also REDUCES its replica to one (n, Σ round(cos·10⁶)) row — the
    6-dp kernel grid makes the micro-unit sum exact int64, so R scales
    the measured compute without scaling the collected result (a first
    cut emitted R×n neighbor rows and the driver collect drowned the
    kernel signal)."""
    import pandas as pd

    from ..operators.knn import _chunked_topk_rows

    e = load_table(spark, sf_dir, "embeddings")
    rep = (e.repartition(spark.sparkContext.defaultParallelism)
           .select(F.explode(F.sequence(
               F.lit(0), F.lit(SENTINEL_KNN_REP - 1))).alias("rep"),
               "vec_id", "embedding")
           .select("rep",
                   (F.col("vec_id") + F.col("rep") * _REP_OFF)
                   .alias("vec_id"),
                   F.col("embedding").cast("array<double>")
                   .alias("embedding")))

    def _topk_group(key, pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        import numpy as np

        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        rows = _chunked_topk_rows(ids, mat, ids, mat, k=1)
        micros = sum(int(math.floor(c * 1e6 + 0.5)) for _, _, c in rows)
        return pd.DataFrame({"rep": [int(key[0])],
                             "n_vecs": [len(rows)],
                             "sum_cos_micros": [micros]})

    return (rep.groupBy("rep")
            .applyInPandas(_topk_group,
                           "rep int, n_vecs long, sum_cos_micros long")
            .orderBy("rep"))
