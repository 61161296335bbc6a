"""IVF (inverted-file) approximate nearest neighbor — the matmul form.

``queries/scale.py::vec_ann_ivf`` demonstrates IVF through pyspark.ml
KMeans + HOF-cosine ranking, which is the right ORACLE shape at fixture
scale but pays one JVM HOF cosine per (vector, centroid) pair. This
module is the same index expressed the way it runs at 10⁶–10⁹ vectors:

- **train_centroids**: Lloyd k-means over a BOUNDED deterministic
  sample collected to the driver (the standard coarse-quantizer
  practice — faiss trains on a sample too). Sample bytes are capped by
  the caller (default 100k × dim ≈ 50 MB), iterations fixed, seeds
  fixed, empty clusters re-seeded deterministically — same input →
  same centroids, byte-for-byte.
- **ivf_assign**: one Arrow-batched matmul per corpus batch against
  the broadcast centroid matrix → (id, bucket[, n_assign buckets]).
  Zero shuffle; cost is n × k_clusters × dim BLAS flops.
- **ivf_search**: probe-bounded search — each query ranks centroids
  with one small matmul, takes its n_probe buckets, and meets ONLY
  those buckets' vectors in a cogrouped per-bucket matmul; a final
  window reduces per-bucket winners to global top-k. Scan fraction is
  ~n_probe / k_clusters of the corpus instead of 1.0, which is the
  entire point of IVF at 100 TB.

Exactness: within probed buckets the cosine is exact float64; the only
approximation is the probe set (recall measured in round 5
(SCALING.md) and pinned ≥0.9 for the registered fixture
query by tests).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .knn import _chunked_topk_rows, _collect_matrix, unit_rows


def train_centroids(emb: DataFrame, n_clusters: int = 256,
                    sample_rows: int = 100_000, iters: int = 10,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    seed: int = 42,
                    sample_mat: np.ndarray | None = None) -> np.ndarray:
    """Deterministic Lloyd k-means on a hash-sampled, driver-bounded
    subset; returns L2-normalized centroids [n_clusters, dim].

    The sample filter is modulo-on-id (engine-portable, no RNG); the
    driver holds sample_rows × dim float64 — a documented bounded
    collect, NOT corpus-sized.

    ``sample_mat`` short-circuits the count+collect: callers that train
    several quantizers over the SAME corpus (IVF-PQ trains a coarse
    quantizer and then a residual codebook) collect the bounded sample
    ONCE via :func:`bounded_sample_matrix` and pass it to each trainer
    — at 100 TB each avoided count/collect is a full corpus pass. The
    matrix must be the L2-normalized float64 sample those helpers
    produce; values are bit-identical either way."""
    if sample_mat is not None:
        mat = sample_mat
        if len(mat) == 0:
            raise ValueError("train_centroids: empty input DataFrame")
    else:
        mat = bounded_sample_matrix(emb, sample_rows, id_col, vec_col)
    rng = np.random.RandomState(seed)
    cent = mat[rng.choice(len(mat), size=min(n_clusters, len(mat)),
                          replace=False)]
    for _ in range(iters):
        sims = mat @ cent.T                       # cosine == dot (unit rows)
        assign = sims.argmax(axis=1)
        empties = []
        for c in range(cent.shape[0]):
            members = mat[assign == c]
            if len(members):
                v = members.sum(axis=0)
                nv = np.linalg.norm(v)
                if nv > 0:
                    cent[c] = v / nv
                    continue
            empties.append(c)
        if empties:
            # Re-seed each empty/degenerate cluster on a DISTINCT
            # worst-covered sample row (ascending best-assignment sim):
            # seeding them all on THE single farthest point would
            # collapse them into duplicates that stay empty forever,
            # silently shrinking the effective cluster count.
            worst_first = np.argsort(sims.max(axis=1), kind="stable")
            for j, c in enumerate(empties):
                cent[c] = mat[int(worst_first[j % len(worst_first)])]
    return cent


def bounded_sample_matrix(emb: DataFrame, sample_rows: int,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          n_rows: int | None = None) -> np.ndarray:
    """Deterministic modulo-on-id sample collected as an L2-normalized
    float64 matrix — the shared bounded-collect contract of every
    trainer in the vector family (≤ sample_rows × dim on the driver).
    One count pass + one bounded collect; raises on an empty corpus.
    ``n_rows`` (a count the caller already has) skips the count pass."""
    n = emb.count() if n_rows is None else n_rows
    if n == 0:
        raise ValueError("bounded_sample_matrix: empty input DataFrame")
    every = max(1, -(-n // sample_rows))          # ceil: keeps <= sample_rows
    sample = emb.filter(F.col(id_col) % every == 0).select(id_col, vec_col)
    _ids, mat = _collect_matrix(sample, id_col, vec_col)  # normalized rows
    return mat


def ivf_assign(emb: DataFrame, centroids: np.ndarray, n_assign: int = 1,
               id_col: str = "vec_id", vec_col: str = "embedding"
               ) -> DataFrame:
    """Invert the corpus: (id, embedding, bucket) rows, each vector
    appearing in its n_assign nearest-centroid buckets. One broadcast +
    one matmul per Arrow batch, no shuffle."""
    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast(centroids)

    def assign_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cent = bc.value
        for pdf in batches:
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            raw = v.astype(np.float32)       # shipped as stored
            keep, vn = unit_rows(v)
            sims = vn @ cent.T
            if n_assign == 1:
                buckets = sims.argmax(axis=1)[:, None]
            else:
                buckets = np.argsort(-sims, axis=1)[:, :n_assign]
            reps = buckets.shape[1]
            yield pd.DataFrame({
                id_col: np.repeat(pdf[id_col].to_numpy()[keep], reps),
                vec_col: list(np.repeat(raw[keep], reps, axis=0)),
                "bucket": buckets.reshape(-1).astype(np.int32),
            })

    return emb.select(id_col, vec_col).mapInPandas(
        assign_batches, f"{id_col} long, {vec_col} array<float>, bucket int")


def ivf_search(index: DataFrame, queries: DataFrame, centroids: np.ndarray,
               n_probe: int = 8, k: int = 1,
               id_col: str = "vec_id", vec_col: str = "embedding"
               ) -> DataFrame:
    """Probe-bounded ANN search: each query meets only its n_probe
    buckets' vectors. Per-bucket cogrouped matmul (exact float64 cosine
    inside the bucket), then one window reduces bucket winners to the
    global top-k. Output: query_id, neighbor_id, approx_cos.

    Building the result starts no Spark job. The cogroup reads the
    whole index and drops each unprobed bucket as an empty group; the
    probe bound is a compute bound, not an IO bound (the one caller,
    ``vec_ann_ivf_matmul``, probes every bucket anyway). All-zero
    vectors have no cosine and get no rows (``knn.unit_rows``)."""
    spark = index.sparkSession
    bc = spark.sparkContext.broadcast(centroids)

    def probe_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cent = bc.value
        for pdf in batches:
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            raw = v.astype(np.float32)       # shipped as stored
            keep, vn = unit_rows(v)
            sims = vn @ cent.T
            probes = np.argsort(-sims, axis=1)[:, :n_probe]
            reps = probes.shape[1]
            yield pd.DataFrame({
                "query_id": np.repeat(pdf[id_col].to_numpy()[keep], reps),
                "_qv": list(np.repeat(raw[keep], reps, axis=0)),
                "bucket": probes.reshape(-1).astype(np.int32),
            })

    probed = queries.select(id_col, vec_col).mapInPandas(
        probe_batches, "query_id long, _qv array<float>, bucket int")

    def bucket_topk(q_pdf: pd.DataFrame, c_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(q_pdf) == 0 or len(c_pdf) == 0:
            return pd.DataFrame(columns=["query_id", "neighbor_id", "approx_cos"])
        q_keep, q = unit_rows(
            np.array(q_pdf["_qv"].tolist(), dtype=np.float64))
        c_keep, c = unit_rows(
            np.array(c_pdf[vec_col].tolist(), dtype=np.float64))
        rows = _chunked_topk_rows(q_pdf["query_id"].to_numpy()[q_keep], q,
                                  c_pdf[id_col].to_numpy()[c_keep], c, k)
        return pd.DataFrame(rows,
                            columns=["query_id", "neighbor_id", "approx_cos"])

    local = (probed.groupBy("bucket")
             .cogroup(index.groupBy("bucket"))
             .applyInPandas(lambda ql, cl: bucket_topk(ql, cl),
                            "query_id long, neighbor_id long, approx_cos double"))
    # Multi-assignment (n_assign > 1 at build) can surface the same
    # (query, neighbor) via several probed buckets — dedup before the
    # top-k window or k>1 would count one neighbor twice.
    local = local.dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.col("approx_cos").desc(),
                                               F.col("neighbor_id"))
    return (local.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .select("query_id", "neighbor_id",
                    F.round("approx_cos", 6).alias("approx_cos")))
