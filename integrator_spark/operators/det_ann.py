"""Deterministic ANN kernels: the integer-grid k-means family whose
every step DuckDB replays (the oracle SQL lives next to the registered
queries in ``queries/scale.py``; ``queries/dedup.py`` and
``ml_silhouette`` use the same fit).

Every cross-engine operation is exact int64 arithmetic on the
floor(x·2²⁰) grid (dots, component sums, LUT lookups) or one IEEE
double op on exactly-representable integers (sqrt of a norm, one
division for a mean or a score), so the Spark plans, the driver numpy
kernels and the DuckDB replay walk the same assignments, centroids
and shortlists.

- Fit: :func:`_det_fit` is the one router. Under the driver budget
  (:func:`_det_collect_q` is one Arrow collect) it runs :func:`_np_lloyd`,
  past it the distributed :func:`_ivf_det_fit_q_dist`. Both routes
  return the same centroid dict.
- Rank: :func:`_ivf_det_rank` (relational window) and
  :func:`_np_det_rank_pdf` (driver twin) order buckets by dot/|c|, ties
  to the lowest bucket; :func:`_det_assign_fold_sql` is the top-1 slice
  as one narrow fold. All three read one :func:`_centroid_table`.
- Serve: :func:`_ivf_det_serve` (IVF candidates) and
  :func:`_det_pq_search` (compressed-domain ADC shortlist) both end in
  :func:`_det_exact_rerank`.

Flat PQ is IVF-PQ with ONE all-zero coarse cell: every residual is the
quantized vector itself, every cell score adds 0 and the reconstruction
norm is Σ|codeword|², so ``vec_ann_pq_det`` runs :func:`_det_pq_search`
with ``{0: [0] * dim}`` and ``n_assign = n_probe = 1`` and gets the same
int64 values and IEEE operations as a dedicated flat scan.
"""

from __future__ import annotations

import hashlib
import math
from concurrent import futures

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import budget
from .ann_graph import _rank_rows
from .dedup import _cosine_residual

def _ivf_det_quantize(e: DataFrame) -> DataFrame:
    """The shared floor(x·2²⁰) integer-grid projection (eagerly
    checkpointed: every fit/serve consumer re-reads it)."""
    return e.select(
        "vec_id",
        F.transform(F.col("embedding").cast("array<double>"),
                    lambda x: F.floor(x * F.lit(1048576.0)).cast("long"))
        .alias("q")).localCheckpoint(eager=True)


def _det_collect_q(q: DataFrame, dim: int):
    """Bounded collect of the quantized frame for the driver kernels:
    (ids int64[n], mat int64[n×dim]) when n×dim×8 fits the driver
    budget, else None (callers take the distributed route). One Arrow
    collect replaces the per-round driver-synchronized jobs of a
    distributed fit; one cheap count job (q is checkpointed) gates the
    transfer so the over-budget case never ships data."""
    if not budget.fits_driver(q.count() * dim * 8):
        return None
    pdf = q.select("vec_id", "q").toPandas()
    ids = pdf["vec_id"].to_numpy()
    if len(pdf) == 0:
        return ids, np.zeros((0, dim), dtype=np.int64)
    return ids, np.array(pdf["q"].tolist(), dtype=np.int64)


def _centroid_table(cent: dict[int, list[int]]):
    """(sorted bucket ids, int64 centroid matrix in that order, float64
    norms) — the one table every ranking, assignment and codebook
    lookup reads. Norms are math.sqrt of exact integer squares, the
    same IEEE double the DuckDB chain computes."""
    buckets = sorted(cent)
    cmat = np.array([cent[b] for b in buckets], dtype=np.int64)
    nrm = np.array([math.sqrt(int(c @ c)) for c in cmat], dtype=np.float64)
    return buckets, cmat, nrm


def _centroid_frame(spark, cent: dict[int, list[int]]) -> DataFrame:
    """The centroid table as a (bucket, c, nrm) frame for broadcast
    crossJoins."""
    buckets, cmat, nrm = _centroid_table(cent)
    return spark.createDataFrame(list(zip(buckets, cmat.tolist(),
                                          nrm.tolist())),
                                 "bucket int, c array<long>, nrm double")


def _np_cent_sims(mat, cent: dict[int, list[int]]):
    """n×k similarity matrix of the det chain — the SAME ops in the
    same order as _ivf_det_rank / _det_assign_fold_sql: exact int64
    dots (values ≤2²⁰, dim 64 → |dot| ≤ 2⁴⁶, no overflow), one IEEE
    double division per cell by the table norm, -inf for zero-norm
    centroids. ``[1].argmax(axis=1)`` is the nearest centroid (first
    max == lowest bucket). Returns (sorted bucket ids, sims
    float64[n×k])."""
    buckets, cmat, nrm = _centroid_table(cent)
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


def _ivf_det_fit_q_dist(q: DataFrame, k: int, iters: int,
                        dim: int) -> dict[int, list[int]]:
    """The distributed Lloyd loop (the at-scale route of
    :func:`_det_fit`): seed from the k smallest (md5(id), id) keys via a
    distributed TakeOrderedAndProject, then ``iters`` rounds of
    assign → per-component integer means. The ONLY driver collects are
    the k seed rows and k×dim component sums per round."""
    seed_rows = (q.select(F.md5(F.col("vec_id").cast("string"))
                          .alias("_h"), "vec_id", "q")
                 .orderBy("_h", "vec_id").limit(k).collect())
    cent: dict[int, list[int]] = {i: list(r.q)
                                  for i, r in enumerate(seed_rows)}
    for _ in range(iters):
        # _ivf_det_assign carries q along, so each round is one
        # aggregation (no crossJoin, window exchange or join back). The
        # component sums are dim column-wise F.sum(q[j]) aggregates:
        # map-side partial aggregation, k rows of dim+1 longs shuffled.
        # int64 addition is exact and order-free.
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


def _det_fit(q: DataFrame | None, got, k: int, iters: int, dim: int,
             n_sub: int = 1) -> list[dict[int, list[int]]]:
    """The one det-fit router: ``n_sub`` integer-grid Lloyd codebooks,
    one per dim/n_sub-wide slice of the vectors (``n_sub=1`` is the
    whole vector). ``got`` is :func:`_det_collect_q`'s (ids, mat): when
    it is not None the driver kernel fits each slice of ``mat``;
    otherwise each slice of the (vec_id, q) frame ``q`` runs the
    distributed loop, several slices overlapped on a small thread pool
    (independent chains of small driver-synchronized jobs). Both routes
    return the same dicts (parity-tested)."""
    w = dim // n_sub
    if got is not None:
        ids, mat = got
        return [_np_lloyd(ids, mat[:, s * w:(s + 1) * w], k, iters)
                for s in range(n_sub)]
    if n_sub == 1:
        return [_ivf_det_fit_q_dist(q, k, iters, dim)]
    with futures.ThreadPoolExecutor(max_workers=4) as pool:
        return list(pool.map(
            lambda s: _ivf_det_fit_q_dist(
                q.select("vec_id", F.slice("q", s * w + 1, w).alias("q")),
                k, iters, w),
            range(n_sub)))


def _ivf_det_fit(e: DataFrame, k: int, iters: int,
                 dim: int = 64) -> tuple[DataFrame, dict[int, list[int]]]:
    """Deterministic integer-grid Lloyd k-means over an embedding frame:
    quantize to the floor(x·2²⁰) grid (checkpointed once), then fit
    through :func:`_det_fit`. Returns (quantized frame, centroid dict) —
    identical on both routes."""
    q = _ivf_det_quantize(e)
    return q, _det_fit(q, _det_collect_q(q, dim), k, iters, dim)[0]


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
    cent = _det_fit(q, got, k, iters, dim)[0]
    if got is None:
        return q, cent, _ivf_det_rank(q, cent).filter(
            F.col("_rn") <= max_rn)
    ranked = q.sparkSession.createDataFrame(
        _np_det_rank_pdf(got[0], got[1], cent, max_rn),
        "vec_id long, bucket int, _rn int")
    return q, cent, ranked


def _np_det_rank_pdf(ids, mat, cent: dict[int, list[int]], max_rn: int):
    """Driver twin of :func:`_ivf_det_rank` truncated to the top
    ``max_rn`` buckets per vector: a stable argsort on -sim reproduces
    the window's (sim DESC, bucket ASC) order exactly (negation is an
    exact sign flip; stable ties keep the bucket-ascending column
    order; -inf for zero-norm centroids sorts last). Returns a pandas
    frame (vec_id, bucket, _rn) — row-identical to the relational
    ranking filtered to _rn <= max_rn."""
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


def _ivf_det_rank(q: DataFrame, cent: dict[int, list[int]]) -> DataFrame:
    """Rank every (vector, centroid) pair of the deterministic IVF:
    exact int64 dot against the broadcast integer centroids, divided
    by the (driver-computed, IEEE-exact) centroid norm — |q| is
    constant per vector so dot/|c| orders buckets identically to
    cosine. Returns (vec_id, bucket, _rn)."""
    cdf = _centroid_frame(q.sparkSession, cent)
    dot = F.aggregate(F.zip_with("q", "c", lambda a, b: a * b),
                      F.lit(0).cast("long"), lambda acc, x: acc + x)
    sim = F.when(F.col("nrm") == 0.0, F.lit(float("-inf"))) \
        .otherwise(dot.cast("double") / F.col("nrm"))
    w = Window.partitionBy("vec_id").orderBy(F.col("_sim").desc(), "bucket")
    return (q.crossJoin(F.broadcast(cdf))
            .select("vec_id", "bucket", sim.alias("_sim"))
            .withColumn("_rn", F.row_number().over(w))
            .select("vec_id", "bucket", "_rn"))


def _ivf_det_assign(q: DataFrame, cent: dict[int, list[int]]) -> DataFrame:
    """Top-1 bucket of :func:`_ivf_det_rank` (the ``_rn == 1`` slice)
    WITHOUT the crossJoin + window: the centroids become one literal
    array in the plan and each row walks it with a strict-``>``
    accumulator fold — selection is identical to the window's
    (``_sim`` DESC, bucket ASC) rule because the array is sorted by
    bucket and ties keep the earlier entry, and every arithmetic op
    (int64 zip_with dot, one double division by the driver-computed
    norm) is the same IEEE op in the same order as _ivf_det_rank's.

    Assignment is the inner step of every distributed Lloyd round;
    through _ivf_det_rank it cost a broadcast crossJoin, a window
    sort-exchange and a join back to ``q``. This form is one narrow
    projection with no shuffle and no join, and it keeps ``q``
    alongside the bucket. Output: (vec_id, q, bucket)."""
    if not cent:
        # Empty-centroid parity with _ivf_det_rank: a crossJoin against
        # zero centroid rows yields zero assignment rows (empty-input
        # queries reach this through an empty seed set).
        return (q.select("vec_id", "q", F.lit(0).cast("int").alias("bucket"))
                .filter(F.lit(False)))
    best, first_b = _det_assign_fold_sql(cent, "q")
    return (q.select("vec_id", "q", F.expr(best).alias("_best"))
            .select("vec_id", "q",
                    F.when(F.col("_best.b") == -1,
                           F.lit(first_b))
                    .otherwise(F.col("_best.b")).cast("int")
                    .alias("bucket")))


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
    buckets, cmat, nrm = _centroid_table(cent)
    structs = ",".join(
        "named_struct('b',{b},'c',array({c}),'nrm',CAST('{n!r}' AS DOUBLE))"
        .format(b=b, c=",".join(f"{v}L" for v in row), n=nv)
        for b, row, nv in zip(buckets, cmat.tolist(), nrm.tolist()))
    sim_x = ("CASE WHEN x.nrm = 0.0D THEN CAST('-Infinity' AS DOUBLE) "
             f"ELSE CAST(aggregate(zip_with({vec_expr}, x.c, "
             "(a, bb) -> a * bb), "
             "0L, (a2, v) -> a2 + v) AS DOUBLE) / x.nrm END")
    best = (f"aggregate(array({structs}), "
            "named_struct('s', CAST('-Infinity' AS DOUBLE), 'b', -1), "
            f"(acc, x) -> CASE WHEN ({sim_x}) > acc.s "
            f"THEN named_struct('s', {sim_x}, 'b', x.b) ELSE acc END)")
    return best, buckets[0]


def _ivf_det_serve(e: DataFrame, ranked: DataFrame, n_assign: int,
                   n_probe: int) -> DataFrame:
    """The det-IVF serve tail: candidates are the members of each
    vector's ``n_assign`` buckets met through its ``n_probe`` probed
    buckets, then :func:`_det_exact_rerank`. ``ranked`` is
    _ivf_det_fit_ranked's frame, possibly with rows already removed
    (the tombstone anti-join)."""
    assigned = (ranked.filter(F.col("_rn") <= n_assign)
                .select(F.col("vec_id").alias("neighbor_id"), "bucket"))
    probed = (ranked.filter(F.col("_rn") <= n_probe)
              .select("vec_id", "bucket"))
    cand = (probed.join(assigned, "bucket")
            .filter(F.col("vec_id") != F.col("neighbor_id"))
            .select("vec_id", "neighbor_id").distinct())
    return _det_exact_rerank(cand, e)


def _det_exact_rerank(short: DataFrame, e: DataFrame) -> DataFrame:
    """The shared candidates→exact-cosine-top-1 tail of the det family:
    rescore the (vec_id, neighbor_id) pairs by exact cosine and keep the
    best per query under (cos DESC, id ASC)."""
    scored = _cosine_residual(short, e, e, -1.0, "vec_id", "neighbor_id",
                              "vec_id", "embedding")
    w2 = Window.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(),
                                              "neighbor_id")
    return (scored.withColumn("_rn", F.row_number().over(w2))
            .filter(F.col("_rn") == 1)
            .select("vec_id", "neighbor_id",
                    F.col("cos_sim").alias("approx_cos"))
            .orderBy("vec_id"))


def _np_topk_pairs(pair, v, ids, shortlist: int):
    """Scored pairs → the per-query top-``shortlist`` pairs under
    (v DESC, neighbor id ASC) after a max-per-pair reduction — the
    numpy twin of the relational bst→window chain (the max is exact and
    the ranking keys are exact copies of the SQL sort keys). ``pair``
    packs (query, member) corpus positions as q·n + x, n = len(ids). A
    pair can score differently through different cells, and _rank_rows
    keeps the first row of a pair only when its rows score equally, so
    the reduction comes first. Returns a pandas frame (vec_id,
    neighbor_id)."""
    n = len(ids)
    order = np.lexsort((-v, pair))
    pair, v = pair[order], v[order]
    first = np.ones(len(pair), dtype=bool)
    first[1:] = pair[1:] != pair[:-1]
    pair, v = pair[first], v[first]
    q_top, x_top, _, _ = _rank_rows(ids[pair // n], ids[pair % n], v,
                                    shortlist)
    return pd.DataFrame({"vec_id": q_top, "neighbor_id": x_top})


def _np_ivfpq_shortlist(ids, mat, coarse, rcents, n_assign, n_probe,
                        shortlist, m, sub_dim):
    """Driver replay of :func:`_det_pq_search`'s compressed-domain
    scan — codes, reconstruction norms, LUTs, probe-bounded
    residual-ADC scoring, best-per-pair, top-``shortlist`` — all exact
    int64 (plus the same one IEEE division per score the relational
    plan does). Returns the shortlist pairs; the exact-cosine rerank
    stays in Spark. Route parity with the relational scan is pinned
    end-to-end in tests."""
    ids = np.asarray(ids, dtype=np.int64)
    n = len(ids)
    cbuckets, csims = _np_cent_sims(mat, coarse)
    corder = np.argsort(-csims, axis=1, kind="stable")
    cmat = _centroid_table(coarse)[1]
    Ws = [_centroid_table(rcents[s])[1] for s in range(m)]
    subs = [slice(s * sub_dim, (s + 1) * sub_dim) for s in range(m)]
    # Per (x, assignment slot): subspace codes + exact reconstruction
    # norm  Σ_j (cell_j + w_j)².
    codes = np.zeros((n, n_assign, m), dtype=np.int64)
    nrm2 = np.zeros((n, n_assign), dtype=np.int64)
    for a in range(n_assign):
        cells_a = corder[:, a]
        rq = mat - cmat[cells_a]
        full = cmat[cells_a].copy()
        for s, sl in enumerate(subs):
            cs = _np_cent_sims(rq[:, sl], rcents[s])[1].argmax(axis=1)
            codes[:, a, s] = cs
            full[:, sl] += Ws[s][cs]
        nrm2[:, a] = np.einsum("ij,ij->i", full, full)
    # Query-side LUTs (n × m × ksub int64 dots) and coarse dots.
    luts = np.stack([mat[:, sl] @ Ws[s].T for s, sl in enumerate(subs)],
                    axis=1)
    cdots = mat @ cmat.T
    # Probe scan, cell by cell: queries probing c × members assigned
    # to c (any slot), rd = Σ_s lut[q, s, code], v = (rd + cdot)/|x̂|.
    probe_cells = corder[:, :n_probe]
    pair_parts, vs_parts = [], []
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
        qp = np.repeat(q_idx, len(x_idx))
        xp = np.tile(x_idx, len(q_idx))
        keep = qp != xp                   # q_id <> x_id (ids are unique)
        pair_parts.append(qp[keep] * n + xp[keep])
        vs_parts.append(v.ravel()[keep])
    if not pair_parts:
        return pd.DataFrame({"vec_id": np.array([], dtype=np.int64),
                             "neighbor_id": np.array([], dtype=np.int64)})
    return _np_topk_pairs(np.concatenate(pair_parts),
                          np.concatenate(vs_parts), ids, shortlist)


def _int_arrays_sql(rows) -> str:
    """A list of int vectors as one array<array<long>> SQL literal."""
    return "array(" + ",".join(
        "array(" + ",".join(f"{v}L" for v in row) + ")"
        for row in rows) + ")"


def _det_pq_search(e: DataFrame, q: DataFrame, got,
                   coarse: dict[int, list[int]], n_assign: int,
                   n_probe: int, m: int, sub_dim: int, ksub: int,
                   r_iters: int, shortlist: int) -> DataFrame:
    """The det IVF-PQ pipeline after the coarse fit: rank each vector's
    ``coarse`` cells, take integer residuals against its ``n_assign``
    nearest cells, fit ``m`` residual codebooks of ``ksub`` codewords
    (``r_iters`` Lloyd rounds, on the top-1 residuals), score every
    (query, member) pair met through the ``n_probe`` probed cells by
    residual ADC — (dot(q, cell) + Σ_sub lut[q, sub, code]) / |x̂| with
    the exact reconstruction norm |x̂|² = Σ_j (cell_j + codeword_j)² —
    keep the best representation per pair, take the top-``shortlist``
    and rerank it by exact cosine. ``q``/``got`` are the quantized frame
    and its :func:`_det_collect_q` result. Flat PQ passes one all-zero
    cell with n_assign = n_probe = 1 (see the module docstring).

    Routes: with ``got`` the residual fits run on the driver, and the
    scan too when the n×n score matrix fits the budget
    (:func:`_np_ivfpq_shortlist`); otherwise the scan is the relational
    wide-fold plan below. Without ``got`` the cell ranking and the
    residual fits are distributed as well. Every route returns the same
    rows (parity-tested)."""
    spark = q.sparkSession
    dim = m * sub_dim
    cbuckets, cmat, _ = _centroid_table(coarse)
    if got is not None:
        ids, mat = got
        top1 = _np_cent_sims(mat, coarse)[1].argmax(axis=1)
        rcents = _det_fit(None, (ids, mat - cmat[top1]), ksub, r_iters,
                          dim, m)
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
    else:
        crk = _ivf_det_rank(q, coarse)
    ccdf = spark.createDataFrame(list(zip(cbuckets, cmat.tolist())),
                                 "cell int, carr array<long>")
    xasg = (crk.filter(F.col("_rn") <= n_assign)
            .select("vec_id", F.col("bucket").alias("cell")))
    rq_all = (xasg.join(q, "vec_id").join(F.broadcast(ccdf), "cell")
              .select("vec_id", "cell",
                      F.zip_with("q", "carr", lambda a, b: a - b)
                      .alias("rq")))
    if got is None:
        # Checkpoint: the m subspace fits each run iters x 2 jobs over
        # these frames — without truncation every one would re-derive
        # the coarse rank window from scratch. (With ``got`` rq_all
        # feeds codes_wide once and needs none.)
        rq_all = rq_all.localCheckpoint(eager=True)
        r1 = (crk.filter(F.col("_rn") == 1)
              .select("vec_id", F.col("bucket").alias("cell"))
              .join(rq_all, ["vec_id", "cell"])
              .select("vec_id", F.col("rq").alias("q"))
              .localCheckpoint(eager=True))
        rcents = _det_fit(r1, None, ksub, r_iters, dim, m)
    probes = (crk.filter(F.col("_rn") <= n_probe)
              .select(F.col("vec_id").alias("q_id"),
                      F.col("bucket").alias("cell")))
    # The relational scan is WIDE, one row per entity (a long-format
    # plan with one row per (x, sub) and per (q, sub, code) shuffled
    # |pairs| × m rows through two aggregation exchanges):
    #   codes_wide: (x_id, cell, codes[m], nrm2) in ONE narrow pass
    #     over rq_all — the m argmax folds (_det_assign_fold_sql,
    #     selection-identical to _ivf_det_rank rn=1) plus the exact
    #     reconstruction norm from literal codebook arrays;
    #   lutw: (q_id, luts[m][ksub]) — one narrow projection;
    #   the probe join then carries ONE row per (q, x, cell) and the
    #   ADC sum is an m-lookup sum — int64 addition is exact and
    #   order-free, so every v is bit-identical to the oracle's.
    W = [_int_arrays_sql(_centroid_table(rcents[s])[1].tolist())
         for s in range(m)]
    CC = _int_arrays_sql(cmat.tolist())
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
    # skinny rows — broadcast them (never let a pair join ship the wide
    # per-query payload through a shuffle; without the hint Catalyst
    # picked a sort-merge join that moved luts once per PAIR row). A
    # serving batch's Q is bounded; at corpus-Q fixture scale this is
    # 2000 × 4 KB ≈ 8 MB. codes_wide stays a hash join on cell — the
    # corpus side is never broadcast.
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
