"""Product quantization (PQ): the embedding-compression ANN path.

Completes the vector-index family next to LSH (queries/vectors.py),
IVF (operators/ivf.py), and graph ANN (operators/ann_graph.py) with
the technique that actually makes 100 TB of embeddings storable and
scannable (Jégou, Douze, Schmid — "Product quantization for nearest
neighbor search", TPAMI 2011; the workhorse inside faiss IndexPQ /
IVFPQ): split each dim-D vector into ``m`` subvectors, k-means each
subspace to ``ksub`` centroids, and store only the m centroid ids —
one byte each at ksub ≤ 256. A dim-64 float32 vector (256 B) becomes
m=8 codes (8 B): 32× less storage AND 32× less scan IO, which at the
100 TB posture is the difference between an exabyte-class problem and
a merely-large one.

Search is ADC (asymmetric distance computation): each query builds an
m × ksub lookup table of subvector inner products ONCE, then any
corpus vector's approximate cosine is m table lookups + adds — no
per-pair float math at all. The scan over codes is embarrassingly
partition-parallel (broadcast LUTs, mapInPandas over the code table),
followed by a relational top-``shortlist`` window and an EXACT rerank
of the shortlist against the true vectors — the standard
shortlist-then-rerank recipe that restores recall lost to
quantization.

Determinism: k-means uses the same bounded hash-sample + seeded-RNG
discipline as operators/ivf.train_centroids (per-subspace seed
offset); encode breaks argmin ties at the lowest centroid id
(np.argmax-on-negated-distance semantics); rerank ties break on
(cos DESC, neighbor id ASC) like every other vector query.

Scale posture: the codebook is m × ksub × dsub floats (8×16×8 = 8 KB
at the registered dials; 256×256 subspace dials are < 2 MB) — always
broadcastable. Query LUTs are Q × m × ksub doubles and are
SIZE-ROUTED on the driver budget (operators/budget.py): under the
budget the whole LUT block is collected + broadcast once (zero
shuffle); above it the LUT rows are computed executor-side in a
``mapInPandas`` and meet code blocks in a cogrouped grid — the driver
never materializes the query set at any Q. Both routes are
byte-identical (float64 LUTs, the same quantized tie-exact selection).
The code table shuffles NOTHING during the broadcast-route scan; only
(query_id, neighbor_id, adc) shortlist rows (Q × shortlist) ever move.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import budget
from .ivf import bounded_sample_matrix
from .knn import _dot_expr


def _train_codebook(mat: np.ndarray, m: int, ksub: int, iters: int,
                    seed: int) -> np.ndarray:
    """Per-subspace Lloyd k-means on a driver-resident sample matrix.
    Deterministic: seeded init per subspace, argmin ties at the lowest
    centroid id, empty clusters re-seeded on DISTINCT worst-covered
    rows (same rule as ivf.train_centroids)."""
    dim = mat.shape[1]
    if dim % m != 0:
        raise ValueError(f"pq codebook: dim {dim} not divisible by m={m}")
    dsub = dim // m
    k = min(ksub, len(mat))
    codebook = np.zeros((m, ksub, dsub), dtype=np.float64)
    for j in range(m):
        sub = mat[:, j * dsub:(j + 1) * dsub]
        rng = np.random.RandomState(seed + j)
        cent = sub[rng.choice(len(sub), size=k, replace=False)].copy()
        for _ in range(iters):
            # Euclidean argmin == argmax(2 x·c - |c|²); ties -> lowest id.
            score = 2.0 * (sub @ cent.T) - (cent * cent).sum(axis=1)
            assign = score.argmax(axis=1)
            worst_first = np.argsort(score.max(axis=1), kind="stable")
            n_empty = 0
            for c in range(k):
                members = sub[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
                else:
                    cent[c] = sub[int(worst_first[n_empty % len(sub)])]
                    n_empty += 1
        codebook[j, :k] = cent
    return codebook


#: ADC scores are quantized to this grid (2^-40 ≈ 9e-13) before ANY
#: ordering decision — kernel-side shortlist truncation AND the
#: relational window both order by the same quantized value, so pairs
#: with exactly-equal code sums tie EVERYWHERE and resolve by neighbor
#: id everywhere. Without this, argpartition's arbitrary tie handling
#: inside a kernel could keep a different member of a tied set than
#: the window's (adc DESC, id ASC) spec — the result would then depend
#: on partitioning/salting (caught by the hot-bucket invariance test).
_ADC_SCALE = float(1 << 40)


def _chunk_topk(c_ids: np.ndarray, kq: np.ndarray, top: int
                ) -> tuple[np.ndarray, np.ndarray]:
    """Per-row top-``top`` by (kq DESC, id ASC) when all rows share the
    same ASCENDING-id candidate axis: pack (kq << 20) - position into
    one int64 key so a single argpartition is tie-exact (smaller
    position == smaller id wins equal kq). Requires chunk width < 2^20
    (callers clamp) and |score| < 4 (true of cosine-family sums)."""
    nq, width = kq.shape
    if width <= top:
        return np.broadcast_to(c_ids, (nq, width)), kq
    key = (kq << 20) - np.arange(width, dtype=np.int64)
    part = np.argpartition(-key, top - 1, axis=1)[:, :top]
    return c_ids[part], np.take_along_axis(kq, part, axis=1)


def _merge_topk(ids_m: np.ndarray, kq_m: np.ndarray, top: int
                ) -> tuple[np.ndarray, np.ndarray]:
    """Per-row top-``top`` by (kq DESC, id ASC) for per-row id arrays
    (chunk-block merges): id-ascending pre-sort, then a stable sort on
    -kq — stability resolves equal kq to the smaller id."""
    if ids_m.shape[1] > top:
        o = np.argsort(ids_m, axis=1, kind="stable")
        ids_m = np.take_along_axis(ids_m, o, axis=1)
        kq_m = np.take_along_axis(kq_m, o, axis=1)
        o2 = np.argsort(-kq_m, axis=1, kind="stable")[:, :top]
        ids_m = np.take_along_axis(ids_m, o2, axis=1)
        kq_m = np.take_along_axis(kq_m, o2, axis=1)
    return ids_m, kq_m


def _unpack_codes(col: pd.Series, m: int) -> np.ndarray:
    """byte-packed code column → int64 [n, m] matrix (one frombuffer
    over the concatenated bytes; no per-row Python loop)."""
    if len(col) == 0:
        return np.empty((0, m), dtype=np.int64)
    return (np.frombuffer(b"".join(col.tolist()), dtype=np.uint8)
            .reshape(-1, m).astype(np.int64))


def pq_train(emb: DataFrame, m: int = 8, ksub: int = 16,
             sample_rows: int = 100_000, iters: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding",
             seed: int = 42,
             sample_mat: np.ndarray | None = None) -> np.ndarray:
    """Train the PQ codebook: per-subspace Lloyd k-means over a
    bounded, deterministic hash-sample (same sampling contract as
    train_centroids — the driver holds ≤ sample_rows × dim float64).
    Returns codebook [m, ksub, dsub] over L2-NORMALIZED vectors, so
    summed subspace inner products approximate full-vector cosine.
    ``sample_mat`` (a precollected bounded sample) skips the count +
    collect passes — see train_centroids for the fusion contract."""
    mat = (sample_mat if sample_mat is not None
           else bounded_sample_matrix(emb, sample_rows, id_col, vec_col))
    return _train_codebook(mat, m, ksub, iters, seed)


def pq_encode(emb: DataFrame, codebook: np.ndarray,
              id_col: str = "vec_id", vec_col: str = "embedding"
              ) -> DataFrame:
    """Quantize the corpus: (id, codes binary) — m centroid ids PACKED
    one byte each (requires ksub ≤ 256), the 32×-smaller representation
    the ADC scan reads instead of the raw embeddings. Binary packing is
    the difference between nominal and REAL compression: an array<int>
    layout spends 4 B + list overhead per 1-byte code and parquet
    stores residual-ADC codes near their ~log2(ksub)-bit entropy only
    when they arrive as raw bytes (measured on the 1.1M corpus —
    SCALING.md round 7). One broadcast + one Arrow-batched matmul per
    subspace; zero shuffle."""
    if codebook.shape[1] > 256:
        raise ValueError("pq_encode: byte-packed codes need ksub <= 256")
    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast(codebook)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cb = bc.value
        m, _ksub, dsub = cb.shape
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            norms = np.linalg.norm(v, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            v = v / norms
            codes = np.empty((len(v), m), dtype=np.uint8)
            for j in range(m):
                sub = v[:, j * dsub:(j + 1) * dsub]
                score = 2.0 * (sub @ cb[j].T) - (cb[j] * cb[j]).sum(axis=1)
                codes[:, j] = score.argmax(axis=1)
            yield pd.DataFrame({id_col: ids,
                                "codes": [r.tobytes() for r in codes]})

    return emb.select(id_col, vec_col).mapInPandas(
        encode, f"{id_col} long, codes binary")


#: Code rows per cogroup block on the blocked route: applyInPandas
#: materializes one (query-block × code-block) group per task, so this
#: bounds the per-task code residency (~(8 + m) bytes/row packed;
#: 4M rows × m=8 ≈ 64 MB as pandas). The in-kernel scoring is further
#: chunked (see the 32M-cell gather cap), so this only sizes the
#: group materialization, not the score buffer.
CODE_BLOCK_ROWS = 4_000_000


def pq_search(codes: DataFrame, base: DataFrame, queries: DataFrame,
              codebook: np.ndarray, k: int = 1, shortlist: int = 32,
              id_col: str = "vec_id", vec_col: str = "embedding",
              exclude_self: bool = False) -> DataFrame:
    """ADC scan + exact rerank: queries build m × ksub inner-product
    LUTs once, every code row is scored by m table lookups (no float
    math per pair), a window keeps the top-``shortlist`` candidates per
    query, and the shortlist alone is rescored EXACTLY against the true
    vectors. Returns (query_id, neighbor_id, cos_sim, rank) — cos_sim
    is the exact rerank cosine, so output precision matches the other
    vector queries; quantization only affects which candidates reach
    the rerank (measured as recall, pinned in tests).

    The query side is size-routed on the driver budget: a query batch
    whose collected matrix (nq × dim float64) + LUT broadcast
    (nq × m × ksub float64) fit the budget takes the zero-shuffle
    broadcast route; a larger batch (e.g. corpus-as-queries at the
    1e9-vector posture) computes LUT rows executor-side and scores them
    against hash-blocked code groups in a cogrouped grid — no driver
    collect of anything query-sized, per-task residency bounded by the
    budget (query blocks) and ``CODE_BLOCK_ROWS`` (code blocks). Both
    routes produce byte-identical rows: LUTs are float64 on both,
    per-pair ADC sums are the same gather+sum, and every truncation is
    tie-exact by (quantized score DESC, id ASC) — block-level tops are
    supersets of the global top the final window extracts
    (route-equivalence pinned in tests with a collect-forbidding
    monkeypatch)."""
    spark = codes.sparkSession
    m, ksub, dsub = codebook.shape
    dim = m * dsub
    nq = queries.count()
    if nq == 0:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cos_sim double, rank int")
    if budget.fits_driver(nq * (m * ksub * 8 + dim * 8)):
        scored = _adc_scan_broadcast(codes, queries, codebook, shortlist,
                                     id_col, vec_col, exclude_self)
    else:
        scored = _adc_scan_blocked(codes, queries, codebook, shortlist,
                                   id_col, vec_col, exclude_self, nq)
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    w_short = Window.partitionBy("query_id").orderBy(
        F.col("_adc").desc(), F.col("neighbor_id"))
    short = (scored.withColumn("_rn", F.row_number().over(w_short))
             .filter(F.col("_rn") <= shortlist)
             .select("query_id", "neighbor_id"))
    return _exact_rerank(short, base, queries, k, id_col, vec_col)


def _adc_scan_broadcast(codes: DataFrame, queries: DataFrame,
                        codebook: np.ndarray, shortlist: int,
                        id_col: str, vec_col: str,
                        exclude_self: bool) -> DataFrame:
    """Under-budget ADC scan: collect + broadcast the full query LUT
    block, mapInPandas over the code table (zero shuffle); emits
    per-partition top-``shortlist`` candidate rows."""
    spark = codes.sparkSession
    qpdf = (queries.select(F.col(id_col).alias("query_id"), vec_col)
            .toPandas())
    qids = qpdf["query_id"].to_numpy()
    qv = np.array(qpdf[vec_col].tolist(), dtype=np.float64)
    qn = np.linalg.norm(qv, axis=1, keepdims=True)
    qn[qn == 0] = 1.0
    qv = qv / qn
    m, ksub, dsub = codebook.shape
    # LUT[q, j, c] = q_sub_j · centroid_jc ; summed over j it is the
    # ADC approximation of cos(q, x) for any code row x.
    lut = np.einsum("qjd,jcd->qjc",
                    qv.reshape(len(qv), m, dsub), codebook)
    bc = spark.sparkContext.broadcast((qids, lut.reshape(len(qv), m * ksub)))
    offsets = (np.arange(m) * ksub).astype(np.int64)
    # Gather-buffer cap: the scoring intermediate is Q × chunk × m
    # float64 cells; unchunked it scales with the Arrow batch size and
    # at 10k-row batches × 2000 queries × m=8 would be a 1.3 GB buffer
    # PER TASK (the exact failure mode the 1.1M kNN run exposed in
    # round 6 — see operators/knn.py). 32M cells ≈ 256 MB.
    max_cells = 32_000_000

    def adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_ids, lutr = bc.value
        nq = len(q_ids)
        top = min(shortlist, 10_000)
        chunk = min(max(1, max_cells // max(1, nq * m)), (1 << 20) - 1)
        # Per-PARTITION running top-`top`: chunks contribute candidate
        # (id, kq) blocks; one merge at iterator end emits Q × top
        # rows per partition total — the relational window that follows
        # sees n_partitions × Q × top rows, independent of corpus size.
        # All selection is tie-exact by (quantized score DESC, id ASC),
        # matching the window spec (see _ADC_SCALE).
        cand_ids: list[np.ndarray] = []
        cand_kq: list[np.ndarray] = []
        for pdf in batches:
            c_ids_all = pdf[id_col].to_numpy()
            cd_all = _unpack_codes(pdf["codes"], m) + offsets
            # Ascending-id candidate axis: _chunk_topk's positional
            # tiebreak then IS the id tiebreak.
            o = np.argsort(c_ids_all, kind="stable")
            c_ids_all, cd_all = c_ids_all[o], cd_all[o]
            for s in range(0, len(c_ids_all), chunk):
                c_ids = c_ids_all[s:s + chunk]
                cd = cd_all[s:s + chunk]
                # scores[q, i] = Σ_j lutr[q, cd[i, j]] — gather + sum.
                kq = np.round(lutr[:, cd].sum(axis=2)
                              * _ADC_SCALE).astype(np.int64)
                if exclude_self:
                    # Mask BEFORE truncation (like knn._chunked_topk_
                    # rows): a self-pair holding a shortlist slot and
                    # dying in the later filter would silently shrink
                    # this kernel's contribution to top-(top-1) — and
                    # make results depend on which shard the self-pair
                    # landed in.
                    kq[q_ids[:, None] == c_ids[None, :]] = -(1 << 41)
                ids_c, kq_c = _chunk_topk(c_ids, kq, top)
                cand_ids.append(ids_c)
                cand_kq.append(kq_c)
        if not cand_ids:
            return
        ids_m = np.concatenate(cand_ids, axis=1)      # [Q, Σ chunk tops]
        kq_m = np.concatenate(cand_kq, axis=1)
        ids_m, kq_m = _merge_topk(ids_m, kq_m, top)
        width = ids_m.shape[1]
        yield pd.DataFrame({"query_id": np.repeat(q_ids, width),
                            "neighbor_id": ids_m.reshape(-1),
                            "_adc": kq_m.reshape(-1) / _ADC_SCALE})

    return codes.mapInPandas(
        adc, "query_id long, neighbor_id long, _adc double")


def _adc_scan_blocked(codes: DataFrame, queries: DataFrame,
                      codebook: np.ndarray, shortlist: int,
                      id_col: str, vec_col: str, exclude_self: bool,
                      nq: int) -> DataFrame:
    """Over-budget ADC scan: LUT rows are computed executor-side
    (mapInPandas — only the tiny codebook broadcasts) and meet the code
    table in a (query-block × code-block) cogrouped grid, the same
    two-sided blocked shape as knn.cosine_pairs_twosided / the ivfpq
    bucket cogroup. Zero driver collects of query- or corpus-sized
    data; per-task residency ≤ one query block's float64 LUTs
    (≤ the driver budget) + one code block (≤ CODE_BLOCK_ROWS rows).
    Shuffle: LUT rows replicate ×n_code_blocks and code rows
    ×n_query_blocks — the price of a flat full scan at a Q that
    doesn't fit anywhere whole. Emits per-(block-pair)
    top-``shortlist`` rows; every (query, code) pair is scored exactly
    once (each side lives in exactly one block), so the caller's
    global window needs no dedup."""
    spark = codes.sparkSession
    m, ksub, dsub = codebook.shape
    bc = spark.sparkContext.broadcast(codebook)
    offsets = (np.arange(m) * ksub).astype(np.int64)
    # Block counts: query blocks sized so one block's LUTs fit the same
    # budget the broadcast route enforces (at most one block per query,
    # which is what a zero budget runs); code blocks by row count.
    # The count on `codes` is one scan of the (32×-compressed) code
    # table — metadata-cheap when the index is a persisted parquet
    # layout, which is the over-budget serving posture.
    n_codes = codes.count()
    qb_n = max(2, min(nq, -(-(nq * m * ksub * 8)
                          // max(1, budget.DRIVER_BUDGET_BYTES))))
    cb_n = max(1, -(-n_codes // CODE_BLOCK_ROWS))
    # Parallelism floor (same rationale as knn.route_exact_plan): the
    # grid should yield at least ~defaultParallelism tasks.
    par = spark.sparkContext.defaultParallelism
    if qb_n * cb_n < par:
        cb_n = -(-par // qb_n)

    def mk_lut(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            norms = np.linalg.norm(v, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            v = v / norms
            # Ship the normalized query vector, not the m x ksub LUT:
            # the LUT is 8x wider at the default dials AND replicates
            # x n_code_blocks onto the grid — block_adc recomputes it
            # per block in float64 (NOT float32 like ivfpq's probe
            # rows), byte-identical to the broadcast route's einsum
            # (the route-equivalence test relies on it).
            yield pd.DataFrame({"query_id": ids, "_qv": list(v)})

    lut_rows = queries.select(id_col, vec_col).mapInPandas(
        mk_lut, "query_id long, _qv array<double>")
    q_side = (lut_rows
              .withColumn("_qb", F.pmod(F.xxhash64("query_id"),
                                        F.lit(qb_n)).cast("int"))
              .withColumn("_cb", F.explode(F.sequence(
                  F.lit(0), F.lit(int(cb_n) - 1)))))
    c_side = (codes
              .withColumn("_cb", F.pmod(F.xxhash64(id_col),
                                        F.lit(int(cb_n))).cast("int"))
              .withColumn("_qb", F.explode(F.sequence(
                  F.lit(0), F.lit(int(qb_n) - 1)))))

    def block_adc(q_pdf: pd.DataFrame, c_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(q_pdf) == 0 or len(c_pdf) == 0:
            return pd.DataFrame({
                "query_id": pd.Series(dtype=np.int64),
                "neighbor_id": pd.Series(dtype=np.int64),
                "_adc": pd.Series(dtype=np.float64)})
        q_ids = q_pdf["query_id"].to_numpy()
        qv = np.array(q_pdf["_qv"].tolist(), dtype=np.float64)
        lutr = np.einsum("qjd,jcd->qjc", qv.reshape(len(qv), m, dsub),
                         bc.value).reshape(len(qv), m * ksub)
        c_ids = c_pdf[id_col].to_numpy()
        cd = _unpack_codes(c_pdf["codes"], m) + offsets
        # Ascending-id candidate axis for tie-exact selection (see
        # _ADC_SCALE / _chunk_topk).
        o = np.argsort(c_ids, kind="stable")
        c_ids, cd = c_ids[o], cd[o]
        top = min(shortlist, 10_000)
        # Same 32M-cell gather cap as the broadcast kernel.
        chunk = min(max(1, 32_000_000 // max(1, len(q_ids) * m)),
                    (1 << 20) - 1)
        best_ids: list[np.ndarray] = []
        best_kq: list[np.ndarray] = []
        for s in range(0, len(c_ids), chunk):
            kq = np.round(lutr[:, cd[s:s + chunk]].sum(axis=2)
                          * _ADC_SCALE).astype(np.int64)
            if exclude_self:
                # Pre-truncation self-mask — same reasoning as the
                # broadcast kernel: a self-pair must not hold a
                # shortlist slot in only SOME block assignments.
                kq[q_ids[:, None] == c_ids[s:s + chunk][None, :]] \
                    = -(1 << 41)
            ids_c, kq_c = _chunk_topk(c_ids[s:s + chunk], kq, top)
            best_ids.append(ids_c)
            best_kq.append(kq_c)
        ids_m = np.concatenate(best_ids, axis=1)
        kq_m = np.concatenate(best_kq, axis=1)
        ids_m, kq_m = _merge_topk(ids_m, kq_m, top)
        return pd.DataFrame({
            "query_id": np.repeat(q_ids, ids_m.shape[1]),
            "neighbor_id": ids_m.reshape(-1),
            "_adc": kq_m.reshape(-1) / _ADC_SCALE})

    return (q_side.groupBy("_qb", "_cb")
            .cogroup(c_side.groupBy("_qb", "_cb"))
            .applyInPandas(lambda ql, cl: block_adc(ql, cl),
                           "query_id long, neighbor_id long, _adc double"))


def _exact_rerank(short: DataFrame, base: DataFrame, queries: DataFrame,
                  k: int, id_col: str, vec_col: str) -> DataFrame:
    """Exact rerank of a (query_id, neighbor_id) shortlist: re-attach
    true vectors (the ONLY touch of raw embeddings in a quantized
    search — Q × shortlist rows), exact float64 cosine, top-k window
    with (cos DESC, id ASC) ties."""
    # Normalize with an Arrow-batched kernel, NOT the HOF expression
    # F.transform(x -> x / sqrt(F.aggregate(...))): Catalyst evaluates
    # the embedded aggregate lambda PER ELEMENT, so a dim-64 row paid
    # 64 redundant norm computations — measured 1.3 s of single-task
    # JVM CPU per serve at sf0.1 (round-11 serve root-cause). The
    # pandas path is one vectorized pass over each side's rows; the
    # sides are |Q| and |base| rows (never |Q| x shortlist), so the
    # Arrow payload stays a corpus scan, not a pair blow-up.
    def _normalize(col_alias: str):
        def norm_rows(batches: Iterator[pd.DataFrame]
                      ) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if not len(pdf):
                    continue
                v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                n = np.linalg.norm(v, axis=1, keepdims=True)
                n[n == 0] = 1.0
                yield pd.DataFrame({"_id": pdf[id_col].to_numpy(),
                                    col_alias: list(v / n)})
        return norm_rows

    bnorm = (base.select(id_col, vec_col)
             .mapInPandas(_normalize("_bv"),
                          "_id long, _bv array<double>")
             .withColumnRenamed("_id", "neighbor_id"))
    qdf = (queries.select(id_col, vec_col)
           .mapInPandas(_normalize("_qv"),
                        "_id long, _qv array<double>")
           .withColumnRenamed("_id", "query_id"))
    w_k = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("neighbor_id"))
    return (short.join(qdf, "query_id").join(bnorm, "neighbor_id")
            .select("query_id", "neighbor_id",
                    _dot_expr(F.col("_qv"), F.col("_bv")).alias("_cos"))
            .withColumn("_rn", F.row_number().over(w_k))
            .filter(F.col("_rn") <= k)
            .select("query_id", "neighbor_id",
                    F.round("_cos", 6).alias("cos_sim"),
                    F.col("_rn").cast("int").alias("rank")))


def ivfpq_train(emb: DataFrame, centroids: np.ndarray, m: int = 8,
                ksub: int = 64, sample_rows: int = 100_000,
                iters: int = 10, id_col: str = "vec_id",
                vec_col: str = "embedding", seed: int = 42,
                sample_mat: np.ndarray | None = None) -> np.ndarray:
    """Train the RESIDUAL codebook for IVF-PQ: the sample is assigned
    to its nearest coarse centroid and the per-subspace k-means runs on
    x - centroid[bucket] — residuals are much more compressible than
    raw vectors (their spread is the within-cell spread, not the whole
    space), which is why faiss IVFPQ encodes residuals too.
    ``sample_mat`` (a precollected bounded sample) skips the count +
    collect passes — IVF-PQ's caller already collected the SAME sample
    to train the coarse centroids, so passing it here removes two full
    corpus passes per index build."""
    mat = (sample_mat if sample_mat is not None
           else bounded_sample_matrix(emb, sample_rows, id_col, vec_col))
    assign = (mat @ centroids.T).argmax(axis=1)
    return _train_codebook(mat - centroids[assign], m, ksub, iters, seed)


def ivfpq_encode(emb: DataFrame, centroids: np.ndarray,
                 codebook: np.ndarray, n_assign: int = 1,
                 id_col: str = "vec_id", vec_col: str = "embedding"
                 ) -> DataFrame:
    """Quantize the corpus for IVF-PQ: (id, bucket, codes) — the coarse
    cell id plus m residual-codebook ids. Write this
    ``partitionBy("bucket")`` and the probe bound becomes directory
    pruning exactly like the IVF-Flat index, at 1/32 the bytes.
    ``n_assign > 1`` replicates each vector into its n nearest cells
    (the recall lever the IVF-Flat index uses too — a vector near a
    cell boundary is findable from both sides); each replica's residual
    and codes are relative to ITS OWN cell's centroid, so the ADC
    decomposition q·cent_b + q·r̂ stays exact per replica. Codes are
    byte-packed (binary, m bytes — see pq_encode on why that is the
    real compression). One broadcast + two matmuls per Arrow batch,
    zero shuffle."""
    if codebook.shape[1] > 256:
        raise ValueError("ivfpq_encode: byte-packed codes need ksub <= 256")
    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast((centroids, codebook))

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cent, cb = bc.value
        m, _ksub, dsub = cb.shape
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            norms = np.linalg.norm(v, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            v = v / norms
            sims = v @ cent.T
            na = min(n_assign, cent.shape[0])
            buckets = (sims.argmax(axis=1)[:, None] if na == 1
                       else np.argsort(-sims, axis=1)[:, :na])
            rep_ids = np.repeat(ids, na)
            rep_buckets = buckets.reshape(-1)
            resid = np.repeat(v, na, axis=0) - cent[rep_buckets]
            codes = np.empty((len(resid), m), dtype=np.uint8)
            for j in range(m):
                sub = resid[:, j * dsub:(j + 1) * dsub]
                score = 2.0 * (sub @ cb[j].T) - (cb[j] * cb[j]).sum(axis=1)
                codes[:, j] = score.argmax(axis=1)
            yield pd.DataFrame({id_col: rep_ids,
                                "bucket": rep_buckets.astype(np.int32),
                                "codes": [r.tobytes() for r in codes]})

    return emb.select(id_col, vec_col).mapInPandas(
        encode, f"{id_col} long, bucket int, codes binary")


def ivfpq_search(codes: DataFrame, base: DataFrame, queries: DataFrame,
                 centroids: np.ndarray, codebook: np.ndarray,
                 n_probe: int = 8, k: int = 1, shortlist: int = 32,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 exclude_self: bool = False,
                 split_hot_buckets: bool = False,
                 hot_bucket_rows: int = 250_000,
                 prune_buckets: bool = False) -> DataFrame:
    """The combined 100 TB index: IVF probe pruning × PQ code
    compression (faiss IVFPQ as a DataFrame pipeline). Each query meets
    only its ``n_probe`` buckets' CODE rows — scan fraction ~n_probe /
    n_cells of a table that is already ~32× smaller than the raw
    embeddings — and scoring inside a bucket is residual-ADC:
    cos(q, x) ≈ q·centroid[b] (per probed pair, exact) + Σ_j
    LUT[q, j, code_j] (m table lookups). The per-query shortlist then
    pays the exact rerank, restoring output precision.

    Plan shape: probe assignment is one Arrow matmul over the queries;
    the bucket-local ADC is a cogroup on bucket (co-partitioned with a
    partitionBy("bucket") layout — no wide shuffle of codes); only
    (query, neighbor) shortlist rows reach the global window.

    SKEW: k-means cells on real corpora are heavily imbalanced (a hot
    cell can hold 10-100× the mean), and a cogroup task processes one
    whole key — a hot cell is one straggler doing |cell| × its-probes
    work while 999 tasks idle. ``split_hot_buckets`` salts any bucket
    whose code-row count exceeds ``hot_bucket_rows`` into
    ceil(count/hot_bucket_rows) sub-keys (codes side: hash-of-id salt;
    probe side: replicated across the salts), so the per-task bound is
    hot_bucket_rows regardless of cell skew. Costs one bounded
    count-by-bucket pass (≤ n_cells rows to the driver) + probe-row
    replication on the hot cells only. With n_assign=1 indexes the
    result is EXACTLY invariant (each pair is scored once with one
    value; shard-level top-shortlists are supersets of bucket-level
    ones, and both contain the true global ADC top-shortlist the
    window extracts). With multi-assignment replicas the marginal
    shortlist tail can differ: per-bucket truncation may drop one
    replica of a pair that the finer shard truncation keeps, changing
    that pair's max-ADC — recall-neutral-or-better (strictly more
    candidates survive to the exact rerank), but not byte-identical;
    the invariance test pins the n_assign=1 contract."""
    spark = codes.sparkSession
    m, ksub, dsub = codebook.shape
    bc = spark.sparkContext.broadcast((centroids, codebook))

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cent, cb = bc.value
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            norms = np.linalg.norm(v, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            v = v / norms
            sims = v @ cent.T
            probes = np.argsort(-sims, axis=1)[:, :n_probe]
            reps = probes.shape[1]
            # Ship the NORMALIZED query vector (dim doubles), not the
            # m x ksub LUT: the LUT is 8x wider (512 float32 vs 64
            # float64 at the default dials) and building the
            # object-array LUT column dominated the probe task's wall
            # (measured 3.7 s of a 8 s sf0.1 serve, 27 MB shuffle —
            # round-11 serve root-cause). bucket_adc recomputes the
            # LUT per probed row from _qv with the IDENTICAL float32
            # rounding (einsum -> float32 -> float64), so scores are
            # bit-for-bit what the shipped-LUT plan produced.
            yield pd.DataFrame({
                "query_id": np.repeat(ids, reps),
                "bucket": probes.reshape(-1).astype(np.int32),
                "_off": np.take_along_axis(sims, probes, axis=1)
                          .reshape(-1),
                "_qv": list(np.repeat(v, reps, axis=0)),
            })

    probed = queries.select(id_col, vec_col).mapInPandas(
        probe, "query_id long, bucket int, _off double, _qv array<double>")
    offsets = (np.arange(m) * ksub).astype(np.int64)

    if prune_buckets:
        # Same opt-in (and same EAGER-job caveat) as ivf_search's
        # pruning: the distinct probed cell ids (≤ |Q| × n_probe ints,
        # driver-bounded) become an isin filter a partitionBy("bucket")
        # code layout turns into directory pruning — a serving batch
        # reads ~|Q| × n_probe / n_cells of the code table instead of
        # scanning-and-dropping every unprobed cell as an empty
        # cogroup. Opt-in because constructing the result then runs a
        # probe job at call time.
        probed = probed.localCheckpoint(eager=True)   # probe once
        bucket_ids = [int(r["bucket"]) for r in
                      probed.select("bucket").distinct().collect()]
        codes = codes.filter(F.col("bucket").isin(bucket_ids))

    group_keys = ["bucket"]
    if split_hot_buckets:
        # Bounded driver collect: one row per NON-EMPTY cell (≤ n_cells).
        sizes = {r["bucket"]: r["n"] for r in
                 codes.groupBy("bucket")
                 .agg(F.count(F.lit(1)).alias("n")).collect()}
        splits = {b: -(-n // hot_bucket_rows) for b, n in sizes.items()
                  if n > hot_bucket_rows}
        if splits:
            splits_df = F.broadcast(spark.createDataFrame(
                [(b, s) for b, s in sorted(splits.items())],
                "bucket int, _ns int"))
            # Codes side: deterministic hash-of-id salt in [0, _ns).
            codes = (codes.join(splits_df, "bucket", "left")
                     .withColumn("_salt",
                                 F.when(F.col("_ns").isNull(), F.lit(0))
                                 .otherwise(F.pmod(F.xxhash64(id_col),
                                                   F.col("_ns"))
                                            .cast("int")))
                     .drop("_ns"))
            # Probe side: replicate each probed (query, hot bucket) row
            # across that bucket's salts; cold buckets keep salt 0.
            probed = (probed.join(splits_df, "bucket", "left")
                      .withColumn(
                          "_salt",
                          F.explode(F.sequence(
                              F.lit(0),
                              F.coalesce(F.col("_ns"), F.lit(1)) - 1)))
                      .withColumn("_salt", F.col("_salt").cast("int"))
                      .drop("_ns"))
            group_keys = ["bucket", "_salt"]

    def bucket_adc(q_pdf: pd.DataFrame, c_pdf: pd.DataFrame) -> pd.DataFrame:
        cols = ["query_id", "neighbor_id", "_adc"]
        if len(q_pdf) == 0 or len(c_pdf) == 0:
            return pd.DataFrame(columns=cols)
        c_ids = c_pdf[id_col].to_numpy()
        cd = _unpack_codes(c_pdf["codes"], m) + offsets
        # Ascending-id candidate axis for tie-exact selection (see
        # _ADC_SCALE / _chunk_topk).
        o = np.argsort(c_ids, kind="stable")
        c_ids, cd = c_ids[o], cd[o]
        q_ids = q_pdf["query_id"].to_numpy()
        off = q_pdf["_off"].to_numpy()
        # LUT[j, c] = q_sub_j · codebook[j, c], recomputed here from
        # the normalized query vector. The float32 round-trip
        # reproduces the shipped-LUT encoding exactly (the wire
        # format was array<float>), so ADC scores are unchanged.
        _, cbk = bc.value
        qv = np.array(q_pdf["_qv"].tolist(), dtype=np.float64)
        lut = (np.einsum("qjd,jcd->qjc", qv.reshape(len(qv), m, dsub),
                         cbk)
               .reshape(len(qv), m * ksub)
               .astype(np.float32).astype(np.float64))
        # Same gather-buffer cap as the flat-ADC kernel: a skewed cell
        # (or a hot serving bucket) must not materialize Q × |cell| × m
        # at once; chunk the cell and keep a running per-query top.
        chunk = min(max(1, 32_000_000 // max(1, len(q_ids) * m)),
                    (1 << 20) - 1)
        top = min(shortlist, 10_000)
        best_ids: list[np.ndarray] = []
        best_kq: list[np.ndarray] = []
        for s in range(0, len(c_ids), chunk):
            # scores[q, i] = q·cent[b] + Σ_j LUT[q, cd[i, j]]
            kq = np.round((off[:, None] + lut[:, cd[s:s + chunk]]
                           .sum(axis=2)) * _ADC_SCALE).astype(np.int64)
            if exclude_self:
                # Same pre-truncation self-mask as the flat kernel —
                # without it the result depends on which shard the
                # self-pair lands in (see that comment).
                kq[q_ids[:, None] == c_ids[s:s + chunk][None, :]] \
                    = -(1 << 41)
            ids_c, kq_c = _chunk_topk(c_ids[s:s + chunk], kq, top)
            best_ids.append(ids_c)
            best_kq.append(kq_c)
        ids_m = np.concatenate(best_ids, axis=1)
        kq_m = np.concatenate(best_kq, axis=1)
        ids_m, kq_m = _merge_topk(ids_m, kq_m, top)
        sc_m = kq_m / _ADC_SCALE
        return pd.DataFrame({
            "query_id": np.repeat(q_ids, ids_m.shape[1]),
            "neighbor_id": ids_m.reshape(-1),
            "_adc": sc_m.reshape(-1)})

    local = (probed.groupBy(*group_keys)
             .cogroup(codes.groupBy(*group_keys))
             .applyInPandas(lambda ql, cl: bucket_adc(ql, cl),
                            "query_id long, neighbor_id long, _adc double"))
    if exclude_self:
        local = local.filter(F.col("query_id") != F.col("neighbor_id"))
    # Multi-assignment replicas surface the same (query, neighbor) from
    # several probed cells with different residual-ADC scores (each
    # replica quantizes against its own centroid); keep the best.
    local = (local.groupBy("query_id", "neighbor_id")
             .agg(F.max("_adc").alias("_adc")))
    w_short = Window.partitionBy("query_id").orderBy(
        F.col("_adc").desc(), F.col("neighbor_id"))
    short = (local.withColumn("_rn", F.row_number().over(w_short))
             .filter(F.col("_rn") <= shortlist)
             .select("query_id", "neighbor_id"))
    return _exact_rerank(short, base, queries, k, id_col, vec_col)
