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
m × ksub lookup table of subvector inner products ONCE (``_lut``), then
any corpus vector's approximate cosine is m table lookups + adds — no
per-pair float math at all. One kernel, ``_adc_top``, scores every
route: flat PQ's broadcast scan (per Arrow batch), its blocked cogroup
grid and IVF-PQ's bucket cogroup (which adds the q·centroid offset).
A relational top-``shortlist`` window follows, then an EXACT rerank of
the shortlist against the true vectors — the standard
shortlist-then-rerank recipe that restores recall lost to
quantization.

Flat PQ is IVF-PQ with one zero cell: ``pq_train`` and ``pq_encode``
call ``ivfpq_train`` / ``ivfpq_encode`` with ``centroids`` = one zero
row, where every residual is the vector itself (codebook and codes are
bit-identical to a separate flat trainer). All-zero vectors have no
cosine and get no rows on any route (``knn.unit_rows``).

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
shuffle); above it unit query rows are computed executor-side in a
``mapInPandas`` and meet code blocks in a cogrouped grid — the driver
never materializes the query set at any Q. Both routes are
byte-identical (float64 LUTs, the same quantized tie-exact selection).
The code table shuffles NOTHING during the broadcast-route scan; only
(query_id, neighbor_id, adc) shortlist rows (Q × shortlist) ever move.
IVF-PQ has no bucket-pruning or hot-cell salting option: it reads
every cell and scores each cell in one cogroup task.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import budget
from .ivf import bounded_sample_matrix
from .knn import _collect_matrix, _dot_expr, unit_rows


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
#: on partitioning (pinned by the route/partition tests).
_ADC_SCALE = float(1 << 40)


def _chunk_topk(c_ids: np.ndarray, kq: np.ndarray, top: int
                ) -> tuple[np.ndarray, np.ndarray]:
    """Per-row top-``top`` by (kq DESC, id ASC) when all rows share the
    same ASCENDING-id candidate axis: pack (kq << 20) - position into
    one int64 key so a single argpartition is tie-exact (smaller
    position == smaller id wins equal kq). Requires chunk width < 2^20
    (``_adc_top`` clamps) and |score| < 4 (true of cosine-family sums)."""
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
    This is :func:`ivfpq_train` with one zero cell: every residual is
    the vector itself. ``sample_mat`` (a precollected bounded sample)
    skips the count + collect passes — see train_centroids for the
    fusion contract."""
    mat = (sample_mat if sample_mat is not None
           else bounded_sample_matrix(emb, sample_rows, id_col, vec_col))
    return ivfpq_train(emb, np.zeros((1, mat.shape[1])), m, ksub,
                       sample_rows, iters, id_col, vec_col, seed,
                       sample_mat=mat)


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
    SCALING.md round 7). This is :func:`ivfpq_encode` with one zero
    cell, minus its bucket column; zero shuffle."""
    m, _ksub, dsub = codebook.shape
    return ivfpq_encode(emb, np.zeros((1, m * dsub)), codebook,
                        id_col=id_col, vec_col=vec_col).drop("bucket")


def _lut(qv: np.ndarray, codebook: np.ndarray) -> np.ndarray:
    """Query LUTs [nq, m·ksub] from unit query rows: LUT[q, j·ksub + c]
    = q_sub_j · codebook[j, c]. Summed over j it is the ADC
    approximation of cos(q, x) for any code row x."""
    m, ksub, dsub = codebook.shape
    return np.einsum("qjd,jcd->qjc", qv.reshape(len(qv), m, dsub),
                     codebook).reshape(len(qv), m * ksub)


def _adc_top(q_ids: np.ndarray, lut: np.ndarray, c_ids: np.ndarray,
             codes: pd.Series, m: int, ksub: int, top: int,
             exclude_self: bool, off: np.ndarray | None = None
             ) -> tuple[np.ndarray, np.ndarray]:
    """The one ADC scan kernel: every query row against every packed
    code row, score[q, i] = off[q] + Σ_j lut[q, j·ksub + code_ij]
    (``off`` is IVF-PQ's q·centroid term; flat PQ has none), quantized
    to the ``_ADC_SCALE`` grid. Returns the per-query top-``top``
    (ids, quantized scores) by (score DESC, id ASC), the order every
    later window uses, so the top of any split of the codes merges into
    the top of the whole (``_merge_topk``).

    Candidates are sorted by id (``_chunk_topk``'s positional
    tie-break then IS the id tie-break) and scored in chunks: the
    gather intermediate is nq × chunk × m cells, capped at 32M
    (≈ 256 MB) — unchunked, a 10k-row Arrow batch × 2,000 queries × m=8
    would be a 1.3 GB buffer per task (the failure mode the 1.1M kNN
    run exposed in round 6, see operators/knn.py). With
    ``exclude_self`` the self-pair is masked BEFORE truncation (like
    knn._chunked_topk_rows): a self-pair holding a slot and dying in
    the later filter would shrink this call's top to top-1 and make
    results depend on where the self-pair landed."""
    o = np.argsort(c_ids, kind="stable")
    c_ids = c_ids[o]
    cd = (_unpack_codes(codes, m) + np.arange(m) * ksub)[o]
    chunk = min(max(1, 32_000_000 // max(1, len(q_ids) * m)),
                (1 << 20) - 1)
    ids_l = [np.empty((len(q_ids), 0), dtype=np.int64)]
    kq_l = [np.empty((len(q_ids), 0), dtype=np.int64)]
    for s in range(0, len(c_ids), chunk):
        score = lut[:, cd[s:s + chunk]].sum(axis=2)
        if off is not None:
            score = off[:, None] + score
        kq = np.round(score * _ADC_SCALE).astype(np.int64)
        if exclude_self:
            kq[q_ids[:, None] == c_ids[None, s:s + chunk]] = -(1 << 41)
        ids_c, kq_c = _chunk_topk(c_ids[s:s + chunk], kq, top)
        ids_l.append(ids_c)
        kq_l.append(kq_c)
    return _merge_topk(np.concatenate(ids_l, axis=1),
                       np.concatenate(kq_l, axis=1), top)


_ADC_ROWS = "query_id long, neighbor_id long, _adc double"


def _adc_rows(q_ids: np.ndarray, ids_m: np.ndarray, kq_m: np.ndarray
              ) -> pd.DataFrame:
    """``_ADC_ROWS`` frame of an ``_adc_top`` result."""
    return pd.DataFrame({"query_id": np.repeat(q_ids, ids_m.shape[1]),
                         "neighbor_id": ids_m.reshape(-1),
                         "_adc": kq_m.reshape(-1) / _ADC_SCALE})


#: Code rows per cogroup block on the blocked route: applyInPandas
#: materializes one (query-block × code-block) group per task, so this
#: bounds the per-task code residency (~(8 + m) bytes/row packed;
#: 4M rows × m=8 ≈ 64 MB as pandas). The in-kernel scoring is further
#: chunked (see ``_adc_top``), so this only sizes the group
#: materialization, not the score buffer.
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
    routes score with ``_adc_top`` on float64 LUTs and return the same
    rows: every truncation is tie-exact by (quantized score DESC,
    id ASC), so block-level tops are supersets of the global top the
    final window extracts (route-equivalence pinned in tests with a
    collect-forbidding monkeypatch). All-zero vectors get no rows."""
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
    block, mapInPandas over the code table (zero shuffle). Each Arrow
    batch runs ``_adc_top``; the batch tops merge into one
    per-partition top-``shortlist``, so the relational window that
    follows sees n_partitions × Q × shortlist rows, independent of
    corpus size."""
    spark = codes.sparkSession
    q_ids, qv = _collect_matrix(queries, id_col, vec_col)
    bc = spark.sparkContext.broadcast((q_ids, _lut(qv, codebook)))
    m, ksub, _dsub = codebook.shape

    def adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_ids, lut = bc.value
        tops = [_adc_top(q_ids, lut, pdf[id_col].to_numpy(), pdf["codes"],
                         m, ksub, shortlist, exclude_self)
                for pdf in batches]
        if tops:
            yield _adc_rows(q_ids, *_merge_topk(
                np.concatenate([t[0] for t in tops], axis=1),
                np.concatenate([t[1] for t in tops], axis=1), shortlist))

    return codes.mapInPandas(adc, _ADC_ROWS)


def _adc_scan_blocked(codes: DataFrame, queries: DataFrame,
                      codebook: np.ndarray, shortlist: int,
                      id_col: str, vec_col: str, exclude_self: bool,
                      nq: int) -> DataFrame:
    """Over-budget ADC scan: unit query rows are computed executor-side
    (mapInPandas — only the tiny codebook broadcasts) and meet the code
    table in a (query-block × code-block) cogrouped grid, the same
    two-sided blocked shape as knn.cosine_pairs_twosided / the ivfpq
    bucket cogroup. Zero driver collects of query- or corpus-sized
    data; per-task residency ≤ one query block's float64 LUTs
    (≤ the driver budget) + one code block (≤ CODE_BLOCK_ROWS rows).
    Shuffle: query rows replicate ×n_code_blocks and code rows
    ×n_query_blocks — the price of a flat full scan at a Q that
    doesn't fit anywhere whole. Emits per-(block-pair)
    top-``shortlist`` rows; every (query, code) pair is scored exactly
    once (each side lives in exactly one block), so the caller's
    global window needs no dedup."""
    spark = codes.sparkSession
    m, ksub, _dsub = codebook.shape
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

    def unit_queries(batches: Iterator[pd.DataFrame]
                     ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keep, v = unit_rows(
                np.array(pdf[vec_col].tolist(), dtype=np.float64))
            # Ship the unit query vector, not the m x ksub LUT: the LUT
            # is 8x wider at the default dials AND replicates
            # x n_code_blocks onto the grid. The kernel rebuilds it per
            # block in float64, the broadcast route's LUT bit for bit.
            yield pd.DataFrame({"query_id": pdf[id_col].to_numpy()[keep],
                                "_qv": list(v)})

    q_side = (queries.select(id_col, vec_col)
              .mapInPandas(unit_queries, "query_id long, _qv array<double>")
              .withColumn("_qb", F.pmod(F.xxhash64("query_id"),
                                        F.lit(qb_n)).cast("int"))
              .withColumn("_cb", F.explode(F.sequence(
                  F.lit(0), F.lit(int(cb_n) - 1)))))
    c_side = (codes
              .withColumn("_cb", F.pmod(F.xxhash64(id_col),
                                        F.lit(int(cb_n))).cast("int"))
              .withColumn("_qb", F.explode(F.sequence(
                  F.lit(0), F.lit(int(qb_n) - 1)))))
    bc = spark.sparkContext.broadcast(codebook)

    def block_adc(q_pdf: pd.DataFrame, c_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(q_pdf) == 0 or len(c_pdf) == 0:
            return pd.DataFrame(columns=["query_id", "neighbor_id", "_adc"])
        q_ids = q_pdf["query_id"].to_numpy()
        lut = _lut(np.array(q_pdf["_qv"].tolist(), dtype=np.float64),
                   bc.value)
        return _adc_rows(q_ids, *_adc_top(
            q_ids, lut, c_pdf[id_col].to_numpy(), c_pdf["codes"], m, ksub,
            shortlist, exclude_self))

    return (q_side.groupBy("_qb", "_cb")
            .cogroup(c_side.groupBy("_qb", "_cb"))
            .applyInPandas(block_adc, _ADC_ROWS))


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
                keep, v = unit_rows(
                    np.array(pdf[vec_col].tolist(), dtype=np.float64))
                yield pd.DataFrame({"_id": pdf[id_col].to_numpy()[keep],
                                    col_alias: list(v)})
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
            keep, v = unit_rows(
                np.array(pdf[vec_col].tolist(), dtype=np.float64))
            sims = v @ cent.T
            na = min(n_assign, cent.shape[0])
            buckets = (sims.argmax(axis=1)[:, None] if na == 1
                       else np.argsort(-sims, axis=1)[:, :na])
            rep_ids = np.repeat(pdf[id_col].to_numpy()[keep], na)
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
                 exclude_self: bool = False) -> DataFrame:
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
    partitionBy("bucket") layout — no wide shuffle of codes) scored by
    ``_adc_top``; only (query, neighbor) shortlist rows reach the
    global window. Building the result starts no Spark job. One cogroup
    task scores one whole cell, and every cell is read (unprobed cells
    drop out as empty groups). All-zero vectors get no rows."""
    spark = codes.sparkSession
    bc = spark.sparkContext.broadcast(centroids)

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cent = bc.value
        for pdf in batches:
            keep, v = unit_rows(
                np.array(pdf[vec_col].tolist(), dtype=np.float64))
            sims = v @ cent.T
            probes = np.argsort(-sims, axis=1)[:, :n_probe]
            reps = probes.shape[1]
            # Ship the unit query vector (dim doubles), not the
            # m x ksub LUT: the LUT is 8x wider (512 float32 vs 64
            # float64 at the default dials) and building the
            # object-array LUT column dominated the probe task's wall
            # (measured 3.7 s of a 8 s sf0.1 serve, 27 MB shuffle —
            # round-11 serve root-cause).
            yield pd.DataFrame({
                "query_id": np.repeat(pdf[id_col].to_numpy()[keep], reps),
                "bucket": probes.reshape(-1).astype(np.int32),
                "_off": np.take_along_axis(sims, probes, axis=1)
                          .reshape(-1),
                "_qv": list(np.repeat(v, reps, axis=0)),
            })

    probed = queries.select(id_col, vec_col).mapInPandas(
        probe, "query_id long, bucket int, _off double, _qv array<double>")
    bc_cb = spark.sparkContext.broadcast(codebook)
    m, ksub, _dsub = codebook.shape

    def bucket_adc(q_pdf: pd.DataFrame, c_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(q_pdf) == 0 or len(c_pdf) == 0:
            return pd.DataFrame(columns=["query_id", "neighbor_id", "_adc"])
        q_ids = q_pdf["query_id"].to_numpy()
        # IVF-PQ scores with float32-rounded LUTs: the rounding of the
        # array<float> LUT column the probe once shipped, which its
        # measured rows and recall keep.
        lut = (_lut(np.array(q_pdf["_qv"].tolist(), dtype=np.float64),
                    bc_cb.value)
               .astype(np.float32).astype(np.float64))
        return _adc_rows(q_ids, *_adc_top(
            q_ids, lut, c_pdf[id_col].to_numpy(), c_pdf["codes"], m, ksub,
            shortlist, exclude_self, off=q_pdf["_off"].to_numpy()))

    local = (probed.groupBy("bucket")
             .cogroup(codes.groupBy("bucket"))
             .applyInPandas(bucket_adc, _ADC_ROWS))
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
