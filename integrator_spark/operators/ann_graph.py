"""Graph-based approximate nearest neighbors: distributed NN-Descent.

Completes the standard ANN triad next to LSH (queries/vectors.py
vec_ann_lsh) and IVF (queries/scale.py vec_ann_ivf). True HNSW insertion
is inherently sequential (every insert greedily searches the graph built
so far), which fights Spark's execution model; the distributed member of
the graph-ANN family is **NN-Descent** (Dong, Moses, Li — "Efficient
k-nearest neighbor graph construction for generic similarity measures",
WWW 2011): start from a random k-NN graph and repeatedly propose each
node's neighbors-of-neighbors as better neighbors, keeping the top-k.
The output k-NN graph is exactly what an HNSW-class searcher navigates
(its bottom layer), and every round is plain relational algebra — two
self-joins and a windowed top-k — so it inherits shuffle partitioning,
AQE, and skew handling like any other join pipeline.

Scale posture: round cost is bounded by |E|·k = n·k² candidate pairs
(k ~ 10-30, never n²), shuffled on node id; the classic ρ-sampling
refinement drops that further by sampling neighbor lists. Iterations are
fixed (convergence on random init is empirically 3-5 rounds for
recall@1 ≥ 0.9 on dim-64 corpora — asserted in tests); each round is
lineage-truncated with the stats-resetting checkpoint
(operators/ckpt.py), without which the plan
tree doubles per round and the driver dies generating it long before
the data is big (same discipline as operators/graph.py).

Determinism: the random initial graph is hash-seeded
(xxhash64(vec_id, j, seed)), candidate scoring is exact cosine, and the
top-k window breaks ties on (cos DESC, neighbor ASC) — byte-identical
across runs, which the rows-only determinism gate checks.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import budget
from .ckpt import truncated_checkpoint
from .knn import _dot_expr


def _sorted_lookup(ids_sorted: np.ndarray, values: np.ndarray) -> np.ndarray:
    """Indices of ``values`` in a sorted id array; -1 for non-members.

    A bare np.searchsorted returns an INSERTION POINT — for an id
    absent from the array that silently gathers a *different* vector
    (or IndexErrors at the array end). Clip + equality-mask restores
    the join route's inner-join semantics: non-member rows (possible
    via caller-supplied ``entries`` or a graph whose neighbor_id isn't
    in ``base``) are dropped, never mis-scored, so the matrix and join
    routes agree on bad input too (r6 advisor)."""
    if len(ids_sorted) == 0:
        return np.full(len(values), -1, dtype=np.int64)
    idx = np.searchsorted(ids_sorted, values)
    idx = np.clip(idx, 0, len(ids_sorted) - 1)
    return np.where(ids_sorted[idx] == values, idx, -1)


def graph_ann_search(graph: DataFrame, base: DataFrame, queries: DataFrame,
                     k: int = 1, beam: int = 8, hops: int = 3,
                     n_entries: int | None = None,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     exclude_self: bool = False,
                     entries: DataFrame | None = None,
                     fused: bool = True) -> DataFrame:
    """Batch beam search over a k-NN graph for OUT-OF-SAMPLE queries —
    the HNSW-style navigate step, reshaped for Spark: instead of one
    sequential walk per query, every hop is one relational round over
    ALL queries at once (join current beam to the graph's adjacency,
    score proposals, keep the best ``beam`` per query), so Q concurrent
    searches cost H joins total, not Q·H sequential probes.

    Entry points — SCALE-CRITICAL, learned from the 1.1M measured run
    (SCALING.md round 6): a k-NN graph over clustered embeddings is
    near-disconnected ACROSS clusters, so a handful of fixed entries
    can only ever reach their own clusters (measured recall@1 0.002 at
    1.1M/512 clusters with the old 4 fixed entries). Two seeding modes:

    - default: ``n_entries`` hash-ordered corpus ids (~4*sqrt(n),
      clamped [16, 8192]), shared by every query. Hop-0 scores
      Q x n_entries in one cheap matrix pass and picks the right
      region. Coverage-limited: with C >> n_entries natural regions,
      the probability an entry lands in the query's region caps recall
      (measured 0.52 at 4096 cells / 4196 entries).
    - ``entries`` (a (qid, cand) DataFrame): PER-QUERY seeds from a
      coarse quantizer — rank cells by query-centroid similarity and
      seed with members of the top cells (the SPANN/DiskANN-style
      hybrid, measured in round 6 (SCALING.md) with seeds built from
      the same ivf_assign index the build's init used). This removes the
      coverage cap: the seed is in the right region by construction
      and the walk only has to refine.

    Either way the per-hop frontier afterwards stays Q · beam · degree,
    independent of n.

    Scoring is size-routed like the build: while the normalized corpus
    + query matrices fit the driver budget they broadcast once and every
    round scores via numpy gather+rowdot (no vector shuffle); above it,
    vectors attach via joins. Returns (query_id, neighbor_id, cos_sim,
    rank) with the usual (cos DESC, id ASC) tie-break."""
    import math

    spark = base.sparkSession
    norm = F.sqrt(F.aggregate(
        F.transform(F.col(vec_col), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda a, x: a + x))
    b = (base.select(F.col(id_col).cast("long").alias("cand"),
                     F.transform(F.col(vec_col),
                                 lambda x: x.cast("double") / norm)
                      .alias("_bv"))
         .localCheckpoint(eager=True))
    q = (queries.select(F.col(id_col).cast("long").alias("qid"),
                        F.transform(F.col(vec_col),
                                    lambda x: x.cast("double") / norm)
                         .alias("_qv"))
         .localCheckpoint(eager=True))
    adj = graph.select(F.col("vec_id").alias("cand"),
                       F.col("neighbor_id").alias("_nbr"))

    n = b.count()
    if n == 0:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cos_sim double, rank int")
    if n_entries is None:
        n_entries = max(16, min(8192, 4 * int(math.ceil(math.sqrt(n)))))
    n_entries = min(n_entries, n)

    mat_bc = None
    dim = len(b.select("_bv").first()[0])
    # Route on corpus AND query batch size: the matrix path collects +
    # broadcasts BOTH (q.toPandas() below), and the stated use case is
    # batch navigation where Q can exceed n — counting only the corpus
    # would let an oversized query batch blow the driver through the
    # module's own size-routing contract (r6 advisor, medium).
    nq = q.count()
    if budget.fits_driver((n + nq) * dim * 8):
        # float32 storage (the source embeddings' own precision) halves
        # the per-worker broadcast residency; gathered rows widen to
        # float64 before the dot, so only storage rounding (~5e-7 on a
        # unit-vector cosine) separates this from the join route.
        bpdf = b.toPandas()
        border = np.argsort(bpdf["cand"].to_numpy(), kind="stable")
        bids = bpdf["cand"].to_numpy()[border]
        bmat = np.array(bpdf["_bv"].tolist(), dtype=np.float32)[border]
        qpdf = q.toPandas()
        qorder = np.argsort(qpdf["qid"].to_numpy(), kind="stable")
        qids = qpdf["qid"].to_numpy()[qorder]
        qmat = np.array(qpdf["_qv"].tolist(), dtype=np.float32)[qorder]
        mat_bc = spark.sparkContext.broadcast((bids, bmat, qids, qmat))

    # FUSED NAVIGATE KERNEL (r12 optimization round, guide §2.4 "remove
    # shuffles outright" + §4.2): when the corpus+query matrices already
    # ride a broadcast (mat_bc) and the adjacency list fits the same
    # budget, the whole hop loop runs inside ONE mapInPandas over the
    # query ids — each task walks all hops for its query batch against
    # the broadcast CSR adjacency, so the search costs one Python stage
    # instead of (hops+1) × (join + window-sort exchange + checkpoint
    # job). Candidate generation, dedup (the relational .distinct()),
    # self-exclusion, the membership guard, the einsum float64 scoring
    # and the (cos DESC, cand ASC) beam rank replicate the relational
    # rounds step for step — outputs are bit-identical (pinned by the
    # determinism gate + recall tests). Above the budget, or with
    # caller-supplied per-query entries, the relational rounds below
    # keep working at any n — same size-routing contract as the build.
    # (``fused=False`` forces the relational rounds — the parity tests
    # pin the two routes byte-equal on the fixture corpus.)
    if fused and mat_bc is not None and entries is None:
        g_rows = graph.count()
        if budget.fits_driver(g_rows * 16):
            ent_ids = np.array(
                [r.cand for r in
                 b.select("cand")
                 .orderBy(F.xxhash64(F.col("cand"), F.lit(77)),
                          F.col("cand"))
                 .limit(n_entries).collect()], dtype=np.int64)
            adj_pdf = adj.toPandas()
            src_arr = adj_pdf["cand"].to_numpy(dtype=np.int64)
            dst_arr = adj_pdf["_nbr"].to_numpy(dtype=np.int64)
            aorder = np.argsort(src_arr, kind="stable")
            adj_bc = spark.sparkContext.broadcast(
                (src_arr[aorder], dst_arr[aorder]))
            kk, bm_w, hops_n, excl = int(k), int(beam), int(hops), \
                bool(exclude_self)
            # A task's query batch holds at most maxRecordsPerBatch
            # rows, so this bounds every batch's nq_l × n score matrix.
            batch_rows = min(nq, int(spark.conf.get(
                "spark.sql.execution.arrow.maxRecordsPerBatch", "10000")))
            score_fits = budget.fits_driver(batch_rows * n * 8)

            def navigate(batches: Iterator[pd.DataFrame]
                         ) -> Iterator[pd.DataFrame]:
                bids_s, bmat, qids_s, qmat = mat_bc.value
                srcs, dsts = adj_bc.value
                # Hoist the float64 corpus copy ONCE per task (r13,
                # ADVICE): the old per-batch bmat.astype(float64) was
                # an n×dim×8 transient re-cast for every query batch.
                # Its bytes are within the (n + nq)×dim×8 the matrix
                # route already fit to the budget. Cast-then-gather
                # equals gather-then-cast elementwise, so scores are
                # unchanged.
                bmat64 = bmat.astype(np.float64)

                for pdf in batches:
                    qids_local = pdf["qid"].to_numpy(dtype=np.int64)
                    nq_l = len(qids_local)
                    if nq_l == 0:
                        yield pd.DataFrame({
                            "qid": np.array([], dtype=np.int64),
                            "cand": np.array([], dtype=np.int64),
                            "_cos": np.array([], dtype=np.float64),
                            "_rn": np.array([], dtype=np.int32)})
                        continue
                    qloc = _sorted_lookup(qids_s, qids_local)
                    # Precompute this batch's query × corpus score
                    # matrix ONCE when it fits the budget (score_fits,
                    # decided on the driver for the largest batch)
                    # (r12: kernel profile showed the per-hop
                    # gather+cast+dot materializing two ~800k × dim
                    # float64 arrays per hop — 60% of the kernel wall;
                    # the matrix form runs the SAME sequential-j einsum
                    # reduction per element, so every looked-up cosine
                    # is bit-identical to the per-pair form, verified
                    # by the fused-vs-relational parity tests; NumPy
                    # does not promise identical accumulation across
                    # einsum signatures on every build, so that
                    # equality is pinned on this build, not universal).
                    # Above the budget (huge corpora / fat batches)
                    # the per-pair path below keeps working at any n.
                    S = None
                    if score_fits:
                        S = np.einsum("ij,kj->ik",
                                      qmat[qloc].astype(np.float64),
                                      bmat64)

                    def beam_rank(qr: np.ndarray, cd: np.ndarray,
                                  width: int, drop_dups: bool):
                        """score + distinct + row_number((cos DESC,
                        cand ASC)) <= width — the relational
                        score_and_beam, vectorized. ``drop_dups``
                        folds the old pre-scoring dedupe into THIS
                        sort: equal (qr, cd) pairs score identically,
                        so under the (qr, cos DESC, cd ASC) order they
                        are adjacent and one stable keep-first mask
                        reproduces .distinct() exactly — one lexsort
                        per hop instead of two (r12)."""
                        ci = _sorted_lookup(bids_s, cd)
                        ok = ci >= 0
                        if excl:
                            ok &= qids_local[qr] != cd
                        qr, cd, ci = qr[ok], cd[ok], ci[ok]
                        if S is not None:
                            cos = S[qr, ci]
                        else:
                            cos = np.einsum(
                                "ij,ij->i",
                                qmat[qloc[qr]].astype(np.float64),
                                bmat64[ci])
                        order = np.lexsort((cd, -cos, qr))
                        qr, cd, cos = qr[order], cd[order], cos[order]
                        if drop_dups:
                            keep = np.ones(len(qr), dtype=bool)
                            keep[1:] = ((qr[1:] != qr[:-1])
                                        | (cd[1:] != cd[:-1]))
                            qr, cd, cos = qr[keep], cd[keep], cos[keep]
                        first = np.ones(len(qr), dtype=bool)
                        first[1:] = qr[1:] != qr[:-1]
                        starts = np.maximum.accumulate(
                            np.where(first, np.arange(len(qr)), 0))
                        rank = np.arange(len(qr)) - starts + 1
                        keepm = rank <= width
                        return (qr[keepm], cd[keepm], cos[keepm],
                                rank[keepm].astype(np.int32))

                    # hop 0: every query × the shared entry set
                    qr = np.repeat(np.arange(nq_l), len(ent_ids))
                    cd = np.tile(ent_ids, nq_l)
                    qr, cd, cos, rn = beam_rank(qr, cd, bm_w, False)
                    for _ in range(hops_n):
                        lo = np.searchsorted(srcs, cd, side="left")
                        hi = np.searchsorted(srcs, cd, side="right")
                        cnt = hi - lo
                        tot = int(cnt.sum())
                        cum = np.concatenate(
                            ([0], np.cumsum(cnt)))[:-1]
                        gidx = (np.arange(tot)
                                - np.repeat(cum, cnt)
                                + np.repeat(lo, cnt))
                        eqr = np.repeat(qr, cnt)
                        ecd = dsts[gidx]
                        uqr = np.concatenate((eqr, qr))
                        ucd = np.concatenate((ecd, cd))
                        qr, cd, cos, rn = beam_rank(uqr, ucd, bm_w, True)
                    yield pd.DataFrame({
                        "qid": qids_local[qr], "cand": cd,
                        "_cos": cos, "_rn": rn})

            best = q.select("qid").mapInPandas(
                navigate, "qid long, cand long, _cos double, _rn int")
            return (best.filter(F.col("_rn") <= k)
                    .select(F.col("qid").alias("query_id"),
                            F.col("cand").alias("neighbor_id"),
                            F.round("_cos", 6).alias("cos_sim"),
                            F.col("_rn").cast("int").alias("rank")))

    if entries is not None:
        frontier = entries.select(F.col("qid").cast("long").alias("qid"),
                                  F.col("cand").cast("long").alias("cand"))
    else:
        # Deterministic uniform id-space sample: hash-order, ties on id.
        shared = F.broadcast(
            b.select("cand")
            .orderBy(F.xxhash64(F.col("cand"), F.lit(77)), F.col("cand"))
            .limit(n_entries))
        # Bounded broadcast nested-loop: every query × n_entries rows.
        frontier = q.select("qid").join(shared)

    def score_and_beam(cand: DataFrame, width: int) -> DataFrame:
        if exclude_self:
            # in-corpus evaluation: a query must not return itself
            cand = cand.filter(F.col("qid") != F.col("cand"))
        if mat_bc is not None:
            def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                bids_s, bm, qids_s, qm = mat_bc.value
                for pdf in batches:
                    qid = pdf["qid"].to_numpy()
                    cnd = pdf["cand"].to_numpy()
                    # Membership-validated gather (r6 advisor): an id
                    # absent from the sorted arrays (caller-supplied
                    # `entries`, or graph neighbor_ids not in `base`)
                    # must be DROPPED — the join route inner-joins such
                    # rows away, and an unguarded searchsorted would
                    # silently score the insertion-point row instead
                    # (or IndexError at the array end).
                    qi = _sorted_lookup(qids_s, qid)
                    ci = _sorted_lookup(bids_s, cnd)
                    ok = (qi >= 0) & (ci >= 0)
                    qid, cnd, qi, ci = qid[ok], cnd[ok], qi[ok], ci[ok]
                    yield pd.DataFrame({
                        "qid": qid, "cand": cnd,
                        "_cos": np.einsum(
                            "ij,ij->i",
                            qm[qi].astype(np.float64),
                            bm[ci].astype(np.float64))})
            scored = cand.mapInPandas(score, "qid long, cand long, _cos double")
        else:
            scored = (cand.join(q, "qid").join(b, "cand")
                      .select("qid", "cand",
                              _dot_expr(F.col("_qv"), F.col("_bv"))
                              .alias("_cos")))
        w = Window.partitionBy("qid").orderBy(F.col("_cos").desc(),
                                              F.col("cand"))
        return truncated_checkpoint(
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= width))

    best = score_and_beam(frontier, beam)
    for _ in range(hops):
        expand = (best.select("qid", "cand").join(adj, "cand")
                  .select("qid", F.col("_nbr").alias("cand")))
        cand = expand.unionByName(best.select("qid", "cand")).distinct()
        new_best = score_and_beam(cand, beam)
        best.unpersist()
        best = new_best
    return (best.filter(F.col("_rn") <= k)
            .select(F.col("qid").alias("query_id"),
                    F.col("cand").alias("neighbor_id"),
                    F.round("_cos", 6).alias("cos_sim"),
                    F.col("_rn").cast("int").alias("rank")))


#: Above this corpus size, nn_descent's init switches from uniform
#: random draws to CELL-SEEDED draws (k-means cells via operators/ivf).
#: Learned from the 1.1M measured run (SCALING.md round 6): on strongly
#: clustered embeddings, uniform init gives most nodes zero same-cluster
#: neighbors and cross-cluster cosines are ~uniform noise, so the
#: neighbor-of-neighbor descent has NO gradient toward the right
#: cluster — the graph converges to noise edges and beam search over it
#: collapses. Cell-seeded init draws each node's initial neighbors from
#: its own coarse cell (plus two uniform long-range draws for
#: cross-cell navigability), giving the descent in-cluster signal from
#: round one. Fixture corpora stay on the uniform init, which the
#: recall tests pin.
CELL_INIT_MIN_ROWS = 100_000


def nn_descent(emb: DataFrame, k: int = 10, iters: int = 4,
               id_col: str = "vec_id", vec_col: str = "embedding",
               seed: int = 42,
               init: str = "auto") -> DataFrame:
    """Build an approximate k-NN graph (vec_id, neighbor_id, cos_sim,
    rank) by NN-Descent. Ids need not be contiguous: the random init
    draws hash-positions into a dense rank of the corpus ids.

    ``init``: 'uniform' | 'cell' | 'auto' (cell-seeded above
    CELL_INIT_MIN_ROWS — see that constant for why uniform init fails
    on clustered corpora at scale). Both inits are deterministic
    (hash-seeded draws; the cell path's k-means is the deterministic
    train_centroids sampler).

    Scoring is size-routed on the driver budget (operators/budget.py):
    while the n×dim float64 corpus fits, it rides one broadcast matrix
    and each
    round's candidate pairs are scored by a C-level gather+rowdot in a
    mapInPandas kernel — the shuffle carries only (src, dst, cos), not
    vectors; above it, vectors attach via joins (works at any n).
    Both paths accumulate in float64 (the matrix route stores float32,
    adding ~5e-7 of storage rounding on a unit-vector cosine); the
    property test pins identical edge sets with cos agreement to 1e-5."""
    spark = emb.sparkSession
    n = emb.count()
    if n < 2:
        return spark.createDataFrame(
            [], "vec_id long, neighbor_id long, cos_sim double, rank int")
    kk = min(k, n - 1)
    use_cell = init == "cell" or (init == "auto" and n >= CELL_INIT_MIN_ROWS)

    # L2-normalize once; cosine thereafter is a single dot fold.
    norm = F.sqrt(F.aggregate(
        F.transform(F.col(vec_col), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda a, x: a + x))
    base = (emb.select(F.col(id_col).cast("long").alias("nid"),
                       F.transform(F.col(vec_col),
                                   lambda x: x.cast("double") / norm)
                        .alias("_v"))
            .localCheckpoint(eager=True))

    dim = len(base.select("_v").first()[0])
    mat_bc = None
    if budget.fits_driver(n * dim * 8):
        # Bounded driver collect (<= budget bytes by the route check),
        # sorted by id so executor-side lookups are one searchsorted.
        # float32 storage halves every worker's broadcast residency;
        # gathered rows widen to float64 before the dot (storage
        # rounding ~5e-7 on a unit-vector cosine).
        pdf = base.toPandas()
        order = np.argsort(pdf["nid"].to_numpy(), kind="stable")
        ids_sorted = pdf["nid"].to_numpy()[order]
        mat = np.array(pdf["_v"].tolist(), dtype=np.float32)[order]
        mat_bc = spark.sparkContext.broadcast((ids_sorted, mat))

    # Dense positions 0..n-1 so hash-draws always hit a real node.
    pos = base.select(
        "nid",
        (F.row_number().over(Window.orderBy("nid")) - 1).alias("_pos"))

    # Seeded uniform draws: hash-position into the dense rank.
    def uniform_draws(n_draws: int, salt: int) -> DataFrame:
        draws = base.select(
            F.col("nid").alias("src"),
            F.explode(F.sequence(F.lit(0), F.lit(n_draws - 1))).alias("_j"))
        return (draws.select(
            "src",
            F.pmod(F.xxhash64("src", "_j", F.lit(seed + salt)),
                   F.lit(n)).alias("_pos"))
            .join(pos, "_pos")
            .select("src", F.col("nid").alias("dst")))

    if use_cell:
        from .ivf import bounded_sample_matrix, ivf_assign, train_centroids

        n_cells = max(16, min(4096, n // 256))
        # n is already counted above — skip the trainer's count pass.
        _mat = bounded_sample_matrix(emb.select(F.col(id_col),
                                                F.col(vec_col)),
                                     min(100_000, n), id_col=id_col,
                                     vec_col=vec_col, n_rows=n)
        cent = train_centroids(emb.select(F.col(id_col), F.col(vec_col)),
                               n_clusters=n_cells,
                               sample_rows=min(100_000, n), iters=10,
                               id_col=id_col, vec_col=vec_col, seed=seed,
                               sample_mat=_mat)
        # n_assign=2: each node also draws from its SECOND-nearest cell,
        # so edges form across adjacent sub-cells of the same latent
        # cluster — without them the graph is navigable only within one
        # k-means cell and a walk cannot cross to a neighboring one
        # (measured at 1.1M: entry-cell coverage capped recall; see
        # SCALING.md round 6).
        assign = (ivf_assign(emb.select(F.col(id_col), F.col(vec_col)),
                             cent, n_assign=2,
                             id_col=id_col, vec_col=vec_col)
                  .select(F.col(id_col).cast("long").alias("nid"), "bucket"))
        wpos = Window.partitionBy("bucket").orderBy("nid")
        posb = (assign.select(
            "nid", "bucket",
            (F.row_number().over(wpos) - 1).alias("_bpos"),
            F.count(F.lit(1)).over(Window.partitionBy("bucket"))
            .alias("_bsize"))
            .localCheckpoint(eager=True))
        # kk in-cell draws per node (hash-position into the cell's
        # dense rank) + 2 uniform long-range draws for cross-cell
        # navigability.
        cdraws = posb.select(
            F.col("nid").alias("src"), "bucket", "_bsize",
            F.explode(F.sequence(F.lit(0), F.lit(kk + 1))).alias("_j"))
        in_cell = (cdraws.select(
            "src", "bucket",
            F.pmod(F.xxhash64(F.col("src"), F.col("_j"), F.lit(seed)),
                   F.col("_bsize")).alias("_bpos"))
            .join(posb.select(F.col("nid").alias("dst"), "bucket", "_bpos"),
                  ["bucket", "_bpos"])
            .select("src", "dst"))
        init_edges = in_cell.unionByName(uniform_draws(2, 1))
    else:
        # kk + 2 draws per node (a couple extra so self-hits and
        # duplicate draws still leave >= kk candidates).
        init_edges = uniform_draws(kk + 2, 0)
    init_edges = (init_edges
                  .filter(F.col("src") != F.col("dst"))
                  .distinct())

    # DRIVER-FUSED ROUNDS (r12, guide §1.2/§4.2): NN-Descent's rounds
    # are GLOBAL (every node's neighbor list updates against the whole
    # edge set), so unlike the navigate kernel they cannot fan out by
    # query batch — but when the corpus matrix already rides the
    # broadcast AND the full n×n score matrix fits the kernel budget,
    # the 4 rounds run as one numpy loop on the driver: the per-round
    # (join + distinct + window) Spark machinery — ~3 shuffles and a
    # checkpoint per round on candidate volumes of n·k² rows — becomes
    # searchsorted CSR expansion, one lexsort, and score-matrix
    # gathers. Candidate generation, the .distinct(), the self filter,
    # the float64 sequential-j einsum scores and the (cos DESC, dst
    # ASC) row_number replicate the relational rounds step for step
    # (parity pinned in tests); init edges still come from the SAME
    # Spark expressions (xxhash64 draws / cell seeding), collected
    # bounded at n·(k+2) rows. Above the budget the relational rounds
    # below run unchanged at any n.
    if mat_bc is not None and budget.fits_driver(n * n * 8):
        ipdf = init_edges.toPandas()
        isrc = ipdf["src"].to_numpy(dtype=np.int64)
        idst = ipdf["dst"].to_numpy(dtype=np.int64)
        ids_s, m32 = mat_bc.value
        S = np.einsum("ij,kj->ik", m32.astype(np.float64),
                      m32.astype(np.float64))

        def _score_rank(sa: np.ndarray, da: np.ndarray, width: int):
            si = _sorted_lookup(ids_s, sa)
            di = _sorted_lookup(ids_s, da)
            ok = (si >= 0) & (di >= 0) & (sa != da)
            sa, da, si, di = sa[ok], da[ok], si[ok], di[ok]
            cos = S[si, di]
            order = np.lexsort((da, -cos, sa))
            sa, da, cos = sa[order], da[order], cos[order]
            keep = np.ones(len(sa), dtype=bool)   # the .distinct()
            keep[1:] = (sa[1:] != sa[:-1]) | (da[1:] != da[:-1])
            sa, da, cos = sa[keep], da[keep], cos[keep]
            first = np.ones(len(sa), dtype=bool)
            first[1:] = sa[1:] != sa[:-1]
            starts = np.maximum.accumulate(
                np.where(first, np.arange(len(sa)), 0))
            rank = np.arange(len(sa)) - starts + 1
            km = rank <= width
            return sa[km], da[km], cos[km], rank[km].astype(np.int32)

        gs, gd, gc, gr = _score_rank(isrc, idst, kk)
        for _ in range(iters):
            # neighbor-of-neighbor proposals over the UNDIRECTED graph
            ss = np.concatenate((gs, gd))
            sd = np.concatenate((gd, gs))
            so = np.argsort(ss, kind="stable")
            ss, sd = ss[so], sd[so]
            # for each sym edge (u, v): propose (u, w) for every sym
            # edge (v, w) — CSR expansion of v's adjacency range
            lo = np.searchsorted(ss, sd, side="left")
            hi = np.searchsorted(ss, sd, side="right")
            cnt = hi - lo
            tot = int(cnt.sum())
            cum = np.concatenate(([0], np.cumsum(cnt)))[:-1]
            gidx = (np.arange(tot) - np.repeat(cum, cnt)
                    + np.repeat(lo, cnt))
            nsrc = np.repeat(ss, cnt)
            ndst = sd[gidx]
            usrc = np.concatenate((nsrc, gs))
            udst = np.concatenate((ndst, gd))
            gs, gd, gc, gr = _score_rank(usrc, udst, kk)
        out = pd.DataFrame({"src": gs, "dst": gd,
                            "_cos": gc, "_rn": gr})
        return (spark.createDataFrame(
            out, "src long, dst long, _cos double, _rn int")
            .select(F.col("src").alias("vec_id"),
                    F.col("dst").alias("neighbor_id"),
                    F.round("_cos", 6).alias("cos_sim"),
                    F.col("_rn").cast("int").alias("rank")))

    def score_pairs(cand: DataFrame) -> DataFrame:
        if mat_bc is not None:
            def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                ids_s, m = mat_bc.value
                for pdf in batches:
                    src = pdf["src"].to_numpy()
                    dst = pdf["dst"].to_numpy()
                    # Same membership guard as graph_ann_search: ids
                    # come from internal draws here, but the guard
                    # keeps both routes' semantics identical on any
                    # input (non-members dropped like the join route).
                    si = _sorted_lookup(ids_s, src)
                    di = _sorted_lookup(ids_s, dst)
                    ok = (si >= 0) & (di >= 0)
                    src, dst, si, di = src[ok], dst[ok], si[ok], di[ok]
                    yield pd.DataFrame({
                        "src": src, "dst": dst,
                        "_cos": np.einsum(
                            "ij,ij->i",
                            m[si].astype(np.float64),
                            m[di].astype(np.float64))})
            return cand.mapInPandas(score, "src long, dst long, _cos double")
        return (cand
                .join(base.select(F.col("nid").alias("src"),
                                  F.col("_v").alias("_vs")), "src")
                .join(base.select(F.col("nid").alias("dst"),
                                  F.col("_v").alias("_vd")), "dst")
                .select("src", "dst",
                        _dot_expr(F.col("_vs"), F.col("_vd")).alias("_cos")))

    def top_k(cand: DataFrame) -> DataFrame:
        scored = score_pairs(cand)
        w = Window.partitionBy("src").orderBy(F.col("_cos").desc(),
                                              F.col("dst"))
        return truncated_checkpoint(
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= kk)
            .select("src", "dst", "_cos", "_rn"))

    graph = top_k(init_edges)
    for _ in range(iters):
        edges = graph.select("src", "dst")
        # Neighbor-of-neighbor proposals over the UNDIRECTED graph —
        # reverse edges matter: x's good neighbors discover x back.
        sym = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        non = (sym.alias("a")
               .join(sym.alias("b"), F.col("a.dst") == F.col("b.src"))
               .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
               .filter(F.col("src") != F.col("dst")))
        cand = non.unionByName(edges).distinct()
        new_graph = top_k(cand)
        graph.unpersist()
        graph = new_graph
    return graph.select(F.col("src").alias("vec_id"),
                        F.col("dst").alias("neighbor_id"),
                        F.round("_cos", 6).alias("cos_sim"),
                        F.col("_rn").cast("int").alias("rank"))
