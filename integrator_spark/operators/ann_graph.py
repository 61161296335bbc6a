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
across runs, which the rows-only determinism gate checks. Every route
(driver numpy kernels, broadcast-matrix scoring, vector-attach joins)
stores the normalized vectors as float64 and ranks with that same
order, so which route ran does not change the rows.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import budget
from .ckpt import truncated_checkpoint
from .graph import _csr_gather
from .knn import _dot_expr


def _sorted_lookup(ids_sorted: np.ndarray, values: np.ndarray) -> np.ndarray:
    """Indices of ``values`` in a sorted id array; -1 for non-members.

    A bare np.searchsorted returns an INSERTION POINT — for an id
    absent from the array that silently gathers a *different* vector
    (or IndexErrors at the array end). Clip + equality-mask restores
    the join route's inner-join semantics: callers drop non-member
    rows (a graph whose neighbor_id isn't in ``base``), never mis-score
    them, so the numpy and join routes agree on bad input too."""
    if len(ids_sorted) == 0:
        return np.full(len(values), -1, dtype=np.int64)
    idx = np.searchsorted(ids_sorted, values)
    idx = np.clip(idx, 0, len(ids_sorted) - 1)
    return np.where(ids_sorted[idx] == values, idx, -1)


def _sorted_matrix(df: DataFrame, id_name: str, vec_name: str):
    """Collect (ids, float64 row matrix) sorted by id, so executor-side
    lookups are one searchsorted. Bounded by the caller's budget check."""
    pdf = df.toPandas()
    ids = pdf[id_name].to_numpy(dtype=np.int64)
    order = np.argsort(ids, kind="stable")
    return ids[order], np.array(pdf[vec_name].tolist(),
                                dtype=np.float64)[order]


def _expand(srcs: np.ndarray, dsts: np.ndarray, keys: np.ndarray):
    """One hop over a src-sorted edge list: (i, dst) for every edge whose
    src is ``keys[i]`` — the relational join to the adjacency, done as
    a CSR gather of each key's run."""
    lo = np.searchsorted(srcs, keys, side="left")
    cnt = np.searchsorted(srcs, keys, side="right") - lo
    rows = np.arange(len(keys))
    return np.repeat(rows, cnt), _csr_gather(dsts, lo, rows, cnt)


def _rank_rows(a: np.ndarray, b: np.ndarray, cos: np.ndarray, width: int):
    """``row_number() OVER (PARTITION BY a ORDER BY cos DESC, b) <= width``
    over the DISTINCT (a, b) pairs, vectorized: one lexsort, then a
    keep-first mask (equal pairs score equally, so they sit together)
    and each row's offset in its ``a`` run is its rank. Both numpy
    kernels rank with it; b must sort like the ids it stands for."""
    order = np.lexsort((b, -cos, a))
    a, b, cos = a[order], b[order], cos[order]
    new = np.ones(len(a), dtype=bool)
    new[1:] = (a[1:] != a[:-1]) | (b[1:] != b[:-1])
    a, b, cos = a[new], b[new], cos[new]
    first = np.ones(len(a), dtype=bool)
    first[1:] = a[1:] != a[:-1]
    pos = np.arange(len(a))
    rank = pos - np.maximum.accumulate(np.where(first, pos, 0)) + 1
    keep = rank <= width
    return a[keep], b[keep], cos[keep], rank[keep].astype(np.int32)


def graph_ann_search(graph: DataFrame, base: DataFrame, queries: DataFrame,
                     k: int = 1, beam: int = 8, hops: int = 3,
                     n_entries: int | None = None,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     exclude_self: bool = False) -> DataFrame:
    """Batch beam search over a k-NN graph for OUT-OF-SAMPLE queries —
    the HNSW-style navigate step, reshaped for Spark: instead of one
    sequential walk per query, every hop is one round over ALL queries
    at once (join current beam to the graph's adjacency, score
    proposals, keep the best ``beam`` per query), so Q concurrent
    searches cost H rounds total, not Q·H sequential probes.

    Entry points — SCALE-CRITICAL, learned from the 1.1M measured run
    (SCALING.md round 6): a k-NN graph over clustered embeddings is
    near-disconnected ACROSS clusters, so a handful of fixed entries
    can only ever reach their own clusters (measured recall@1 0.002 at
    1.1M/512 clusters with the old 4 fixed entries). Every query starts
    from the same ``n_entries`` hash-ordered corpus ids (~4*sqrt(n),
    clamped [16, 8192]); hop 0 scores Q x n_entries and picks the
    right region. Coverage-limited: with C >> n_entries natural regions,
    the probability an entry lands in the query's region caps recall
    (measured 0.52 at 4096 cells / 4196 entries; round 6 also records
    per-query seeds from a coarse quantizer, which lift that cap). The
    per-hop frontier afterwards stays Q · beam · degree, independent
    of n.

    Two routes, one result. While the float64 corpus + query matrices
    and the adjacency list fit the driver budget together, the whole
    hop loop runs in one mapInPandas over the query ids against their
    broadcast copies; above it, each hop is a relational round (join
    to the adjacency, attach vectors by join, windowed rank), at any
    n. Both drop ids absent from ``base``, score in float64 and rank
    on (cos DESC, id ASC), so they return the same rows: (query_id,
    neighbor_id, cos_sim, rank)."""
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
    # Deterministic uniform id-space sample: hash-order, ties on id.
    entries = (b.select("cand")
               .orderBy(F.xxhash64(F.col("cand"), F.lit(77)), F.col("cand"))
               .limit(n_entries))

    dim = len(b.select("_bv").first()[0])
    nq = q.count()
    g_rows = graph.count()
    if budget.fits_driver((n + nq) * dim * 8 + g_rows * 16):
        # FUSED NAVIGATE KERNEL: each task walks all hops for its query
        # batch, so the search is one Python stage instead of (hops+1)
        # x (join + window-sort exchange + checkpoint job). Corpus
        # positions stand in for ids (sorted, so they order alike); an
        # edge with an end outside ``base`` can never score, so it is
        # dropped here as the join route drops it.
        bids, bmat = _sorted_matrix(b, "cand", "_bv")
        qids, qmat = _sorted_matrix(q, "qid", "_qv")
        ent = _sorted_lookup(bids, np.array(
            [r.cand for r in entries.collect()], dtype=np.int64))
        apdf = adj.toPandas()
        src = _sorted_lookup(bids, apdf["cand"].to_numpy(dtype=np.int64))
        dst = _sorted_lookup(bids, apdf["_nbr"].to_numpy(dtype=np.int64))
        ok = (src >= 0) & (dst >= 0)
        src, dst = src[ok], dst[ok]
        aorder = np.argsort(src, kind="stable")
        bc = spark.sparkContext.broadcast(
            (bids, bmat, qids, qmat, ent, src[aorder], dst[aorder]))
        width, n_hops, excl = int(beam), int(hops), bool(exclude_self)
        # A task's query batch holds at most maxRecordsPerBatch
        # rows, so this bounds every batch's nq_l × n score matrix.
        batch_rows = min(nq, int(spark.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch", "10000")))
        score_fits = budget.fits_driver(batch_rows * n * 8)

        def navigate(batches: Iterator[pd.DataFrame]
                     ) -> Iterator[pd.DataFrame]:
            bids, bmat, qids, qmat, ent, srcs, dsts = bc.value
            for pdf in batches:
                qid = pdf["qid"].to_numpy(dtype=np.int64)
                qv = qmat[_sorted_lookup(qids, qid)]
                # The batch's query × corpus score matrix, once, when
                # it fits; per-pair dots otherwise. Both run the same
                # sequential-j einsum reduction per element, so every
                # cosine is the same either way (pinned on this build
                # by the route tests; NumPy does not promise equal
                # accumulation across einsum signatures everywhere).
                S = np.einsum("ij,kj->ik", qv, bmat) if score_fits else None

                def rank(qr: np.ndarray, cd: np.ndarray):
                    if excl:
                        own = bids[cd] != qid[qr]
                        qr, cd = qr[own], cd[own]
                    cos = (S[qr, cd] if S is not None
                           else np.einsum("ij,ij->i", qv[qr], bmat[cd]))
                    return _rank_rows(qr, cd, cos, width)

                qr, cd, cos, rn = rank(np.repeat(np.arange(len(qid)),
                                                 len(ent)),
                                       np.tile(ent, len(qid)))
                for _ in range(n_hops):
                    row, nbr = _expand(srcs, dsts, cd)
                    qr, cd, cos, rn = rank(np.concatenate((qr[row], qr)),
                                           np.concatenate((nbr, cd)))
                yield pd.DataFrame({"qid": qid[qr], "cand": bids[cd],
                                    "_cos": cos, "_rn": rn})

        best = q.select("qid").mapInPandas(
            navigate, "qid long, cand long, _cos double, _rn int")
    else:
        def score_and_beam(cand: DataFrame) -> DataFrame:
            if exclude_self:
                # in-corpus evaluation: a query must not return itself
                cand = cand.filter(F.col("qid") != F.col("cand"))
            scored = (cand.join(q, "qid").join(b, "cand")
                      .select("qid", "cand",
                              _dot_expr(F.col("_qv"), F.col("_bv"))
                              .alias("_cos")))
            w = Window.partitionBy("qid").orderBy(F.col("_cos").desc(),
                                                  F.col("cand"))
            return truncated_checkpoint(
                scored.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= beam))

        # Bounded broadcast nested-loop: every query × n_entries rows.
        best = score_and_beam(q.select("qid").join(F.broadcast(entries)))
        for _ in range(hops):
            expand = (best.select("qid", "cand").join(adj, "cand")
                      .select("qid", F.col("_nbr").alias("cand")))
            cand = expand.unionByName(best.select("qid", "cand")).distinct()
            new_best = score_and_beam(cand)
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
#: recall tests pin; a route test lowers this to 0 to run the cell init.
CELL_INIT_MIN_ROWS = 100_000


def nn_descent(emb: DataFrame, k: int = 10, iters: int = 4,
               id_col: str = "vec_id", vec_col: str = "embedding",
               seed: int = 42) -> DataFrame:
    """Build an approximate k-NN graph (vec_id, neighbor_id, cos_sim,
    rank) by NN-Descent. Ids need not be contiguous: the random init
    draws hash-positions into a dense rank of the corpus ids.

    The init is uniform below CELL_INIT_MIN_ROWS and cell-seeded from
    there up (see that constant for why uniform init fails on clustered
    corpora at scale). Both are deterministic (hash-seeded draws; the
    cell path's k-means is the deterministic train_centroids sampler).

    Scoring is size-routed on the driver budget (operators/budget.py):
    while the n×n score matrix fits, all rounds run as one numpy loop
    on the driver; while the n×dim float64 corpus matrix fits, it rides
    one broadcast and each round's candidate pairs are scored by a
    gather+rowdot in a mapInPandas kernel, so the shuffle carries only
    (src, dst, cos), not vectors; above both, vectors attach via joins
    (works at any n). All three store and sum in float64 and rank on
    (cos DESC, neighbor ASC), so they build the same graph."""
    spark = emb.sparkSession
    n = emb.count()
    if n < 2:
        return spark.createDataFrame(
            [], "vec_id long, neighbor_id long, cos_sim double, rank int")
    kk = min(k, n - 1)

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
    mat = None
    if budget.fits_driver(n * dim * 8):
        ids_s, mat = _sorted_matrix(base, "nid", "_v")

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

    if n >= CELL_INIT_MIN_ROWS:
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

    # DRIVER-FUSED ROUNDS: NN-Descent's rounds are GLOBAL (every node's
    # neighbor list updates against the whole edge set), so unlike the
    # navigate kernel they cannot fan out by query batch — but when the
    # full n×n score matrix fits, the rounds run as one numpy loop on
    # the driver: the per-round (join + distinct + window) Spark
    # machinery — ~3 shuffles and a checkpoint per round on n·k² rows
    # — becomes a CSR expansion, one lexsort and score-matrix gathers
    # over corpus positions (sorted, so they order like the ids). Init
    # edges still come from the SAME Spark expressions, collected
    # bounded at n·(k+2) rows.
    if mat is not None and budget.fits_driver(n * n * 8):
        ipdf = init_edges.toPandas()
        a = _sorted_lookup(ids_s, ipdf["src"].to_numpy(dtype=np.int64))
        b = _sorted_lookup(ids_s, ipdf["dst"].to_numpy(dtype=np.int64))
        ok = (a >= 0) & (b >= 0)
        S = np.einsum("ij,kj->ik", mat, mat)

        def rank(a: np.ndarray, b: np.ndarray):
            own = a != b
            a, b = a[own], b[own]
            return _rank_rows(a, b, S[a, b], kk)

        gs, gd, gc, gr = rank(a[ok], b[ok])
        for _ in range(iters):
            # neighbor-of-neighbor proposals over the UNDIRECTED graph:
            # for each sym edge (u, v), propose (u, w) for every sym
            # edge (v, w)
            ss = np.concatenate((gs, gd))
            sd = np.concatenate((gd, gs))
            so = np.argsort(ss, kind="stable")
            ss, sd = ss[so], sd[so]
            row, w = _expand(ss, sd, sd)
            gs, gd, gc, gr = rank(np.concatenate((ss[row], gs)),
                                  np.concatenate((w, gd)))
        graph = spark.createDataFrame(
            pd.DataFrame({"src": ids_s[gs], "dst": ids_s[gd],
                          "_cos": gc, "_rn": gr}),
            "src long, dst long, _cos double, _rn int")
    else:
        mat_bc = (spark.sparkContext.broadcast((ids_s, mat))
                  if mat is not None else None)

        def score_pairs(cand: DataFrame) -> DataFrame:
            if mat_bc is not None:
                def score(batches: Iterator[pd.DataFrame]
                          ) -> Iterator[pd.DataFrame]:
                    ids_s, m = mat_bc.value
                    for pdf in batches:
                        src = pdf["src"].to_numpy()
                        dst = pdf["dst"].to_numpy()
                        # Non-members are dropped, like the join route.
                        si = _sorted_lookup(ids_s, src)
                        di = _sorted_lookup(ids_s, dst)
                        ok = (si >= 0) & (di >= 0)
                        yield pd.DataFrame({
                            "src": src[ok], "dst": dst[ok],
                            "_cos": np.einsum("ij,ij->i",
                                              m[si[ok]], m[di[ok]])})
                return cand.mapInPandas(score,
                                        "src long, dst long, _cos double")
            return (cand
                    .join(base.select(F.col("nid").alias("src"),
                                      F.col("_v").alias("_vs")), "src")
                    .join(base.select(F.col("nid").alias("dst"),
                                      F.col("_v").alias("_vd")), "dst")
                    .select("src", "dst",
                            _dot_expr(F.col("_vs"), F.col("_vd"))
                            .alias("_cos")))

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
                edges.select(F.col("dst").alias("src"),
                             F.col("src").alias("dst")))
            non = (sym.alias("a")
                   .join(sym.alias("b"), F.col("a.dst") == F.col("b.src"))
                   .select(F.col("a.src").alias("src"),
                           F.col("b.dst").alias("dst"))
                   .filter(F.col("src") != F.col("dst")))
            cand = non.unionByName(edges).distinct()
            new_graph = top_k(cand)
            graph.unpersist()
            graph = new_graph
    return graph.select(F.col("src").alias("vec_id"),
                        F.col("dst").alias("neighbor_id"),
                        F.round("_cos", 6).alias("cos_sim"),
                        F.col("_rn").cast("int").alias("rank"))
