"""Graph operators over edge DataFrames: PageRank, triangle census,
BFS levels.

Companion to the connected-components operator in operators/dedup.py —
the same "iterate a join, truncate lineage" discipline. PageRank ranks
near-duplicate clusters / citation-linked documents by centrality: the
canonical "which copy do I keep / which doc do I trust" signal in a
large-corpus pipeline. The triangle census measures how clustered a
co-occurrence graph is (link-farm / template detection in web corpora);
BFS levels give hop-distance neighborhoods (crawl-frontier expansion,
citation radius).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import budget
from .ckpt import truncated_checkpoint
from .dedup import (
    UF_EDGE_ROW_BYTES,
    _driver_components,
    connected_components,
)


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             damping: float = 0.85, iterations: int | None = 10,
             grid_dp: int = 9, max_rounds: int = 200) -> DataFrame:
    """Power-iteration PageRank over a directed edge list →
    (node, rank), sum(rank) == 1.

    Pure DataFrame formulation — per round: one join (ranks × edges),
    one groupBy-sum of contributions, one left-anti-derived dangling
    mass folded back uniformly (random-surfer model). Every round's
    lineage is truncated with a stats-resetting checkpoint
    (operators/ckpt.py): a plain eager localCheckpoint keeps the plan
    from doubling but PRESERVES origin Catalyst stats, whose join
    products grow geometrically per round until BigInteger stats math
    stalls the driver — fatal for convergence-length loops.

    ``iterations=N`` runs exactly N rounds (the oracle-pinned mode:
    power iteration contracts by the damping factor per round, so 10
    rounds bound the rank error by ~0.85^10 ≈ 0.2% of total mass, and
    a fixed count keeps every run — and the unrolled SQL oracle —
    identical). ``iterations=None`` iterates to CONVERGENCE with
    signature-based termination (the dedup_cluster pattern): after
    each round one bounded 1-scalar collect takes the xxhash64-sum
    signature of the rank vector snapped to a ``grid_dp``-decimal
    grid, and the loop stops the first time the signature repeats —
    the grid-stationary fixed point, reached in ~log(10^-grid_dp) /
    log(damping) rounds (≈127 at 9 dp / 0.85). ``max_rounds`` is the
    runaway backstop for adversarial damping values: exhausting it
    raises ``RuntimeError`` rather than returning unconverged ranks.

    Scale: the join shuffles on the edge key both ways; node/rank
    state is 16 bytes a row; hot pages skew the contribution groupBy,
    which AQE skew-join splits.
    """
    e = (edges.select(F.col(src).cast("long").alias("src"),
                      F.col(dst).cast("long").alias("dst"))
         .filter(F.col("src") != F.col("dst")).distinct()
         .localCheckpoint(eager=True))
    nodes = (e.select(F.col("src").alias("node"))
             .unionByName(e.select(F.col("dst").alias("node")))
             .distinct().localCheckpoint(eager=True))
    n = nodes.count()
    if n == 0:   # empty graph: no mass to distribute, no rank rows
        return nodes.select("node", F.lit(0.0).alias("rank"))
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ranks = nodes.select("node", (F.lit(1.0) / n).alias("rank"))

    def power_round(ranks: DataFrame) -> DataFrame:
        contribs = (e.join(out_deg, "src")
                    .join(ranks, F.col("src") == F.col("node"))
                    .groupBy(F.col("dst").alias("node"))
                    .agg(F.sum(F.col("rank") / F.col("deg")).alias("contrib")))
        dangling = (ranks.join(out_deg,
                               ranks["node"] == out_deg["src"], "left_anti")
                    .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dang")))
        # eager=False (r12, guide §1.2): lineage/stats still truncate
        # per round, but materialization folds into the next driver
        # action — the signature collect in convergence mode, the
        # caller's single action across ALL rounds in fixed-iteration
        # mode — instead of paying one checkpoint job barrier per round.
        return truncated_checkpoint(
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select("node",
                    ((1.0 - damping) / n
                     + damping * (F.coalesce(F.col("contrib"), F.lit(0.0))
                                  + F.col("dang") / n)).alias("rank")),
            eager=False)

    if iterations is None:
        # Convergence = the grid signature REPEATS within a short
        # history window, not only on two consecutive rounds: a rank
        # vector oscillating between two adjacent grid points
        # (period-2 cycle — possible when updates straddle a rounding
        # boundary) never produces equal consecutive signatures, and
        # would otherwise burn the whole max_rounds backstop. A
        # 4-signature window catches period ≤ 4 cycles; any repeat
        # means the sequence is periodic on the grid, so the current
        # vector IS a grid-stationary state. If the backstop is hit
        # without a repeat (e.g. damping ≥ 0.9 needs ~197+ rounds at
        # the 9-dp grid), raise instead of returning unconverged ranks.
        recent: list = []
        for _ in range(max_rounds):
            ranks = power_round(ranks)
            sig = ranks.agg(
                F.sum(F.xxhash64("node", F.round("rank", grid_dp))
                      .cast("decimal(38,0)")).alias("h")
            ).collect()[0].h
            if sig in recent:
                break
            recent.append(sig)
            if len(recent) > 4:
                recent.pop(0)
        else:
            raise RuntimeError(
                f"pagerank: max_rounds={max_rounds} exhausted without a "
                f"repeated grid signature (damping={damping}, "
                f"grid_dp={grid_dp}) — raise max_rounds or lower grid_dp")
    else:
        for _ in range(iterations):
            ranks = power_round(ranks)
    return ranks


def undirected_edges(edges: DataFrame, src: str = "src",
                     dst: str = "dst",
                     assume_canonical: bool = False) -> DataFrame:
    """Canonicalize an edge list to the distinct undirected form
    (a < b, no self-loops): the input contract for the census/BFS
    operators below. One shuffle (the distinct).
    ``assume_canonical`` skips the canonicalizing distinct when the
    caller already guarantees distinct a<b edges (saves one full-edge
    shuffle — the edge list is the largest intermediate in the
    operators below); the result is eagerly checkpointed either way
    so iterative consumers start from truncated lineage."""
    if assume_canonical:
        return (edges.select(F.col(src).cast("long").alias("a"),
                             F.col(dst).cast("long").alias("b"))
                .localCheckpoint(eager=True))
    a = F.least(F.col(src), F.col(dst)).cast("long").alias("a")
    b = F.greatest(F.col(src), F.col(dst)).cast("long").alias("b")
    return (edges.select(a, b)
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=True))


def triangle_census(edges: DataFrame, src: str = "src",
                    dst: str = "dst",
                    assume_canonical: bool = False) -> DataFrame:
    """Global triangle census over an undirected graph → one row
    (n_nodes, n_edges, n_wedges, n_triangles, clustering_coeff).

    Degree-oriented (compact-forward) counting: every edge is oriented
    from its lower-(degree, id) endpoint to the higher one, then a
    triangle {x,y,z} is found exactly once as the oriented wedge
    x→y, y→z closed by x→z. Orientation is the standard scale trick:
    the oriented out-degree is bounded by O(sqrt(m)) on any graph, so
    the wedge join's fan-out per node is sqrt(m) instead of the raw
    degree — on a power-law graph this is the difference between a
    runnable plan and a hot-key explosion. All three legs are hash
    equi-joins shuffled on node keys (the plan audit keeps them from
    degenerating into a cartesian); degree skew in the wedge build is
    AQE-splittable because the join key is the *middle* vertex, which
    orientation guarantees has bounded out-fan.

    The clustering coefficient is 3·triangles / wedges (wedges counted
    on the *undirected* degree, sum of C(deg, 2) — a linear agg).
    ``assume_canonical`` as in :func:`undirected_edges`.
    """
    e = undirected_edges(edges, src, dst, assume_canonical)
    deg = (e.select(F.col("a").alias("node"))
           .unionByName(e.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
    # Orient by (deg, id): lower endpoint first.
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    a_first = ((F.col("deg_a") < F.col("deg_b"))
               | ((F.col("deg_a") == F.col("deg_b"))
                  & (F.col("a") < F.col("b"))))
    o = (e.join(da, "a").join(db, "b")
         .select(F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("x"),
                 F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("y"))
         .localCheckpoint(eager=True))
    # Triangle count: |N+(x) ∩ N+(y)| summed over oriented edges.
    # r12 kernel (guide §4.2, the common_neighbor_pairs precedent): the
    # wedge join materializes every oriented wedge as a shuffle row
    # (~50M at sf0.1) only to probe it against the edge set. When the
    # oriented edge list's CSR fits the driver budget it broadcasts once
    # (sorted-CSR adjacency + sorted dense-packed edge keys) and edge
    # chunks count their wedge hits with vectorized CSR gathers +
    # searchsorted membership in a mapInPandas kernel — wedges never
    # become rows, only per-chunk partial counts leave Python. Exact
    # integer counting, identical to the 3-way join, which remains the
    # over-budget fallback and the 100 TB shape.
    m_edges = o.count()   # cheap: o is eagerly checkpointed
    spark = edges.sparkSession
    tri = None
    if m_edges > 0 and budget.fits_driver(m_edges * CSR_EDGE_ROW_BYTES):
        import numpy as np
        import pandas as pd

        opdf = o.toPandas()       # budget-gated driver collect
        xv = opdf["x"].to_numpy(dtype=np.int64)
        yv = opdf["y"].to_numpy(dtype=np.int64)
        ids = np.unique(np.concatenate([xv, yv]))
        nn = np.int64(len(ids))
        xi = np.searchsorted(ids, xv)
        yi = np.searchsorted(ids, yv)
        order = np.argsort(xi, kind="stable")
        heads, tails = xi[order], yi[order]
        indptr = np.zeros(len(ids) + 1, dtype=np.int64)
        indptr[1:] = np.bincount(xi, minlength=len(ids)).cumsum()
        keys = np.sort(xi * nn + yi)   # dense-packed, nn < 2^32 by ids
        kbc = spark.sparkContext.broadcast((heads, tails, indptr, keys,
                                            nn))
        chunk = 65536
        n_chunks = (m_edges + chunk - 1) // chunk

        def count_tris(batches):
            heads_b, tails_b, indptr_b, keys_b, n_b = kbc.value
            for bdf in batches:
                total = 0
                for cid in bdf["id"].to_numpy():
                    lo = int(cid) * chunk
                    hi = min(lo + chunk, len(heads_b))
                    hx = heads_b[lo:hi]
                    hy = tails_b[lo:hi]
                    cz = indptr_b[hy + 1] - indptr_b[hy]
                    owners = np.repeat(hx, cz)
                    ws = _csr_gather(tails_b, indptr_b, hy, cz)
                    probe = owners * n_b + ws
                    pos = np.minimum(np.searchsorted(keys_b, probe),
                                     len(keys_b) - 1)
                    total += int((keys_b[pos] == probe).sum())
                yield pd.DataFrame({"c": [total]})

        par = spark.sparkContext.defaultParallelism
        # Materialize the kernel's single-long result eagerly so the
        # CSR broadcast (~1 GB of int64 arrays at the 32M-edge cap) can
        # be destroyed NOW instead of leaking one copy per call (r13,
        # ADVICE: bench sessions run each entry 3-5 times and the
        # blocks accumulated on driver and executors). The count rides
        # on as a 1-row literal — same value, same downstream plan
        # shape as the old lazy aggregate.
        n_tri = (spark.range(n_chunks).repartition(par)
                 .mapInPandas(count_tris, "c long")
                 .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long")
                      .alias("n_triangles")).collect()[0][0])
        kbc.destroy()
        tri = spark.createDataFrame([(int(n_tri),)], "n_triangles long")
    if tri is None:
        xy = o.select(F.col("x").alias("w_x"), F.col("y").alias("w_y"))
        yz = o.select(F.col("x").alias("w_y2"), F.col("y").alias("w_z"))
        closing = o.select(F.col("x").alias("c_x"), F.col("y").alias("c_z"))
        tri = (xy.join(yz, F.col("w_y") == F.col("w_y2"))
               .join(closing, (F.col("c_x") == F.col("w_x"))
                     & (F.col("c_z") == F.col("w_z")))
               .agg(F.count(F.lit(1)).alias("n_triangles")))
    # Per-node C(deg,2) with integer DIV (deg*(deg-1) is always even):
    # the long sum stays exact past 2^53, where a double division would
    # silently round — same exact-integer discipline as the money sums.
    summary = (deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr(
            "CAST(deg AS BIGINT) * (CAST(deg AS BIGINT) - 1) DIV 2"))
        .alias("n_wedges")))
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    # Three 1-row frames — bounded crossJoins (plan-audit allowlisted
    # by the registered query).
    return (summary.crossJoin(n_edges).crossJoin(tri)
            .select("n_nodes", "n_edges", "n_wedges", "n_triangles",
                    F.round(F.lit(3.0) * F.col("n_triangles")
                            / F.col("n_wedges"), 9)
                    .alias("clustering_coeff")))


def kcore_peel(edges: DataFrame, k: int = 3, rounds: int | None = 6,
               src: str = "src", dst: str = "dst",
               assume_canonical: bool = False) -> DataFrame:
    """k-core decomposition by bulk-synchronous peeling →
    (node, core_degree): ``rounds=N`` runs exactly N peels (the
    oracle-pinned mode — a fixed count keeps every run and the
    round-for-round unrolled SQL oracle identical); ``rounds=None``
    peels to CONVERGENCE with signature-based early termination (the
    dedup_cluster pattern): after each round one bounded 2-scalar
    collect takes the surviving edge set's (count, xxhash64-sum)
    signature and the loop stops the first time it repeats — peeling
    is MONOTONE (the edge set only shrinks), so an unchanged signature
    IS the fixed point, and the converged result equals the sequential
    bucket-queue peel (property-tested against a pure-python reference
    on fuzzed graphs). Non-oracle callers get the true k-core of
    arbitrarily deep peeling cascades at the cost of one tiny collect
    per round.

    Per round: one degree groupBy over the surviving symmetric edge
    list, a ``deg ≥ k`` node filter, and two hash equi-joins that drop
    every edge touching a peeled node — lineage truncated per round with
    the stats-resetting checkpoint (operators/ckpt.py; a plain eager
    localCheckpoint inherits origin Catalyst stats whose join products
    compound ×3 per round here — fatal past ~15 rounds). All
    arithmetic is integer-exact: no float noise anywhere.

    Scale: state per round is one slim (s, d) edge frame + a node
    list; both joins shuffle on node keys (AQE-coalesced, and the
    survivor side shrinks monotonically — late rounds are broadcast
    joins in practice). The classic single-machine bucket-queue
    algorithm is inherently sequential; this is the standard BSP
    reformulation that trades O(peel-depth) rounds for full
    parallelism within each round.
    """
    u = undirected_edges(edges, src, dst, assume_canonical)
    cur = (u.select(F.col("a").alias("s"), F.col("b").alias("d"))
           .unionByName(u.select(F.col("b").alias("s"),
                                 F.col("a").alias("d")))
           .localCheckpoint(eager=True))

    def peel_round(cur: DataFrame) -> DataFrame:
        deg = cur.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
        # eager=False: the keep list is still checkpointed (lineage +
        # stats truncated, computed once — both joins reference the
        # same persisted RDD) but materializes inside the cur-
        # checkpoint action below instead of as its own job barrier —
        # one driver round trip per peel instead of two (guide §1.2:
        # the loop's wall at bench scale is job-count-bound).
        keep = truncated_checkpoint(
            deg.filter(F.col("deg") >= k).select("s"), eager=False)
        return truncated_checkpoint(
            cur.join(keep, "s")
            .join(keep.select(F.col("s").alias("d")), "d")
            .select("s", "d"))

    if rounds is None:
        prev_n = None
        while True:
            cur = peel_round(cur)
            # Peeling is MONOTONE and each round's output is a row-
            # subset of its input, so an unchanged COUNT already
            # implies an unchanged edge set — the count alone is the
            # fixed-point test (the previous (count, xxhash64-sum)
            # signature hashed every surviving edge each round for a
            # second component that can never disagree when the first
            # matches; dropped per guide §2.3 — don't compute bytes
            # you throw away). The count scans the partitions the
            # checkpoint just cached, so the test job is cheap.
            n = cur.count()
            if n == prev_n:
                break
            prev_n = n
    else:
        for _ in range(rounds):
            cur = peel_round(cur)
    return (cur.groupBy("s").agg(F.count(F.lit(1)).alias("core_degree"))
            .filter(F.col("core_degree") >= k)
            .select(F.col("s").alias("node"), "core_degree"))


def bfs_levels(edges: DataFrame, source: int, max_depth: int = 6,
               src: str = "src", dst: str = "dst",
               assume_canonical: bool = False) -> DataFrame:
    """Hop distance from ``source`` over an undirected edge list →
    (node, level), level = minimal hop count ≤ max_depth.

    Bulk-synchronous frontier BFS: per round, join the frontier with
    the adjacency (shuffle on the node key), distinct the discovered
    set, anti-join against visited, truncate lineage with the
    stats-resetting checkpoint (operators/ckpt.py — a plain eager
    localCheckpoint keeps the plan from doubling per round but lets
    Catalyst join-stat products compound geometrically). State per
    round is two
    slim (node[, level]) frames; the adjacency is checkpointed once
    and re-shuffled on its join key each round, which AQE coalesces.
    The empty-frontier early exit costs one bounded isEmpty per round.
    ``assume_canonical`` as in :func:`undirected_edges`.
    """
    u = undirected_edges(edges, src, dst, assume_canonical)
    adj = (u.select(F.col("a").alias("e_s"), F.col("b").alias("e_d"))
           .unionByName(
               u.select(F.col("b").alias("e_s"), F.col("a").alias("e_d"))))
    spark = edges.sparkSession
    visited = spark.createDataFrame([(int(source), 0)], "node long, level int")
    frontier = visited.select("node")
    for lvl in range(1, max_depth + 1):
        # eager=False (r12, guide §1.2): the isEmpty probe (and the
        # next round's join) materializes the lazily-checkpointed
        # frames — lineage/stats still truncate per round, without a
        # dedicated checkpoint job barrier each.
        nxt = truncated_checkpoint(
            frontier.join(adj, frontier["node"] == adj["e_s"])
            .select(F.col("e_d").alias("node")).distinct()
            .join(visited, "node", "left_anti"), eager=False)
        if nxt.isEmpty():
            break
        visited = truncated_checkpoint(visited.unionByName(
            nxt.select("node", F.lit(lvl).alias("level"))), eager=False)
        frontier = nxt
    return visited


def label_propagation(edges: DataFrame, src: str = "src",
                      dst: str = "dst", rounds: int = 8) -> DataFrame:
    """Synchronous modal label propagation (LPA communities) over an
    undirected edge list → (node, label).

    Every node starts labeled with its own id; each round, every node
    adopts the MOST FREQUENT label among its neighbors, ties broken by
    the smallest label — the deterministic tie-break is what makes the
    algorithm engine-replayable (classic async LPA visits nodes in
    random order; synchronous + (count DESC, label ASC) makes every
    round a pure function of the previous labeling, so a fixed-round
    run unrolls into an exact integer SQL oracle). Fixed synchronous
    rounds also sidestep LPA's known oscillation on bipartite-ish
    regions: the round budget snapshots a well-defined state on both
    engines instead of chasing a fixed point that may not exist.

    Distinct from connected components (operators/dedup.py
    star-contraction): CC merges everything reachable; modal LPA keeps
    DENSELY-interlinked groups separate even when bridged by a few
    edges — the community structure signal (product families in a
    co-purchase graph, template clusters in a link graph).

    Scale shape: per round one labels-join (shuffle on node key), one
    (node, label) count aggregation, one per-node top-1 window — all
    hash-partitioned on node; lineage/stats truncated per round
    (operators/ckpt.py), so any round budget stays flat."""
    e = edges.select(F.col(src).cast("long").alias("s"),
                     F.col(dst).cast("long").alias("d"))
    e = (e.unionByName(e.select(F.col("d").alias("s"),
                                F.col("s").alias("d")))
         .distinct().localCheckpoint(eager=True))
    labels = (e.select(F.col("s").alias("node")).distinct()
              .select("node", F.col("node").alias("label"))
              .localCheckpoint(eager=True))
    from pyspark.sql import Window
    for _ in range(rounds):
        cnt = (e.join(labels.withColumnRenamed("node", "s"), "s")
               .groupBy(F.col("d").alias("node"), "label")
               .agg(F.count(F.lit(1)).alias("c")))
        w = Window.partitionBy("node").orderBy(F.col("c").desc(), "label")
        win = (cnt.withColumn("_rn", F.row_number().over(w))
               .filter(F.col("_rn") == 1)
               .select("node", F.col("label").alias("_new")))
        # eager=False (r12, guide §1.2): fixed rounds with no
        # inter-round driver decision — all 8 lazily-checkpointed
        # rounds materialize inside the caller's single action instead
        # of paying one checkpoint job barrier per round.
        labels = truncated_checkpoint(
            labels.join(win, "node", "left")
            .select("node",
                    F.coalesce("_new", "label").alias("label")),
            eager=False)
    return labels


def boruvka_msf(edges: DataFrame, src: str = "s", dst: str = "d",
                w_col: str = "w", maximum: bool = False,
                max_rounds: int = 40) -> DataFrame:
    """Minimum (or maximum) spanning forest by distributed Borůvka —
    THE parallel MST algorithm (each round every component picks its
    best incident edge simultaneously, components then contract), in
    plain relational rounds: one labels join + one per-component
    window min + one star-contraction CC per round, O(log n) rounds
    regardless of diameter.

    Determinism / uniqueness: edges are ordered by the STRICT total
    order (±w, s, d), which makes the spanning forest UNIQUE (the
    classic distinct-weights argument applied to the lexicographic
    perturbation) — so Borůvka here and Kruskal anywhere else produce
    the SAME edge set, which is exactly what the test pins. Cycle
    safety under a strict total order is the textbook Borůvka
    invariant.

    Scale shape: per round, the edge relabel is two hash joins on the
    node key; the best-edge pick is one window over edge endpoints
    keyed by component; the contraction runs on the CHOSEN edges only
    (<= one per component — a graph that halves each round): the
    driver union-find of operators/dedup when the chosen edges fit the
    driver budget, star CC otherwise. Labels are lineage-truncated per
    round (operators/ckpt).
    ``maximum=True`` negates the comparison (maximum spanning forest
    — e.g. the strongest-affinity backbone of a similarity graph)."""
    spark = edges.sparkSession
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"),
                     F.col(w_col).alias("w")).localCheckpoint(eager=True)
    # r13 (guide §3/§1.2): component labels ride ON the edge frame
    # (cs, cd), updated each round by joining the CONTRACTION MAP
    # (comp -> new comp, <= one entry per merged component) — the old
    # shape re-joined a full node→label table onto BOTH endpoints of
    # the original edge list every round (two node-key hash joins of
    # the whole edge set) and paid a separate checkpoint + isEmpty
    # probe before the pick. Now the cross-component frontier is a
    # narrow filter over the carried labels, the relabel is two joins
    # against the small map (broadcast under the driver budget), and
    # the per-round driver actions are exactly two: chosen.count()
    # (which doubles as the emptiness probe and materializes the
    # round's lazy checkpoints) and the bounded contraction collect.
    ecur = truncated_checkpoint(
        e.select("s", "d", "w", F.col("s").alias("cs"),
                 F.col("d").alias("cd")), eager=False)
    order_w = F.col("w").desc() if maximum else F.col("w").asc()
    msf = spark.createDataFrame([], e.schema)
    for _ in range(max_rounds):
        el = ecur.filter(F.col("cs") != F.col("cd"))
        cand = (el.select(F.col("cs").alias("comp"), "s", "d", "w",
                          "cs", "cd")
                .unionByName(el.select(F.col("cd").alias("comp"),
                                       "s", "d", "w", "cs", "cd")))
        win = Window.partitionBy("comp").orderBy(order_w, "s", "d")
        chosen = (cand.withColumn("_rn", F.row_number().over(win))
                  .filter(F.col("_rn") == 1)
                  .select("s", "d", "w", "cs", "cd").distinct())
        chosen = truncated_checkpoint(chosen, eager=False)
        n_chosen = chosen.count()   # materializes + probes in ONE job
        if n_chosen == 0:
            break
        msf = msf.unionByName(chosen.select("s", "d", "w"))
        # Contract the chosen-edge graph. It holds <= one edge per
        # component (components at least halve per round), so within
        # the driver budget a Python union-find over the collected
        # (cs, cd) pairs replaces the star-CC sub-loop — whose own
        # per-round checkpoints + signature collects cost ~6-10 Spark
        # jobs per MST round for a graph this shape contracts in
        # microseconds (r12, guide §1.2: the decision data is tiny,
        # only the relabel join is data-proportional). Both routes
        # return the (doc_id -> component min) map;
        # connected_components remains the over-budget 100 TB
        # fallback, gated on the count this round already holds.
        pairs = chosen.select(F.col("cs").alias("d1"),
                              F.col("cd").alias("d2"))
        driver = budget.fits_driver(n_chosen * UF_EDGE_ROW_BYTES)
        cc = (_driver_components(pairs) if driver
              else connected_components(pairs))
        # Broadcast only the driver route's map: the star route's
        # round-1 map is ~n/2 rows (AQE broadcasts it only once
        # contraction shrinks it).
        hint = F.broadcast if driver else (lambda df: df)
        ms = hint(cc.select(F.col("doc_id").alias("cs"),
                            F.col("cluster_id").alias("_ns")))
        md = hint(cc.select(F.col("doc_id").alias("cd"),
                            F.col("cluster_id").alias("_nd")))
        ecur = truncated_checkpoint(
            ecur.join(ms, "cs", "left").join(md, "cd", "left")
            .select("s", "d", "w",
                    F.coalesce("_ns", "cs").alias("cs"),
                    F.coalesce("_nd", "cd").alias("cd")),
            eager=False)
    else:
        # Rounds exhausted without the empty-frontier break: verify
        # convergence rather than silently returning a PARTIAL forest.
        # Components at least halve per round, so the default 40
        # rounds cover ~2^40 (1e12) nodes; hitting this means the
        # caller asked for too few rounds for the graph.
        if not ecur.filter(F.col("cs") != F.col("cd")).isEmpty():
            raise RuntimeError(
                f"boruvka_msf: max_rounds={max_rounds} exhausted with "
                f"cross-component edges remaining — the forest is "
                f"incomplete; raise max_rounds (each round at least "
                f"halves the component count)")
    return msf


#: Driver bytes per edge row of the CSR kernels (collected endpoints,
#: unique ids, index arrays, CSR order): tracemalloc peak measured
#: 137 B/row (common neighbors) and 97 B/row (triangles) on 1M edges.
CSR_EDGE_ROW_BYTES = 144


def _csr_gather(indices, indptr, nodes, cnt):
    """Concatenate the adjacency lists of ``nodes`` (vectorized CSR
    gather): cnt = indptr[nodes+1] - indptr[nodes] precomputed."""
    import numpy as np

    total = int(cnt.sum())
    if total == 0:
        return np.empty(0, dtype=indices.dtype)
    off = np.arange(total) - np.repeat(cnt.cumsum() - cnt, cnt)
    return indices[np.repeat(indptr[nodes], cnt) + off]


def common_neighbor_pairs(edges: DataFrame, src: str = "s",
                          dst: str = "d", min_common: int = 3,
                          est_edges: int | None = None) -> DataFrame:
    """(n1, n2, cn) for NON-adjacent node pairs n1 < n2 sharing at
    least ``min_common`` neighbors in the undirected graph given by
    canonical ``src < dst`` edges — exact integer counts, identical to
    the wedge-join + groupBy formulation (which remains the over-budget
    fallback and the 100 TB shape).

    Why the kernel (r12, guide §4.2): the wedge join materializes
    Σ_z deg(z)² rows (298M at sf0.1, the whole 25 s wall) only to
    count them per pair. When the edge list's CSR fits the driver
    budget (checked on ``est_edges``, then on the actual collected
    size), the counting runs as a broadcast-CSR bincount in
    numpy over node chunks via mapInPandas: wedges never become rows,
    adjacency/self pairs are zeroed in the count matrix (exactly the
    old anti-join + n1 < n2 cut), and only the surviving
    (n1, n2, cn ≥ min_common) pairs leave the kernel. All downstream
    arithmetic (Jaccard division, rounding, ordering) stays in Spark,
    so emitted values are bit-identical to the relational plan's."""
    import numpy as np
    import pandas as pd

    spark = edges.sparkSession
    sdf = edges.select(F.col(src).cast("long").alias("s"),
                       F.col(dst).cast("long").alias("d"))
    pdf = None
    if (est_edges is not None
            and budget.fits_driver(est_edges * CSR_EDGE_ROW_BYTES)):
        pdf = sdf.toPandas()      # budget-gated driver collect
        if (len(pdf) == 0 or not
                budget.fits_driver(len(pdf) * CSR_EDGE_ROW_BYTES)):
            pdf = None            # estimate lied / nothing to index
    if pdf is None:
        # Relational wedge plan — the pre-r12 formulation, and the
        # shape that scales past the broadcast budget.
        sym = sdf.unionByName(
            sdf.select(F.col("d").alias("s"), F.col("s").alias("d")))
        a = sym.select(F.col("s").alias("n1"), F.col("d").alias("z"))
        b = sym.select(F.col("s").alias("z"), F.col("d").alias("n2"))
        wedges = (a.join(b, "z")
                  .where(F.col("n1") < F.col("n2"))
                  .groupBy("n1", "n2").agg(F.count(F.lit(1)).alias("cn"))
                  .where(F.col("cn") >= min_common))
        return wedges.join(
            sdf.select(F.col("s").alias("n1"), F.col("d").alias("n2")),
            ["n1", "n2"], "left_anti")

    s = pdf["s"].to_numpy()
    d = pdf["d"].to_numpy()
    ids = np.unique(np.concatenate([s, d]))   # sorted: index order == id order
    si = np.searchsorted(ids, s)
    di = np.searchsorted(ids, d)
    n = len(ids)
    heads = np.concatenate([si, di])
    tails = np.concatenate([di, si])
    order = np.argsort(heads, kind="stable")
    indices = tails[order]
    indptr = np.zeros(n + 1, dtype=np.int64)
    indptr[1:] = np.bincount(heads, minlength=n).cumsum()
    bc = spark.sparkContext.broadcast((ids, indptr, indices))

    def count_chunks(batches):
        ids_b, indptr_b, indices_b = bc.value
        n_b = len(ids_b)
        for bdf in batches:
            qs = np.searchsorted(ids_b, bdf["n1"].to_numpy())
            for lo in range(0, len(qs), 256):
                qi = qs[lo:lo + 256]
                m = len(qi)
                cz = indptr_b[qi + 1] - indptr_b[qi]
                owners = np.repeat(np.arange(m), cz)
                zs = _csr_gather(indices_b, indptr_b, qi, cz)
                ct = indptr_b[zs + 1] - indptr_b[zs]
                owners2 = np.repeat(owners, ct)
                tg = _csr_gather(indices_b, indptr_b, zs, ct)
                M = np.bincount(owners2 * n_b + tg,
                                minlength=m * n_b).reshape(m, n_b)
                M[owners, zs] = 0                       # adjacent out
                M[np.arange(m), qi] = 0                 # self out
                M[np.arange(n_b)[None, :] <= qi[:, None]] = 0   # n2 > n1
                r, c = np.nonzero(M >= min_common)
                yield pd.DataFrame(
                    {"n1": ids_b[qi[r]].astype("int64"),
                     "n2": ids_b[c].astype("int64"),
                     "cn": M[r, c].astype("int64")})

    nodes = spark.createDataFrame(pd.DataFrame({"n1": ids}))
    par = spark.sparkContext.defaultParallelism
    return (nodes.repartition(par)
            .mapInPandas(count_chunks, "n1 long, n2 long, cn long"))
