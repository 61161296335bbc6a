"""Semantic invariants of the round-5 analytics/eval pack — properties
the oracle compare cannot express (it only proves Spark == DuckDB, not
that either computes the RIGHT statistic). Each test pins a closed-form
or order-theoretic fact about the estimator itself, at sf0.001.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from integrator_spark.registry import all_specs

from .conftest import TEST_SF_DIR

SPECS = all_specs()


def run(name, spark):
    return SPECS[name].fn(spark, TEST_SF_DIR).toPandas()


def test_survival_is_monotone_nonincreasing(spark):
    pdf = run("stats_survival", spark).sort_values("t")
    surv = pdf["survival"].tolist()
    assert all(a >= b - 1e-9 for a, b in zip(surv, surv[1:])), surv
    assert (pdf["survival"] <= 1.0).all() and (pdf["survival"] >= 0.0).all()
    # at-risk counts strictly decrease along event times
    nar = pdf["n_at_risk"].tolist()
    assert all(a > b for a, b in zip(nar, nar[1:])), nar
    # non-vacuity: the fixture must actually produce churn events
    assert len(pdf) >= 2 and (pdf["d"] >= 1).all()


def test_psi_of_identical_distributions_is_zero(spark):
    """Self-drift must score ~0: rebuild the stats_psi construction with
    BOTH sides = the full corpus; every term has p_cur == p_ref."""
    from pyspark.sql import Window

    from integrator_spark.functions.num import laplace_share, psi_term
    from integrator_spark.io import load_table

    d = load_table(spark, TEST_SF_DIR, "documents")
    counts = (d.select(F.least(F.floor(F.col("n_chars") / 50), F.lit(9))
                       .cast("long").alias("bin"))
              .groupBy("bin").agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy()
    p = laplace_share("n", F.sum("n").over(w), cells=10)
    total = (counts.select(psi_term(p, p).alias("t"))
             .agg(F.sum("t")).collect()[0][0])
    assert abs(total) < 1e-12


def test_auc_is_one_for_separable_label(spark):
    """Label defined BY the ranking feature => AUC must be exactly 1."""
    from pyspark.sql import Window

    from integrator_spark.io import load_table

    o = load_table(spark, TEST_SF_DIR, "orders")
    by_s = (o.select(F.col("o_totalprice").alias("s"),
                     F.when(F.col("o_totalprice") > 150000.0, 1)
                      .otherwise(0).alias("label"))
            .groupBy("s").agg(F.sum("label").alias("c_pos"),
                              F.count(F.lit(1)).alias("c_tot")))
    w = (Window.orderBy("s")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ranked = by_s.select("c_pos", "c_tot",
                         F.sum("c_tot").over(w).alias("cum"))
    n_pos = F.sum("c_pos")
    n_neg = F.sum("c_tot") - n_pos
    two_r = F.sum(F.col("c_pos") * (2 * F.col("cum") - F.col("c_tot") + 1))
    auc = ranked.agg(
        ((two_r.cast("double") - n_pos.cast("double") * (n_pos + 1))
         / (F.lit(2.0) * n_neg * n_pos)).alias("auc")).collect()[0]["auc"]
    assert auc == 1.0


def test_registered_auc_matches_sklearn_free_reference(spark):
    """Midrank AUC equals the pair-counting definition computed in
    pure Python on the collected per-user frame."""
    pdf = run("ml_auc", spark)
    import duckdb
    ref = duckdb.sql(f"""
      WITH s AS (SELECT o_totalprice AS x,
                        CASE WHEN o_orderstatus='F' THEN 1 ELSE 0 END AS y
                 FROM read_parquet('{TEST_SF_DIR}/orders.parquet'))
      SELECT (SELECT COUNT(*) FROM s a, s b
              WHERE a.y=1 AND b.y=0 AND a.x > b.x) AS gt,
             (SELECT COUNT(*) FROM s a, s b
              WHERE a.y=1 AND b.y=0 AND a.x = b.x) AS eq,
             (SELECT COUNT(*) FROM s WHERE y=1) AS n1,
             (SELECT COUNT(*) FROM s WHERE y=0) AS n0
    """).fetchall()[0]
    gt, eq, n1, n0 = ref
    expected = round((gt + 0.5 * eq) / (n0 * n1), 6)
    assert float(pdf["auc"].iloc[0]) == pytest.approx(expected, abs=1e-6)


def test_weighted_median_equals_plain_median_under_unit_weights(spark):
    """With all weights forced to 1 the cumulative-weight definition
    must reduce to the lower median of distinct-collapsed values."""
    from pyspark.sql import Window

    from integrator_spark.io import load_table

    li = load_table(spark, TEST_SF_DIR, "lineitem")
    by_v = (li.groupBy(F.col("l_returnflag").alias("flag"),
                       F.col("l_extendedprice").alias("v"))
            .agg(F.count(F.lit(1)).cast("decimal(38,6)").alias("w")))
    w_cum = (Window.partitionBy("flag").orderBy("v")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = by_v.select("flag", "v", F.sum("w").over(w_cum).alias("c"),
                      F.sum("w").over(Window.partitionBy("flag")).alias("t"))
    got = {r["flag"]: r["m"] for r in
           (cum.where(2 * F.col("c") >= F.col("t"))
            .groupBy("flag").agg(F.min("v").alias("m"))).collect()}
    rows = li.select("l_returnflag", "l_extendedprice").collect()
    import collections
    vals = collections.defaultdict(list)
    for r in rows:
        vals[r["l_returnflag"]].append(r["l_extendedprice"])
    for flag, xs in vals.items():
        xs.sort()
        n = len(xs)
        lower_median = xs[(n - 1) // 2] if n % 2 else xs[n // 2 - 1]
        assert got[flag] == lower_median, (flag, got[flag], lower_median)


def test_bloom_join_result_is_filter_size_invariant(spark):
    """Adversarial undersizing: a deliberately tiny Bloom filter (high
    fpp) must yield the SAME join result — false positives only add
    verify work, never rows."""
    from integrator_spark.io import load_table
    from integrator_spark.operators.bloom import (bloom_maybe_contains,
                                                  build_bloom)

    li = load_table(spark, TEST_SF_DIR, "lineitem")
    o = load_table(spark, TEST_SF_DIR, "orders")
    dim = o.where((F.col("o_orderpriority") == "1-URGENT")
                  & (F.col("o_orderstatus") == "F"))

    def run_with(n_est, fpp):
        bits, m, k = build_bloom(dim.select("o_orderkey"), "o_orderkey",
                                 n_estimate=n_est, fpp=fpp)
        pre = (bloom_maybe_contains(li, "l_orderkey", bits, m, k)
               .where(F.col("_maybe")).drop("_maybe"))
        out = (pre.join(dim, pre.l_orderkey == dim.o_orderkey)
               .groupBy().agg(F.count(F.lit(1)).alias("n"),
                              F.sum(F.col("l_extendedprice")
                                    .cast("decimal(38,6)")).alias("rev")))
        return out.collect()[0]

    big = run_with(1 << 16, 0.01)
    tiny = run_with(8, 0.5)   # pathologically undersized — fpp near 1
    assert big["n"] == tiny["n"] and big["rev"] == tiny["rev"]


def test_lift_decile_gain_reaches_one(spark):
    pdf = run("ml_lift", spark).sort_values("decile")
    assert float(pdf["gain"].iloc[-1]) == pytest.approx(1.0, abs=1e-9)
    # cumulative gain is nondecreasing; first-decile lift >= last
    gains = pdf["gain"].tolist()
    assert all(a <= b + 1e-12 for a, b in zip(gains, gains[1:]))


def test_confusion_matrix_totals_and_f1_consistency(spark):
    pdf = run("ml_confusion", spark)
    r = pdf.iloc[0]
    import duckdb
    n = duckdb.sql(f"SELECT COUNT(*) FROM read_parquet("
                   f"'{TEST_SF_DIR}/orders.parquet')").fetchone()[0]
    assert int(r.tp + r.fp + r.fn + r.tn) == n
    p, rec = float(r.precision), float(r.recall)
    assert float(r.f1) == pytest.approx(2 * p * rec / (p + rec), abs=2e-6)


def test_gini_bounds_and_translation_response(spark):
    pdf = run("stats_gini", spark)
    g = float(pdf["gini"].iloc[0])
    assert 0.0 <= g < 1.0
    # equal values => gini ~ 0 (rank identity sanity, computed inline)
    from pyspark.sql import Window

    from integrator_spark.io import load_table
    e = load_table(spark, TEST_SF_DIR, "events")
    per = (e.groupBy("user_id")
           .agg(F.lit(7).cast("decimal(38,6)").alias("x")))
    ranked = per.select(
        "x", F.row_number().over(Window.orderBy("x", "user_id")).alias("r"))
    n = F.count(F.lit(1))
    gini0 = ranked.agg(
        (F.lit(2.0) * F.sum(F.col("r") * F.col("x")).cast("double")
         / (n * F.sum("x").cast("double"))
         - (n + 1).cast("double") / n).alias("g")).collect()[0]["g"]
    assert abs(gini0) < 1e-9


def test_frame_sample_counts_match_stride_formula(spark):
    pdf = run("multimodal_frame_sample", spark)
    assert (pdf["n_sampled"] == (pdf["n_frames"] + 4) // 5).all()


def test_consistent_sample_is_subset_stable(spark):
    """Restricting the corpus must never change a surviving doc's
    membership — the property df.sample() does NOT have."""
    from integrator_spark.io import load_table
    full = set(run("sample_consistent", spark)["doc_id"])
    d = load_table(spark, TEST_SF_DIR, "documents")
    half = d.where(F.col("doc_id") % 2 == 0)
    u = (F.col("doc_id") * F.lit(2654435761) + F.lit(12345)) % F.lit(1000000007)
    sub = {r["doc_id"] for r in half.where(u < 100000000)
           .select("doc_id").collect()}
    assert sub == {i for i in full if i % 2 == 0}


def test_mmr_matches_independent_reference_and_is_deterministic(spark):
    """mmr_select pinned against a set-comprehension reference; the
    registered query's first pick must be the plain top-1, and two
    runs must agree exactly."""
    import numpy as np

    from integrator_spark.operators.knn import mmr_select

    rng = np.random.default_rng(7)
    rel = np.sort(rng.random(20))[::-1].copy()   # rel desc, like the query
    mat = rng.random((20, 8))
    norms = np.linalg.norm(mat, axis=1)
    sims = (mat @ mat.T) / np.outer(norms, norms)

    def reference(rel, sims, k, lam):
        chosen, pool = [], list(range(len(rel)))
        for _ in range(k):
            scores = {i: lam * rel[i]
                      - (1 - lam) * (max(sims[i][j] for j in chosen)
                                     if chosen else 0.0)
                      for i in pool}
            best = min((i for i in pool),
                       key=lambda i: (-scores[i], i))
            chosen.append(best)
            pool.remove(best)
        return chosen

    got = mmr_select(rel, sims, k=8, lam=0.7)
    assert [i for i, _ in got] == reference(rel, sims, 8, 0.7)
    # reported score must be the exact score that drove the selection
    for rank, (i, score) in enumerate(got):
        prev = [j for j, _ in got[:rank]]
        div = max(sims[i][j] for j in prev) if prev else 0.0
        assert score == pytest.approx(0.7 * rel[i] - (1 - 0.7) * div,
                                      abs=1e-12)
    assert got[0][0] == 0  # highest-relevance candidate always leads

    a = run("vec_mmr", spark)
    b = run("vec_mmr", spark)
    assert a.equals(b)
    assert int(a.sort_values("rank")["rank"].iloc[0]) == 1
    assert a["vec_id"].is_unique


# EVERY batch query must survive a zero-row corpus (production
# pipelines hit empty partitions and empty date slices constantly): an
# operator may return an empty frame, or raise the documented clean
# "empty input" ValueError for genuinely data-requiring fits — never an
# engine stack trace. Streaming queries are excluded (their drains need
# real staged files; their empty-batch behavior is covered by the
# watermark/late-data replay tests).
_PACK = sorted(n for n in SPECS if not n.startswith("stream_"))

#: Operators whose contract is a clean needs-data error, not empty-out.
_EMPTY_RAISES = {"ml_logreg", "ml_logreg_irls", "ml_ridge"}


@pytest.fixture(scope="module")
def empty_fixture_dir():
    import glob
    import os

    import duckdb as ddb
    out = "/root/repo/_derived/edge_empty_fixtures"
    os.makedirs(out, exist_ok=True)
    # regenerate unconditionally: a cached empty file with a stale
    # schema would turn fixture-schema changes into confusing
    # missing-column failures here (the files are tiny).
    for t in glob.glob(f"{TEST_SF_DIR}/*.parquet"):
        dst = os.path.join(out, os.path.basename(t))
        ddb.sql(f"COPY (SELECT * FROM read_parquet('{t}') LIMIT 0) "
                f"TO '{dst}' (FORMAT PARQUET)")
    return out


@pytest.mark.parametrize("name", _PACK)
def test_pack_query_survives_empty_input(name, spark, empty_fixture_dir):
    # Empty in, empty (or well-formed constant) out — never an exception.
    if name in _EMPTY_RAISES:
        with pytest.raises(ValueError, match="empty input"):
            SPECS[name].fn(spark, empty_fixture_dir).limit(5).toPandas()
        return
    pdf = SPECS[name].fn(spark, empty_fixture_dir).limit(5).toPandas()
    assert pdf.shape[1] > 0


def test_ml_ridge_matches_numpy_and_shrinks(spark):
    """ml_ridge's Cramer-tree solve must agree with a NumPy float64
    normal-equation solve on the same fixture to 1e-6 (the expression
    tree is algebra, not an approximation), and the lambda=100 ridge
    must shrink the feature coefficients toward zero relative to the
    NumPy lambda=0 OLS solve (intercept unpenalized by design)."""
    import duckdb as ddb
    import numpy as np

    from integrator_spark.registry import all_specs

    got = {r["feature"]: r["coef"]
           for r in all_specs()["ml_ridge"].fn(spark, TEST_SF_DIR).collect()}

    pdf = ddb.sql(
        f"SELECT l_extendedprice / 100000.0 AS y, l_quantity / 50.0 AS x1, "
        f"l_discount * 10.0 AS x2 "
        f"FROM read_parquet('{TEST_SF_DIR}/lineitem.parquet')").fetchdf()
    X = np.column_stack([np.ones(len(pdf)), pdf.x1, pdf.x2])
    A = X.T @ X
    b = X.T @ pdf.y.to_numpy()
    ridge = np.diag([0.0, 100.0, 100.0])
    beta_r = np.linalg.solve(A + ridge, b)
    beta_0 = np.linalg.solve(A, b)
    assert abs(got["intercept"] - beta_r[0]) < 1e-6
    assert abs(got["qty"] - beta_r[1]) < 1e-6
    assert abs(got["disc"] - beta_r[2]) < 1e-6
    # shrinkage: penalized coefs move toward zero vs OLS
    assert abs(beta_r[1]) <= abs(beta_0[1]) + 1e-12
    assert abs(beta_r[2]) <= abs(beta_0[2]) + 1e-12


def test_ml_tree_stump_matches_pandas_rederivation(spark):
    """ml_tree_stump's histogram split must equal a from-scratch
    pandas re-derivation (bin, cumulate, weighted Gini, argmin with
    the same tie-break) — pinning the algebra AND the bin/threshold
    bookkeeping (threshold is the bin's UPPER edge; last bin excluded
    because its right side is empty)."""
    import duckdb as ddb

    from integrator_spark.registry import all_specs

    got = all_specs()["ml_tree_stump"].fn(spark, TEST_SF_DIR).collect()[0]

    pdf = ddb.sql(
        f"SELECT o_totalprice, o_orderstatus "
        f"FROM read_parquet('{TEST_SF_DIR}/orders.parquet')").fetchdf()
    pdf["bin"] = (pdf.o_totalprice // 2000.0).astype("int64")
    pdf["y"] = (pdf.o_orderstatus == "F").astype("int64")
    h = (pdf.groupby("bin").agg(cnt=("y", "size"), pos=("y", "sum"))
         .sort_index())
    n, pos_t = int(h.cnt.sum()), int(h.pos.sum())
    best = None
    nl = posl = 0
    for b, row in h.iterrows():
        nl += int(row.cnt)
        posl += int(row.pos)
        if nl >= n:
            continue
        negl, nr = nl - posl, n - nl
        posr = pos_t - posl
        negr = nr - posr
        gini = round(((nl - (posl * posl + negl * negl) / nl)
                      + (nr - (posr * posr + negr * negr) / nr)) / n, 9)
        if best is None or (gini, b) < best[:2]:
            best = (gini, b, nl, posl, nr, posr)
    gini, b, nl, posl, nr, posr = best
    assert got["split_threshold"] == (b + 1) * 2000.0
    assert abs(got["gini"] - gini) < 2e-9
    assert (got["n_left"], got["pos_left"]) == (nl, posl)
    assert (got["n_right"], got["pos_right"]) == (nr, posr)


def test_graph_harmonic_matches_python_bfs_rederivation(spark):
    """graph_harmonic must equal a from-scratch Python BFS over the
    same ≥2-support co-purchase edges: same md5-ranked 16 sources,
    depth-4 levels, exact 12/d integer scoring, same (score desc,
    node) top-20 — pinning seed selection, frontier semantics, and
    the integer-sum float discipline in one go."""
    import collections
    import hashlib

    import duckdb as ddb

    from integrator_spark.registry import all_specs

    got = [(r["node"], r["harmonic"], r["n_reached"])
           for r in all_specs()["graph_harmonic"].fn(spark, TEST_SF_DIR)
           .collect()]

    edges = ddb.sql(f"""
        SELECT s, d FROM (
          SELECT a.l_partkey AS s, b.l_partkey AS d, COUNT(*) AS w
          FROM read_parquet('{TEST_SF_DIR}/lineitem.parquet') a
          JOIN read_parquet('{TEST_SF_DIR}/lineitem.parquet') b
            ON a.l_orderkey = b.l_orderkey
          WHERE a.l_partkey < b.l_partkey GROUP BY 1, 2) WHERE w >= 2
    """).fetchall()
    adj = collections.defaultdict(set)
    for s, d in edges:
        adj[s].add(d)
        adj[d].add(s)
    nodes = sorted(adj)
    seeds = sorted(nodes, key=lambda n: (
        hashlib.md5(str(n).encode()).hexdigest(), n))[:16]
    h12 = collections.Counter()
    reached = collections.Counter()
    for s in seeds:
        dist = {s: 0}
        frontier = [s]
        for lvl in range(1, 5):
            nxt = [v for u in frontier for v in adj[u] if v not in dist]
            for v in nxt:
                dist.setdefault(v, lvl)
            frontier = sorted(set(nxt))
        for v, dd in dist.items():
            if dd >= 1:
                h12[v] += {1: 12, 2: 6, 3: 4, 4: 3}[dd]
                reached[v] += 1
    want = sorted(((n, h12[n] / 12.0, reached[n]) for n in h12),
                  key=lambda t: (-t[1] * 12, t[0]))[:20]
    assert got == want


def test_events_pattern_match_invariants(spark):
    """Pattern-stat consistency on events_pattern_match: a strictly
    consecutive 'vcp' occurrence implies the loose v.*c.*p
    subsequence (n_vcp >= 1 -> converted), counts are bounded by the
    sequence length, and the replace-length identity counts
    NON-OVERLAPPING occurrences (n_vcp <= n_events // 3). Also
    non-vacuous: the fixture must produce both converted and
    unconverted users and at least one consecutive hit."""
    pdf = run("events_pattern_match", spark)
    assert ((pdf.n_vcp >= 1) <= pdf.converted).all()
    assert (pdf.n_vcp <= pdf.n_events // 3).all()
    assert (pdf.max_err_run <= pdf.n_events).all()
    # Non-vacuity: both consecutive hits AND zero-hit users exist
    # (with 50+ events per fixture user the loose subsequence flag is
    # always True here — the strict/loose split is what varies).
    assert (pdf.n_vcp >= 1).any() and (pdf.n_vcp == 0).any()
    assert pdf.converted.all()


def test_stats_rank_corr_matches_scipy_free_reference(spark):
    """stats_rank_corr vs a from-scratch pandas re-derivation:
    Spearman = Pearson on tie-averaged ranks, Kendall tau-b from raw
    concordant/discordant/tie counts — both to 1e-6. Also the order
    sanity: all three correlation types must agree in sign on this
    data, and |tau| <= |rho| is the usual (not universal, but holds
    here) relationship worth flagging if it flips."""
    import duckdb as ddb
    import numpy as np

    pdf = run("stats_rank_corr", spark)
    daily = ddb.sql(f"""
        SELECT COUNT(*) AS x, SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS y
        FROM read_parquet('{TEST_SF_DIR}/orders.parquet')
        GROUP BY CAST(o_orderdate AS DATE)""").fetchdf()
    x = daily.x.to_numpy(dtype=float)
    y = daily.y.to_numpy(dtype=float)
    rx = pd_rank(x)
    ry = pd_rank(y)
    rho = np.corrcoef(rx, ry)[0, 1]
    nc = nd = tx = ty = 0
    for i in range(len(x)):
        dx = x[i + 1:] - x[i]
        dy = y[i + 1:] - y[i]
        nc += int(((dx > 0) & (dy > 0)).sum() + ((dx < 0) & (dy < 0)).sum())
        nd += int(((dx > 0) & (dy < 0)).sum() + ((dx < 0) & (dy > 0)).sum())
        tx += int(((dx == 0) & (dy != 0)).sum())
        ty += int(((dy == 0) & (dx != 0)).sum())
    tau = (nc - nd) / ((nc + nd + tx) * (nc + nd + ty)) ** 0.5
    r = pdf.iloc[0]
    assert abs(r.spearman - rho) < 1e-6
    assert abs(r.kendall_tau_b - tau) < 1e-6
    assert (r.n_concordant, r.n_discordant) == (nc, nd)
    assert np.sign(r.spearman) == np.sign(r.kendall_tau_b)


def pd_rank(a):
    import pandas as pd
    return pd.Series(a).rank(method="average").to_numpy()


def test_ml_silhouette_range_reference_and_separation_response(spark):
    """ml_silhouette semantics: (a) every per-cluster mean lies in
    [-1, 1]; (b) the registered computation equals a NumPy
    re-derivation of the centroid-based silhouette on the SAME
    centroids (fit reused, so this isolates the evaluation algebra);
    (c) planting two perfectly tight, well-separated synthetic
    clusters yields silhouette ~1 — the metric responds to real
    structure, not just to the formula."""
    import numpy as np

    from integrator_spark.io import load_table
    from integrator_spark.operators.det_ann import _ivf_det_fit

    got = {r["bucket"]: (r["n_members"], r["avg_silhouette"])
           for r in SPECS["ml_silhouette"].fn(spark, TEST_SF_DIR).collect()}
    assert all(-1.0 <= v[1] <= 1.0 for v in got.values())
    assert sum(v[0] for v in got.values()) == 500

    e = load_table(spark, TEST_SF_DIR, "embeddings")
    q, cent = _ivf_det_fit(e, k=8, iters=4)
    qpd = q.toPandas()
    Q = np.array(qpd.q.tolist(), dtype=np.float64)
    C = np.array([cent[b] for b in sorted(cent)], dtype=np.float64)
    cos = (Q @ C.T) / (np.linalg.norm(Q, axis=1, keepdims=True)
                       * np.linalg.norm(C, axis=1))
    # rank with the bucket tie-break, like the query
    order = np.lexsort((np.arange(cos.shape[1])[None, :]
                        .repeat(len(Q), 0).ravel(),
                        -cos.ravel()))
    import collections
    sums = collections.defaultdict(list)
    for i in range(len(Q)):
        row = sorted(range(cos.shape[1]), key=lambda b: (-cos[i, b], b))
        b1, b2 = row[0], row[1]
        a_d, b_d = 1 - cos[i, b1], 1 - cos[i, b2]
        s = 0.0 if max(a_d, b_d) == 0 else (cos[i, b1] - cos[i, b2]) / max(a_d, b_d)
        sums[b1].append(s)
    for b, (n, avg) in got.items():
        assert n == len(sums[b])
        assert abs(avg - np.mean(sums[b])) < 1e-5, (b, avg)

    # planted structure: two tight antipodal clusters -> s ~ 1
    rng = np.random.default_rng(3)
    base = rng.normal(size=64)
    rows = []
    for i in range(40):
        v = base + rng.normal(scale=0.01, size=64)
        rows.append((i, [float(x) for x in (v / np.linalg.norm(v))]))
    for i in range(40, 80):
        v = -base + rng.normal(scale=0.01, size=64)
        rows.append((i, [float(x) for x in (v / np.linalg.norm(v))]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qq, cc = _ivf_det_fit(df.select("vec_id",
                                    F.col("embedding").cast("array<float>")
                                    .alias("embedding")), k=2, iters=4)
    QQ = np.array(qq.toPandas().q.tolist(), dtype=np.float64)
    CC = np.array([cc[b] for b in sorted(cc)], dtype=np.float64)
    cos2 = (QQ @ CC.T) / (np.linalg.norm(QQ, axis=1, keepdims=True)
                          * np.linalg.norm(CC, axis=1))
    s_vals = []
    for i in range(len(QQ)):
        srt = np.sort(cos2[i])[::-1]
        a_d, b_d = 1 - srt[0], 1 - srt[1]
        s_vals.append((srt[0] - srt[1]) / max(a_d, b_d))
    assert np.mean(s_vals) > 0.9


def test_graph_mst_equals_kruskal_exactly(spark):
    """graph_mst (distributed Borůvka, maximum spanning forest under
    the strict total order (w DESC, s, d)) must equal a from-scratch
    Python Kruskal under the SAME order — exact edge-set equality,
    the uniqueness argument made executable. Also the structural
    invariants: |MSF| = n - #components, and the forest is acyclic
    (union-find never sees a redundant edge)."""
    import duckdb as ddb

    got = {(r["s"], r["d"], r["w"])
           for r in SPECS["graph_mst"].fn(spark, TEST_SF_DIR).collect()}

    edges = ddb.sql(f"""
        SELECT s, d, w FROM (
          SELECT a.l_partkey AS s, b.l_partkey AS d, COUNT(*) AS w
          FROM read_parquet('{TEST_SF_DIR}/lineitem.parquet') a
          JOIN read_parquet('{TEST_SF_DIR}/lineitem.parquet') b
            ON a.l_orderkey = b.l_orderkey
          WHERE a.l_partkey < b.l_partkey GROUP BY 1, 2) WHERE w >= 2
    """).fetchall()
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    want = set()
    for s, d, w in sorted(edges, key=lambda e: (-e[2], e[0], e[1])):
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[rs] = rd
            want.add((s, d, w))
    assert got == want and len(got) > 0
    nodes = {s for s, _, _ in edges} | {d for _, d, _ in edges}
    n_comp = len({find(n) for n in nodes})
    assert len(got) == len(nodes) - n_comp
