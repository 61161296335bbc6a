"""Unit tests for composite operators on tiny hand-computed frames
(SURVEY.md §5.2 'engine-added tests')."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from integrator_spark.functions.text import FP_MOD, rolling_fingerprint, word_shingles
from integrator_spark.operators.asof import asof_join_backward
from integrator_spark.operators.dedup import (
    exact_dedup_keep_first,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from integrator_spark.operators.harmonize import (
    apply_rules,
    assertion_report,
    rules_frame,
)
from integrator_spark.operators.knn import knn_blocked, knn_bruteforce


def test_asof_backward_matches_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [(1, 10, "t10"), (1, 25, "t25"), (2, 5, "t5")],
        "k int, ts int, tag string")
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 20, 200.0), (1, 30, 300.0), (3, 1, 999.0)],
        "k int, rts int, val double")
    out = asof_join_backward(left, right, on=["k"], left_ts="ts",
                             right_ts="rts", right_payload=["rts", "val"])
    rows = {(r.k, r.ts): (r.rts, r.val) for r in out.collect()}
    assert rows[(1, 10)] == (10, 100.0)   # inclusive <= match
    assert rows[(1, 25)] == (20, 200.0)   # latest before, not the later 30
    assert rows[(2, 5)] == (None, None)   # no right rows for key 2
    assert out.count() == 3               # left-preserving


def test_exact_dedup_keeps_first_by_order(spark):
    df = spark.createDataFrame(
        [("a", 3, "x"), ("a", 1, "y"), ("b", 2, "z")], "k string, o int, v string")
    out = exact_dedup_keep_first(df, ["k"], ["o"]).collect()
    got = {(r.k): (r.o, r.v) for r in out}
    assert got == {"a": (1, "y"), "b": (2, "z")}


def test_ngram_jaccard_hand_computed(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f"), (3, "x y z w q")],
        "doc_id long, text string")
    out = ngram_jaccard_pairs(docs, k=3, threshold=0.4).collect()
    assert len(out) == 1
    r = out[0]
    # shingles: {abc,bcd,cde} vs {abc,bcd,cdf} -> inter 2, union 4
    assert (r.d1, r.d2, r.n_inter, r.n_a, r.n_b) == (1, 2, 2, 3, 3)
    assert r.jaccard == 0.5


def test_simhash_identical_texts_collide(spark):
    docs = spark.createDataFrame(
        [(1, "spark join merge table"), (2, "spark join merge table"),
         (3, "completely different words here elsewhere")],
        "doc_id long, text string")
    out = simhash_pairs(docs, max_hamming=3).collect()
    assert [(r.d1, r.d2, r.hamming) for r in out] == [(1, 2, 0)]


def test_simhash_batch_kernel_matches_scalar_reference():
    """The vectorized Arrow-batch SimHash kernel must be bit-identical
    to the scalar md5 reference on both internal paths (dense
    bincount+matmul for small vocab, gather+reduceat for large),
    including empty docs, repeated tokens, and multi-space runs."""
    import pandas as pd

    from integrator_spark.operators.dedup import _simhash64, _simhash_batch

    small_vocab = pd.Series([
        "", " ", "  a  b ", "single",
        "spark join merge table", "spark join merge table",
        " ".join(["same"] * 5000),
        "a b c d e " * 40,
    ])
    got = _simhash_batch(small_vocab)
    assert list(got.values) == [_simhash64(t) for t in small_vocab]
    assert str(got.dtype) == "int64"
    # Force the gather+reduceat path: n_docs * n_vocab must exceed the
    # dense-path budget (1<<23 cells) while the vocab itself stays small
    # enough that the md5 loop is cheap (3000 docs x 3000 shared tokens).
    shared = [f"tok{i}" for i in range(3000)]
    big_vocab = pd.Series(
        [" ".join(shared[(i * 7 + j) % 3000] for j in range(40))
         for i in range(3000)])
    sample_idx = [0, 1500, 2999]
    got_big = _simhash_batch(big_vocab)
    assert [got_big.iloc[i] for i in sample_idx] == \
        [_simhash64(big_vocab.iloc[i]) for i in sample_idx]


def test_route_exact_plan_boundary(monkeypatch):
    """The broadcast/twosided routing decision at the driver budget:
    a float64 matrix of exactly DRIVER_BUDGET_BYTES stays broadcast,
    one row over goes two-sided with a block count sized to fit the
    budget, capped at ceil(sqrt(n)) blocks (what a zero budget runs)."""
    import math

    from integrator_spark.operators import budget
    from integrator_spark.operators.knn import route_exact_plan

    cap_rows = budget.DRIVER_BUDGET_BYTES // 8
    assert route_exact_plan(1_000_000, 64) == ("broadcast", 1)
    assert route_exact_plan(cap_rows, 1) == ("broadcast", 1)
    plan, nb = route_exact_plan(cap_rows + 1, 1)
    assert (plan, nb) == ("twosided", 2)
    plan, nb = route_exact_plan(1_100_000, 64)  # 563 MB > 512 MiB
    assert plan == "twosided" and nb == 2
    plan, nb = route_exact_plan(10_000_000, 64)  # 5.12 GB
    assert plan == "twosided" and nb == math.ceil(
        10_000_000 * 64 * 8 / budget.DRIVER_BUDGET_BYTES)
    # parallelism floor: a 1000-core cluster must not get 4 giant tasks —
    # n_blocks lifts to ceil(sqrt(min_tasks)) so the pair fan-out covers
    # the cluster; broadcast decisions are unaffected by min_tasks.
    plan, nb = route_exact_plan(1_100_000, 64, min_tasks=32)
    assert plan == "twosided" and nb == 6        # 36 block pairs >= 32
    plan, nb = route_exact_plan(1_100_000, 64, min_tasks=1000)
    assert plan == "twosided" and nb == 32
    assert route_exact_plan(1_000_000, 64, min_tasks=1000) == ("broadcast", 1)
    # zero budget: every size goes two-sided, at most ceil(sqrt(n)) blocks
    monkeypatch.setattr(budget, "DRIVER_BUDGET_BYTES", 0)
    assert route_exact_plan(500, 64) == ("twosided", 23)
    assert route_exact_plan(1, 1) == ("twosided", 2)


def test_q_chunks_bound_sims_buffer():
    """Every blocked kernel iterates the query side in chunks whose
    chunk × n_candidates sims buffer stays under MAX_SIMS_CELLS — at
    1M+ candidates an unchunked Arrow batch would need an 80 GB buffer."""
    from integrator_spark.operators.knn import MAX_SIMS_CELLS, _q_chunks

    chunks = list(_q_chunks(10_000, 1_100_000))
    assert all(hi - lo >= 1 for lo, hi in chunks)
    assert all((hi - lo) * 1_100_000 <= max(MAX_SIMS_CELLS, 1_100_000)
               for lo, hi in chunks)
    # contiguous, complete cover
    assert chunks[0][0] == 0 and chunks[-1][1] == 10_000
    assert all(a[1] == b[0] for a, b in zip(chunks, chunks[1:]))
    # degenerate: fewer rows than one chunk -> single slice
    assert list(_q_chunks(5, 10)) == [(0, 5)]
    assert list(_q_chunks(0, 10)) == []


def test_knn_exact_routes_to_twosided_plan(spark, monkeypatch):
    """Above the driver budget knn_exact must select the cogrouped
    two-sided physical plan (FlatMapCoGroupsInPandas), and below it the
    broadcast mapInPandas plan — asserted on the actual Spark plan."""
    from integrator_spark.operators import budget
    from integrator_spark.operators.knn import knn_exact

    data = [(i, [float((i * 7 + j * 13) % 11) / 11.0 + 0.1 for j in range(8)])
            for i in range(20)]
    emb = spark.createDataFrame(data, "vec_id long, embedding array<float>")
    # 160 cells × 8 B = 1280 B over a 320 B budget -> 4 blocks
    monkeypatch.setattr(budget, "DRIVER_BUDGET_BYTES", 320)
    small_budget = knn_exact(emb, k=1)
    assert "FlatMapCoGroupsInPandas" in small_budget._jdf.queryExecution() \
        .executedPlan().toString()
    monkeypatch.undo()
    big_budget = knn_exact(emb, k=1)
    assert "MapInPandas" in big_budget._jdf.queryExecution() \
        .executedPlan().toString()
    # and the routed plans agree with brute force
    brute = {r.vec_id: r.neighbor_id for r in knn_bruteforce(emb, k=1).collect()}
    assert {r.vec_id: r.neighbor_id for r in small_budget.collect()} == brute
    assert {r.vec_id: r.neighbor_id for r in big_budget.collect()} == brute


def test_knn_blocked_equals_bruteforce(spark):
    data = [(i, [float((i * 7 + j * 13) % 11) / 11.0 + 0.1 for j in range(8)])
            for i in range(12)]
    emb = spark.createDataFrame(data, "vec_id long, embedding array<float>")
    blocked = {r.vec_id: (r.neighbor_id, r.cos_sim)
               for r in knn_blocked(emb, k=1).collect()}
    brute = {r.vec_id: (r.neighbor_id, r.cos_sim)
             for r in knn_bruteforce(emb, k=1).collect()}
    assert set(blocked) == set(brute) == set(range(12))
    for vid in blocked:
        assert blocked[vid][0] == brute[vid][0]
        assert blocked[vid][1] == pytest.approx(brute[vid][1], abs=2e-6)


def test_apply_rules_maps_and_flags_unmapped(spark):
    df = spark.createDataFrame([("click",), ("error",)], "ev string")
    rules = rules_frame(spark, [("click", "interaction", "R1")])
    out = {r.ev: (r.canonical, r.rule_id)
           for r in apply_rules(df, rules, "ev").collect()}
    assert out == {"click": ("interaction", "R1"),
                   "error": ("__unmapped__", None)}


def test_rules_frame_is_a_local_scan_that_starts_no_job(spark):
    """Rule tables are driver-local data: the frame plans as a
    LocalTableScan and collecting it starts no Spark job (no Python
    worker either)."""
    from integrator_spark.queries.etl import EVENT_RULES

    rules = rules_frame(spark, EVENT_RULES)
    plan = rules._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("LocalTableScan"), plan
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.nextJobId()
    rows = rules.collect()
    assert dag.nextJobId() == before
    assert [tuple(r) for r in rows] == list(EVENT_RULES)


def test_assertion_report_counts_violations(spark):
    ok = spark.range(0)
    bad = spark.range(3)
    out = {r.check_name: r.n_violations
           for r in assertion_report({"ok": ok, "bad": bad}).collect()}
    assert out == {"ok": 0, "bad": 3}


def test_rolling_fingerprint_matches_python_fold(spark):
    text = "spark scan merge"
    expected = 0
    for w in text.split(" "):
        expected = (expected * 31 + (ord(w[0]) * 7 + len(w))) % FP_MOD
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(rolling_fingerprint("text").alias("fp")).collect()[0].fp
    assert got == expected


def test_word_shingles_dedups_and_orders(spark):
    df = spark.createDataFrame([("a b a b a b",)], "text string")
    got = df.select(word_shingles("text", 3).alias("s")).collect()[0].s
    assert got == ["a|b|a", "b|a|b"]


def test_word_shingles_short_text_yields_empty(spark):
    # Under ANSI mode an unguarded sequence(1, size-2) on a 2-token doc
    # would throw INVALID_ARRAY_INDEX_IN_ELEMENT_AT; the oracle's
    # range() yields no shingles, and so must we.
    df = spark.createDataFrame(
        [("only two",), ("one",), ("",), ("just enough here",)], "text string")
    got = [r.s for r in df.select(word_shingles("text", 3).alias("s")).collect()]
    assert got == [[], [], [], ["just|enough|here"]]


def test_knn_blocked_k_equals_candidate_count(spark):
    # k == number of other vectors: argpartition(-row, k) would raise
    # ValueError; the masked self-pair must never be emitted.
    data = [(i, [float((i * 7 + j * 13) % 11) / 11.0 + 0.1 for j in range(8)])
            for i in range(4)]
    emb = spark.createDataFrame(data, "vec_id long, embedding array<float>")
    for k in (3, 4, 10):                   # == n-1, == n, > n
        rows = knn_blocked(emb, k=k).collect()
        per_q = {}
        for r in rows:
            assert r.neighbor_id != r.vec_id
            per_q.setdefault(r.vec_id, []).append(r.neighbor_id)
        assert all(sorted(v) == [i for i in range(4) if i != q]
                   for q, v in per_q.items())


def test_knn_blocked_tie_break_matches_bruteforce(spark):
    # Duplicate vectors force exact similarity ties; both paths must
    # resolve them identically (cos_sim DESC, neighbor_id ASC).
    base = [1.0, 2.0, 3.0, 4.0]
    other = [4.0, 3.0, 2.0, 1.0]
    data = [(0, base), (1, base), (2, base), (3, base), (4, other)]
    emb = spark.createDataFrame(data, "vec_id long, embedding array<float>")
    key = lambda rows: sorted((r.vec_id, r.neighbor_id) for r in rows)  # noqa: E731
    for k in (1, 2, 3):
        assert key(knn_blocked(emb, k=k).collect()) == \
            key(knn_bruteforce(emb, k=k).collect())


def test_knn_exact_zero_vector_same_rows_on_both_routes(spark, monkeypatch):
    # An all-zero vector has no cosine: no route may return it as
    # a neighbour (with a NaN score) or give it neighbours of its own.
    # The broadcast route (default budget), the two-sided route (zero
    # budget) and the crossJoin reference must return the same rows.
    # The broadcast route must not normalize the zero vector into a
    # NaN row on the driver either (numpy's invalid-divide raises).
    # PQ and IVF-PQ follow the same rule; their shortlist holds every
    # other vector, so the exact rerank returns the exact top-k.
    import numpy as np

    from integrator_spark.operators import budget
    from integrator_spark.operators.ivf import train_centroids
    from integrator_spark.operators.knn import knn_bruteforce, knn_exact
    from integrator_spark.operators.pq import (
        ivfpq_encode,
        ivfpq_search,
        ivfpq_train,
        pq_encode,
        pq_search,
        pq_train,
    )

    data = [(i, [float((i * 5 + j * 3) % 7) + 1.0 for j in range(6)])
            for i in range(8)]
    data.append((8, [0.0] * 6))
    emb = spark.createDataFrame(data, "vec_id long, embedding array<float>")
    cb = pq_train(emb, m=3, ksub=4, sample_rows=9, iters=3)
    codes = pq_encode(emb, cb)
    cent = train_centroids(emb, n_clusters=2, sample_rows=9, iters=3)
    ivf_cb = ivfpq_train(emb, cent, m=3, ksub=4, sample_rows=9, iters=3)
    ivf_codes = ivfpq_encode(emb, cent, ivf_cb)
    key = lambda df: sorted(  # noqa: E731
        tuple(r)[:3] for r in df.collect())
    for k in (1, 3):
        with np.errstate(invalid="raise"):
            default = key(knn_exact(emb, k=k))
        with monkeypatch.context() as mp:
            mp.setattr(budget, "DRIVER_BUDGET_BYTES", 0)
            forced = key(knn_exact(emb, k=k))
        assert default == forced, k
        assert key(knn_bruteforce(emb, k=k)) == default, k
        assert len(default) == 8 * k
        assert all(8 not in (q, n) for q, n, _ in default)
    with np.errstate(invalid="raise"):
        pq = key(pq_search(codes, emb, emb, cb, k=3, shortlist=8,
                           exclude_self=True))
    with monkeypatch.context() as mp:
        mp.setattr(budget, "DRIVER_BUDGET_BYTES", 0)
        pq_forced = key(pq_search(codes, emb, emb, cb, k=3, shortlist=8,
                                  exclude_self=True))
    ivfpq = key(ivfpq_search(ivf_codes, emb, emb, cent, ivf_cb, n_probe=2,
                             k=3, shortlist=8, exclude_self=True))
    assert pq == pq_forced == ivfpq == default


def test_unit_rows_drops_zero_rows_and_divides_in_place():
    import numpy as np

    from integrator_spark.operators.knn import unit_rows

    mat = np.array([[3.0, 4.0], [0.0, 0.0], [0.0, 2.0]])
    with np.errstate(invalid="raise", divide="raise"):
        keep, unit = unit_rows(mat)
    assert keep.tolist() == [True, False, True]
    assert unit.tolist() == [[0.6, 0.8], [0.0, 1.0]]
    full = np.array([[3.0, 4.0], [0.0, 2.0]])
    keep, unit = unit_rows(full)
    assert keep.all() and unit is full
    assert full.tolist() == [[0.6, 0.8], [0.0, 1.0]]
    keep, unit = unit_rows(np.zeros((2, 3)))
    assert not keep.any() and unit.shape == (0, 3)


def test_pipeline_validates_and_publishes(spark, tmp_path):
    from integrator_spark.pipeline import IntegrationPipeline
    df = spark.createDataFrame(
        [(1, "click", 1.0), (2, "bogus", 2.0), (3, None, 3.0)],
        "id long, ev string, v double")
    pipe = IntegrationPipeline(spark, rules=[("click", "interaction", "R1")],
                               src_col="ev", batch_id="t1", key_cols=["id"])
    res = pipe.run(df, str(tmp_path / "out"))
    assert res.n_published == 3
    assert res.validation["unmapped_values"] == 2  # bogus + NULL source
    assert res.validation["null_key_id"] == 0
    assert not res.is_valid
    with pytest.raises(ValueError, match="unmapped"):
        pipe.run(df, str(tmp_path / "out2"), allow_unmapped=False)


def test_asof_pandas_variant_matches_window_variant(spark):
    from integrator_spark.io import load_table
    from integrator_spark.operators.asof import asof_join_grouped_pandas
    e = load_table(spark, "/root/testdata/sf0.001", "events")
    p = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    v = (e.filter(F.col("event_type") == "view")
         .groupBy("user_id", F.col("ts").alias("v_ts"))
         .agg(F.max("value").alias("v_value"))
         .select("user_id", "v_ts", "v_value"))
    window_out = asof_join_backward(p, v, on=["user_id"], left_ts="ts",
                                    right_ts="v_ts",
                                    right_payload=["v_ts", "v_value"])
    pandas_out = asof_join_grouped_pandas(p, v, on=["user_id"], left_ts="ts",
                                          right_ts="v_ts",
                                          right_payload=["v_ts", "v_value"])
    key = lambda rows: sorted((r.event_id, r.v_ts, r.v_value) for r in rows)  # noqa: E731
    assert key(window_out.collect()) == key(pandas_out.collect())


def test_image_codecs_roundtrip():
    import struct
    import zlib

    from integrator_spark.queries.multimodal import (
        make_bmp,
        make_png,
        parse_image_dims,
    )
    for w, h in [(1, 1), (8, 8), (23, 17), (71, 39)]:
        png, bmp = make_png(w, h), make_bmp(w, h)
        assert parse_image_dims(png, "image/png") == (w, h)
        assert parse_image_dims(bmp, "image/bmp") == (w, h)
        # Closed-form sizes — what the SQL oracle recomputes.
        assert len(png) == 68 + h * (1 + 3 * w)
        assert len(bmp) == 54 + h * ((3 * w + 3) // 4 * 4)
        # The PNG must be genuinely valid: stored-block IDAT inflates to
        # the filtered scanlines.
        ilen = struct.unpack(">I", png[33:37])[0]
        assert zlib.decompress(png[41:41 + ilen]) == \
            b"".join(b"\x00" + b"\x7f" * (3 * w) for _ in range(h))
    with pytest.raises(ValueError):
        parse_image_dims(b"BMnope", "image/png")
    with pytest.raises(ValueError):
        parse_image_dims(b"\x89PNGnope", "image/bmp")


def test_ann_recall_at_least_090(spark):
    # VERDICT r01 item 3: approximate NN without a measured recall is
    # unquantified. Both methods must reach recall@1 >= 0.9 vs exact
    # kNN on the fixture (seeded, deterministic).
    from integrator_spark.registry import all_specs
    spec = all_specs()["vec_ann_recall"]
    rows = {r.method: r for r in spec.fn(spark, "/root/testdata/sf0.001").collect()}
    assert set(rows) == {"ivf", "lsh"}
    for method, r in rows.items():
        assert r.n_queries == 500
        assert r.recall_at_1 >= 0.9, f"{method} recall {r.recall_at_1}"


def test_ann_lsh_adaptive_dial_recall_and_determinism(spark):
    # Round-10 verdict item 1: the PRODUCTION adaptive-bits dial of the
    # sign-LSH ANN route is now a registered query — it must clear the
    # same recall@1 >= 0.9 bar as the pinned bits=3 route, actually USE
    # the adaptive keyspace (bits != 3 once n > 64 * 2^3), and rerun
    # bit-identically (the rows-only determinism gate).
    from integrator_spark.operators.dedup import signlsh_adaptive_bits
    from integrator_spark.registry import get_queries

    qs = get_queries()
    # sf0.1: 2000 vectors -> adaptive bits = 5, a genuinely different
    # keyspace from the pinned bits=3 oracle route (sf0.001/sf0.01
    # fixtures have 500 vectors, where the clamp floor makes the dials
    # coincide).
    sf = "/root/testdata/sf0.1"
    exact = {r.vec_id: r.cos_sim for r in qs["vec_knn"](spark, sf).collect()}
    assert len(exact) == 2000
    assert signlsh_adaptive_bits(len(exact)) != 3, \
        "fixture too small to exercise the adaptive keyspace"
    got = [(r.vec_id, r.neighbor_id, r.approx_cos)
           for r in qs["vec_ann_lsh_adaptive"](spark, sf).collect()]
    approx = {vid: cos for vid, _nb, cos in got}
    hits = sum(1 for vid, best in exact.items()
               if approx.get(vid, -2.0) >= best - 1e-6)
    recall = hits / len(exact)
    assert recall >= 0.9, f"adaptive-dial recall {recall}"
    rerun = [(r.vec_id, r.neighbor_id, r.approx_cos)
             for r in qs["vec_ann_lsh_adaptive"](spark, sf).collect()]
    assert rerun == got, "adaptive dial is not deterministic"


def test_retrieval_ndcg_structure(spark):
    """nDCG@10 invariants: the semantic leg scores exactly 1.0 (its
    ranking IS the grade source — by construction), fusion sits
    between the legs, every dcg <= idcg, and all values in [0, 1]."""
    from integrator_spark.registry import get_queries

    rows = {r.ranking: r for r in
            get_queries()["retrieval_ndcg"](
                spark, "/root/testdata/sf0.001").collect()}
    assert set(rows) == {"lex", "sem", "rrf"}
    assert rows["sem"].ndcg == 1.0
    for r in rows.values():
        assert 0.0 <= r.ndcg <= 1.0 and r.dcg <= r.idcg
    assert rows["lex"].ndcg <= rows["rrf"].ndcg <= rows["sem"].ndcg


def test_ivfpq_det_recall_at_least_090(spark):
    # The capstone det twin: the oracle-backed IVF-PQ (coarse det
    # k-means + integer residual codebooks + probe-bounded ADC +
    # rerank) must clear the family's recall@1 >= 0.9 bar at the float
    # vec_ann_ivfpq dials (measured 0.98 at both fixtures).
    from integrator_spark.registry import get_queries

    qs = get_queries()
    sf = "/root/testdata/sf0.001"
    exact = {r.vec_id: r.cos_sim for r in qs["vec_knn"](spark, sf).collect()}
    approx = {r.vec_id: r.approx_cos
              for r in qs["vec_ann_ivfpq_det"](spark, sf).collect()}
    assert len(exact) == 500
    hits = sum(1 for vid, best in exact.items()
               if approx.get(vid, -2.0) >= best - 1e-6)
    recall = hits / len(exact)
    assert recall >= 0.9, f"ivfpq_det recall {recall}"


def test_pq_det_recall_at_least_090(spark):
    # The oracle-backed deterministic flat PQ must clear the same
    # recall@1 >= 0.9 bar as the float vec_ann_pq at the same
    # m=8/ksub=64 dials (shortlist-then-rerank restores the recall
    # quantization costs — measured 0.98 at both fixtures).
    from integrator_spark.registry import get_queries

    qs = get_queries()
    sf = "/root/testdata/sf0.001"
    exact = {r.vec_id: r.cos_sim for r in qs["vec_knn"](spark, sf).collect()}
    approx = {r.vec_id: r.approx_cos
              for r in qs["vec_ann_pq_det"](spark, sf).collect()}
    assert len(exact) == 500
    hits = sum(1 for vid, best in exact.items()
               if approx.get(vid, -2.0) >= best - 1e-6)
    recall = hits / len(exact)
    assert recall >= 0.9, f"pq_det recall {recall}"


def test_semantic_ivf_det_pair_recall_at_least_090(spark):
    # The oracle-backed det-k-means dedup twin must keep >= 0.9 of the
    # exact cosine>=0.45 pair set at both fixture scales — matching
    # the quality bar its float production twin (dedup_semantic_ivf,
    # recall 1.0) is held to.
    from integrator_spark.io import load_table
    from integrator_spark.operators.knn import cosine_pairs_exact
    from integrator_spark.registry import get_queries

    qs = get_queries()
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        e = load_table(spark, sf, "embeddings")
        exact = {(r.id_a, r.id_b)
                 for r in cosine_pairs_exact(e, threshold=0.45)
                 .select("id_a", "id_b").collect()}
        det = {(r.id_a, r.id_b)
               for r in qs["dedup_semantic_ivf_det"](spark, sf).collect()}
        assert len(exact) > 0
        recall = len(exact & det) / len(exact)
        assert recall >= 0.9, f"{sf}: det pair recall {recall}"


def test_ivf_det_recall_at_least_090(spark):
    # Round-10 verdict item 2: the oracle-backed deterministic IVF
    # (md5-seeded integer-grid Lloyd k-means, vec_ann_ivf_det) must
    # clear the same recall@1 >= 0.9 bar as the pyspark.ml-based
    # vec_ann_ivf at the same dials — cross-engine determinism must
    # not have cost clustering quality.
    from integrator_spark.registry import get_queries

    qs = get_queries()
    sf = "/root/testdata/sf0.001"
    exact = {r.vec_id: r.cos_sim for r in qs["vec_knn"](spark, sf).collect()}
    approx = {r.vec_id: r.approx_cos
              for r in qs["vec_ann_ivf_det"](spark, sf).collect()}
    assert len(exact) == 500
    hits = sum(1 for vid, best in exact.items()
               if approx.get(vid, -2.0) >= best - 1e-6)
    recall = hits / len(exact)
    assert recall >= 0.9, f"ivf_det recall {recall}"


def test_ivf_matmul_recall_at_least_090(spark):
    # The matmul-kernel IVF (operators/ivf.py) must match the
    # pyspark.ml-based vec_ann_ivf's quality bar on the same fixture:
    # recall@1 >= 0.9 vs exact kNN, value-based hit rule (exact-tie
    # twins count as hits).
    from integrator_spark.registry import get_queries

    qs = get_queries()
    exact = {r.vec_id: r.cos_sim
             for r in qs["vec_knn"](spark, "/root/testdata/sf0.001").collect()}
    approx = {r.vec_id: r.approx_cos
              for r in qs["vec_ann_ivf_matmul"](
                  spark, "/root/testdata/sf0.001").collect()}
    assert len(exact) == 500
    hits = sum(1 for vid, best in exact.items()
               if approx.get(vid, -2.0) >= best - 1e-6)
    recall = hits / len(exact)
    assert recall >= 0.9, f"ivf_matmul recall {recall}"


def test_ivf_search_is_lazy_by_default(spark):
    # Building either search returns a lazy DataFrame: no Spark job
    # starts until it is acted on (external callers should not trigger
    # jobs by constructing a result they may never use).
    import inspect

    from integrator_spark.io import load_table
    from integrator_spark.operators.ivf import (
        ivf_assign,
        ivf_search,
        train_centroids,
    )
    from integrator_spark.operators.pq import (
        ivfpq_encode,
        ivfpq_search,
        ivfpq_train,
    )
    from .conftest import TEST_SF_DIR

    removed = {"prune_buckets", "split_hot_buckets", "hot_bucket_rows"}
    for fn in (ivf_search, ivfpq_search):
        assert not removed & set(inspect.signature(fn).parameters)
    e = load_table(spark, TEST_SF_DIR, "embeddings") \
        .filter(F.col("vec_id") < 60)
    cent = train_centroids(e, n_clusters=4, sample_rows=60, iters=3)
    cb = ivfpq_train(e, cent, m=8, ksub=8, sample_rows=60, iters=3)
    index = ivf_assign(e, cent)
    codes = ivfpq_encode(e, cent, cb)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.nextJobId()
    ivf_out = ivf_search(index, e, cent, n_probe=2, k=1)
    ivfpq_out = ivfpq_search(codes, e, e, cent, cb, n_probe=2, k=1,
                             shortlist=8)
    assert dag.nextJobId() == before
    assert ivf_out.count() == 60 and ivfpq_out.count() == 60


def test_minhash_signatures_lazy_by_default(spark):
    # Same lazy-construction contract as ivf_search/ivfpq_search
    # (r6/r7 advisors): constructing signatures must not
    # run the dominant shingle-hash aggregation job; persist() is lazy,
    # the eager localCheckpoint is opt-in.
    import inspect

    from integrator_spark.io import load_table
    from integrator_spark.operators.dedup import minhash_signatures
    from .conftest import TEST_SF_DIR

    assert inspect.signature(minhash_signatures) \
        .parameters["eager"].default is False
    d = load_table(spark, TEST_SF_DIR, "documents").limit(50)
    sc = spark.sparkContext
    sc.setJobGroup("mh_lazy_probe", "construction must run no job")
    try:
        sig = minhash_signatures(d)
        jobs = sc.statusTracker().getJobIdsForGroup("mh_lazy_probe")
    finally:
        sc.setJobGroup(None, None)
    assert jobs == [], f"construction ran jobs {jobs}"
    assert sig.count() == 50   # and it still computes


def test_connected_components_hand_graph(spark):
    from integrator_spark.operators.dedup import connected_components
    # components: {1,2,3} (chain), {7,9}, singleton edges only
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "d1 long, d2 long")
    got = {r.doc_id: r.cluster_id
           for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


def test_cc_star_matches_union_find_on_fuzzed_graphs(spark, monkeypatch):
    # The distributed large-star/small-star loop (budget 0) must return
    # exactly the driver union-find's rows (default budget): one row per
    # id, self-loop-only ids as singletons, reversed duplicates ignored.
    import random

    from integrator_spark.operators import budget
    from integrator_spark.operators.dedup import connected_components
    for seed in (11, 23, 47):
        rnd = random.Random(seed)
        edges = list({(a, b) for a, b in
                      ((rnd.randrange(40), rnd.randrange(40))
                       for _ in range(45)) if a != b})
        edges += [(b, a) for a, b in edges[:5]]             # reversed dups
        edges += [(40 + seed, 40 + seed), (edges[0][0],) * 2]  # self-loops
        pairs = spark.createDataFrame(edges, "d1 long, d2 long")
        driver = sorted(map(tuple, connected_components(pairs).collect()))
        with monkeypatch.context() as mp:
            mp.setattr(budget, "DRIVER_BUDGET_BYTES", 0)
            star = sorted(map(tuple, connected_components(pairs).collect()))
        assert star == driver, f"seed {seed}: star != union-find"
        assert [n for n, _ in star] == sorted({x for e in edges for x in e})
        assert (40 + seed, 40 + seed) in star


def test_cc_star_converges_on_long_chain(spark, monkeypatch):
    # A 60-node path has diameter 59: min-label propagation would need
    # ~59 rounds, while the star loop (forced by budget 0) collapses it
    # in O(log^2 n) rounds. Ground truth: one component rooted at 0.
    from integrator_spark.operators import budget
    from integrator_spark.operators.dedup import connected_components
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], "d1 long, d2 long")
    monkeypatch.setattr(budget, "DRIVER_BUDGET_BYTES", 0)
    got = sorted(map(tuple, connected_components(pairs).collect()))
    assert got == [(i, 0) for i in range(60)]


def test_pagerank_matches_numpy_power_iteration(spark):
    # The Spark PageRank must agree with a dense NumPy power iteration
    # (same damping, same dangling redistribution) on fuzzed digraphs.
    import random

    import numpy as np

    from integrator_spark.operators.graph import pagerank

    for seed in (5, 19):
        rnd = random.Random(seed)
        edges = list({(a, b) for a, b in
                      ((rnd.randrange(25), rnd.randrange(25))
                       for _ in range(60)) if a != b})
        nodes = sorted({x for e in edges for x in e})
        idx = {v: i for i, v in enumerate(nodes)}
        n = len(nodes)
        M = np.zeros((n, n))
        for a, b in edges:
            M[idx[b], idx[a]] = 1.0
        deg = M.sum(axis=0)
        with np.errstate(divide="ignore", invalid="ignore"):
            M = np.where(deg > 0, M / deg, 0.0)
        r = np.full(n, 1.0 / n)
        d = 0.85
        for _ in range(10):
            dang = r[deg == 0].sum()
            r = (1 - d) / n + d * (M @ r + dang / n)
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {row.node: row.rank for row in pagerank(df).collect()}
        for v in nodes:
            assert abs(got[v] - r[idx[v]]) < 1e-9, (seed, v)
        assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_query_conserves_mass(spark):
    from integrator_spark.registry import get_queries
    from .conftest import TEST_SF_DIR
    rows = get_queries()["graph_pagerank"](spark, TEST_SF_DIR).collect()
    assert rows, "similarity graph must be non-empty"
    # top-50 of a small graph == all nodes; every rank positive
    assert all(r.rank > 0 for r in rows)


def test_pca_matches_numpy(spark):
    import numpy as np

    from integrator_spark.io import load_table
    from integrator_spark.operators.pca import fit_pca, project
    from .conftest import TEST_SF_DIR

    e = load_table(spark, TEST_SF_DIR, "embeddings")
    comps, vals, n = fit_pca(e, dim=64, k=2)
    m = np.vstack([r.embedding for r in
                   e.select("embedding").collect()]).astype("float64")
    assert n == len(m)
    cov = np.cov(m, rowvar=False, bias=True)
    ref_vals, ref_vecs = np.linalg.eigh(cov)
    order = np.argsort(ref_vals)[::-1][:2]
    ref = ref_vecs[:, order].T
    for i in range(2):
        j = int(np.argmax(np.abs(ref[i])))
        if ref[i, j] < 0:
            ref[i] = -ref[i]
    assert np.allclose(vals, ref_vals[order], atol=1e-6)
    assert np.allclose(comps, ref, atol=1e-6)
    # projection round-trip on a sample
    proj = project(e.select("vec_id", "embedding"), comps)
    sample = proj.orderBy("vec_id").limit(5).collect()
    ids = [r.vec_id for r in e.select("vec_id").orderBy("vec_id")
           .limit(5).collect()]
    by_id = {r.vec_id: r.embedding for r in
             e.select("vec_id", "embedding").filter(F.col("vec_id")
                                                    .isin(ids)).collect()}
    for r in sample:
        want = np.array(by_id[r.vec_id], dtype="float64") @ comps.T
        assert abs(r.pc1 - want[0]) < 1e-6 and abs(r.pc2 - want[1]) < 1e-6


def test_snapshot_commit_protocol(spark, tmp_path):
    # An interrupted write (data dir, no manifest) must stay invisible;
    # a missing version must fail loud.
    import pytest

    from integrator_spark.operators.maintenance import (
        read_snapshot,
        write_snapshot,
    )
    root = str(tmp_path / "tt")
    write_snapshot(spark.range(5), root, 1)
    # simulate an interrupted v2: data written, manifest never committed
    spark.range(99).write.mode("overwrite").parquet(f"{root}/v=2")
    assert read_snapshot(spark, root).count() == 5      # latest == v1
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, root, 2)
    write_snapshot(spark.range(7), root, 2)             # now committed
    assert read_snapshot(spark, root).count() == 7
    assert read_snapshot(spark, root, 1).count() == 5   # v1 untouched


def test_snapshot_latest_is_numeric_not_lexicographic(spark, tmp_path):
    # v10 sorts lexicographically BEFORE v2 — "latest" must use the
    # numeric version, matching vacuum_snapshots' retention order.
    from integrator_spark.operators.maintenance import (
        read_snapshot,
        write_snapshot,
    )
    root = str(tmp_path / "tt10")
    for v in (1, 2, 9, 10):
        write_snapshot(spark.range(v * 10), root, v)
    assert read_snapshot(spark, root).count() == 100    # v10, not v9


def test_sessionize_matches_pandas_reference(spark):
    # Fuzz: random timestamps per user; the Spark session numbering must
    # equal a straightforward pandas groupby-sort-cumsum reference.
    import random

    import pandas as pd

    from integrator_spark.registry import get_queries

    rnd = random.Random(7)
    rows = [(u, i, pd.Timestamp("2024-01-01")
             + pd.Timedelta(minutes=rnd.randrange(0, 600)))
            for i, u in enumerate(rnd.choices(range(6), k=120))]
    pdf = pd.DataFrame(rows, columns=["user_id", "event_id", "ts"])
    sdf = spark.createDataFrame(pdf)
    sdf.createOrReplaceTempView("_fuzz_events")

    from integrator_spark.queries.events import events_sessionize  # noqa: F401
    # call the same window logic on the fuzz frame
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(F.lag("ts").over(w).isNull()
                    | (gap >= 30 * 60 * 1_000_000), 1).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    got = {(r.user_id, r.event_id): r.s for r in
           sdf.select("user_id", "event_id",
                      F.sum(is_new).over(run).alias("s")).collect()}

    want = {}
    for u, grp in pdf.sort_values(["ts", "event_id"]).groupby("user_id"):
        sess = 0
        prev = None
        for _, r in grp.iterrows():
            if prev is None or (r.ts - prev).total_seconds() >= 1800:
                sess += 1
            want[(u, r.event_id)] = sess
            prev = r.ts
    assert got == want


def test_binrec_rejects_corrupt_shard(spark, tmp_path):
    import pytest

    from integrator_spark.sources import binrec

    out = str(tmp_path / "br")
    import os
    os.makedirs(out)
    with open(os.path.join(out, "bad.bin"), "wb") as fh:
        fh.write(b"\x01\x02\x03")  # not a multiple of the record size
    binrec.register(spark)
    with pytest.raises(Exception, match="corrupt shard"):
        (spark.read.format("binrec").option("path", out).load()).collect()


def test_zorder_prunes_more_files_than_1d_sort(spark, tmp_path):
    # The 2-D box filter must overlap strictly fewer z-ordered files
    # than files sorted by user_id alone (where event_id min/max spans
    # everything in every file).
    from pyspark.sql import functions as F

    from integrator_spark.io import load_table
    from integrator_spark.operators.layout import (
        files_overlapping,
        write_zordered,
    )
    from .conftest import TEST_SF_DIR

    e = load_table(spark, TEST_SF_DIR, "events")
    zpath, spath = str(tmp_path / "z"), str(tmp_path / "s")
    write_zordered(e, zpath, "user_id", "event_id", n_files=16)
    (e.repartitionByRange(16, "user_id").sortWithinPartitions("user_id")
     .write.mode("overwrite").parquet(spath))
    # filter on the SECOND dimension: the 1-D user-sorted layout has
    # zero pruning power there (every file spans all event_ids), while
    # z-order tiles bound both dimensions.
    box = dict(col_a="user_id", lo_a=0, hi_a=3,
               col_b="event_id", lo_b=100, hi_b=200)
    z_hit, z_tot = files_overlapping(zpath, **box)
    s_hit, s_tot = files_overlapping(spath, **box)
    # range partitioner may merge sparse ranges; compare hit fractions
    assert z_tot >= 10 and s_tot >= 10
    assert z_hit / z_tot < s_hit / s_tot, (z_hit, z_tot, s_hit, s_tot)
    # and the clustered copy is lossless
    assert spark.read.parquet(zpath).count() == e.count()


def test_vacuum_keeps_newest_versions(spark, tmp_path):
    import pytest

    from integrator_spark.operators.maintenance import (
        read_snapshot,
        vacuum_snapshots,
        write_snapshot,
    )
    root = str(tmp_path / "vt")
    for v, n in ((1, 3), (2, 5), (3, 7)):
        write_snapshot(spark.range(n), root, v)
    assert vacuum_snapshots(root, keep=2) == [1]
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, root, 1)
    assert read_snapshot(spark, root, 2).count() == 5
    assert read_snapshot(spark, root).count() == 7


def test_merge_upsert_matches_dict_reference(spark):
    # Fuzz the MERGE shape: random current/update key sets; the
    # full-outer+coalesce result must equal a dict-based reference.
    import random

    from pyspark.sql import functions as F

    rnd = random.Random(13)
    current = {k: rnd.randrange(100) for k in rnd.sample(range(50), 30)}
    updates = {k: rnd.randrange(100, 200)
               for k in rnd.sample(range(70), 25)}
    cur_df = spark.createDataFrame(list(current.items()), "key long, val long")
    upd_df = spark.createDataFrame(list(updates.items()), "key long, val long")
    merged = (cur_df.alias("c")
              .join(upd_df.alias("u"), F.col("c.key") == F.col("u.key"),
                    "full_outer")
              .select(F.coalesce("u.key", "c.key").alias("key"),
                      F.coalesce("u.val", "c.val").alias("val")))
    got = {r.key: r.val for r in merged.collect()}
    want = {**current, **updates}
    assert got == want


def test_int8_quantization_recall(spark):
    from integrator_spark.registry import get_queries
    from .conftest import TEST_SF_DIR
    row = get_queries()["vec_quantize_recall"](spark,
                                               TEST_SF_DIR).collect()[0]
    assert row.n_vectors > 0
    assert row.recall_at_1 >= 0.9, row
    assert row.memory_ratio_fp32_int8 == 4.0


def test_rollup_long_and_decimal_accumulators_agree(spark, monkeypatch):
    # rollup_revenue routes its exact sum by input size: long
    # micro-accumulator at bench scale, decimal accumulator at cluster
    # scale. Both must be bit-identical (grid-data proof in
    # functions/num.py dsum_grid).
    from integrator_spark.functions import num
    from integrator_spark.queries import aggregates as agg
    from integrator_spark.testing import canonical_strings

    sf = "/root/testdata/sf0.001"
    long_path = canonical_strings(agg.rollup_revenue(spark, sf).toPandas())
    monkeypatch.setattr(num, "LONG_SUM_MAX_BYTES", 0)
    dec_df = agg.rollup_revenue(spark, sf)
    preagg_plan = dec_df._jdf.queryExecution().optimizedPlan().toString()
    assert preagg_plan.count("Aggregate") >= 2   # pre-agg rewrite intact
    assert long_path == canonical_strings(dec_df.toPandas())


def test_knn_exact_routes_by_size_and_matches(spark, monkeypatch):
    # Small budget -> two-sided blocked route; big budget -> broadcast.
    # Both must equal bruteforce exactly (ids) and to fp tolerance (sims).
    from integrator_spark.operators import budget
    from integrator_spark.operators.knn import knn_exact

    data = [(i, [float((i * 7 + j * 13) % 11) / 11.0 + 0.1 for j in range(8)])
            for i in range(16)]
    emb = spark.createDataFrame(data, "vec_id long, embedding array<float>")
    brute = {(r.vec_id, r.neighbor_id) for r in knn_bruteforce(emb, k=2).collect()}
    # 16 rows x 8 dims x 8 B = 1024 B > 512 -> must take knn_blocked_twosided
    monkeypatch.setattr(budget, "DRIVER_BUDGET_BYTES", 512)
    routed = knn_exact(emb, k=2)
    assert "cogroup" in routed._jdf.queryExecution().analyzed().toString().lower()
    assert {(r.vec_id, r.neighbor_id) for r in routed.collect()} == brute
    # comfortably under the default budget -> the zero-exchange broadcast plan
    monkeypatch.undo()
    bcast = knn_exact(emb, k=2)
    assert "cogroup" not in bcast._jdf.queryExecution().analyzed().toString().lower()
    assert {(r.vec_id, r.neighbor_id) for r in bcast.collect()} == brute


def test_cosine_pairs_exact_routes_by_size_and_matches(spark, monkeypatch):
    # Same routing contract as knn_exact: over budget -> two-sided
    # cogrouped block plan (no driver-side matrix collect); under ->
    # broadcast matmul. Both must emit the identical pair set.
    from integrator_spark.operators import budget
    from integrator_spark.operators.knn import (
        cosine_pairs_blocked,
        cosine_pairs_exact,
    )

    data = [(i, [float((i * 7 + j * 13) % 11) / 11.0 + 0.1 for j in range(8)])
            for i in range(16)]
    emb = spark.createDataFrame(data, "vec_id long, embedding array<float>")
    want = {(r.id_a, r.id_b, r.cos_sim)
            for r in cosine_pairs_blocked(emb, threshold=0.9).collect()}
    assert want and all(a < b for a, b, _ in want)
    # 1024 B > 512 -> must route to the cogrouped two-sided plan
    monkeypatch.setattr(budget, "DRIVER_BUDGET_BYTES", 512)
    routed = cosine_pairs_exact(emb, threshold=0.9)
    assert "cogroup" in routed._jdf.queryExecution().analyzed().toString().lower()
    assert {(r.id_a, r.id_b, r.cos_sim) for r in routed.collect()} == want
    # comfortably under the default budget -> broadcast plan, no cogroup
    monkeypatch.undo()
    bcast = cosine_pairs_exact(emb, threshold=0.9)
    assert "cogroup" not in bcast._jdf.queryExecution().analyzed().toString().lower()
    assert {(r.id_a, r.id_b, r.cos_sim) for r in bcast.collect()} == want


def test_int8_quantization_stores_tinyint_and_roundtrips(spark, tmp_path):
    # The stored form must be a real array<tinyint> (+ one scalar scale);
    # a parquet round trip preserves it and dequantize recovers vectors
    # to within the quantization step.
    import numpy as np

    from integrator_spark.io import load_table
    from integrator_spark.queries.vectors import (
        dequantize_int8,
        quantize_embeddings_int8,
    )

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qe, scale = quantize_embeddings_int8(e)
    assert dict(qe.dtypes)["q_embedding"] == "array<tinyint>"
    path = str(tmp_path / "int8")
    qe.write.parquet(path)
    back = spark.read.parquet(path)
    assert dict(back.dtypes)["q_embedding"] == "array<tinyint>"
    orig = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in e.select("vec_id", "embedding").limit(50).collect()}
    deq = {r.vec_id: np.array(r.embedding, dtype=np.float64)
           for r in dequantize_int8(back, scale)
           .select("vec_id", "embedding").collect()}
    step = 1.0 / scale
    for vid, v in orig.items():
        assert np.max(np.abs(deq[vid] - v)) <= step / 2 + 1e-9


def test_hot_shingle_guard_bounds_candidates(spark):
    # 40 docs all sharing one stop phrase, each with unique content.
    # Unguarded: the shared shingles alone create 40*39/2 candidate
    # pairs; guarded: zero (no rare shingle is shared), while a genuine
    # near-dup pair sharing RARE shingles must survive the guard.
    stop = "all rights reserved by the corpus"
    docs = [(i, f"{stop} unique{i}a unique{i}b unique{i}c") for i in range(40)]
    docs += [(100, f"{stop} rare one two three four five"),
             (101, f"{stop} rare one two three four six")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    unguarded = ngram_jaccard_pairs(df, k=3, threshold=0.0)
    guarded = ngram_jaccard_pairs(df, k=3, threshold=0.0, max_doc_freq=5)
    n_un, n_g = unguarded.count(), guarded.count()
    assert n_un >= 40 * 39 // 2          # candidate explosion is real
    got = {(r.d1, r.d2) for r in guarded.collect()}
    assert got == {(100, 101)}           # bounded, true pair survives
    assert n_g < n_un / 100


def test_hot_band_guard_bounds_simhash_candidates(spark):
    # Identical texts collapse every band into one hot bucket; the
    # guard must drop them while distinct-text pairs are unaffected.
    same = [(i, "identical boilerplate text repeated everywhere") for i in range(30)]
    same += [(200, "the quick brown fox jumps over a lazy dog near the river bank today here"),
             (201, "the quick brown fox jumps over a lazy dog near the river bank today there")]
    df = spark.createDataFrame(same, "doc_id long, text string")
    unguarded = simhash_pairs(df, max_hamming=10)
    guarded = simhash_pairs(df, max_hamming=10, max_band_freq=5)
    assert unguarded.count() >= 30 * 29 // 2
    got = {(r.d1, r.d2) for r in guarded.collect()}
    assert (200, 201) in got
    assert all(d1 >= 200 for d1, _ in got)   # hot cluster fully dropped


def test_grid_sum_equals_decimal_sum_on_fixture(spark, monkeypatch):
    # The long micro-accumulator must be BIT-identical to the decimal
    # path on every headline money query, at the SF the oracle gate
    # uses. Forcing LONG_SUM_MAX_BYTES=0 flips every routed sum to the
    # decimal path; outputs must not change at all.
    from integrator_spark.functions import num
    from integrator_spark.registry import get_queries
    from integrator_spark.testing import canonical_strings

    qs = get_queries()
    sf = "/root/testdata/sf0.01"
    names = ["q1_pricing_summary", "q3_top_orders", "q5_nation_revenue"]
    fast = {n: canonical_strings(qs[n](spark, sf).toPandas()) for n in names}
    monkeypatch.setattr(num, "LONG_SUM_MAX_BYTES", 0)
    for n in names:
        assert fast[n] == canonical_strings(qs[n](spark, sf).toPandas()), n


def test_nn_descent_recall_at_least_090(spark):
    # Graph-ANN quality gate, matching the LSH/IVF recall assertion.
    from integrator_spark.registry import get_queries
    from .conftest import TEST_SF_DIR
    row = get_queries()["vec_ann_graph_recall"](spark, TEST_SF_DIR).collect()[0]
    assert row.method == "nn_descent"
    assert row.n_queries > 0
    assert row.recall_at_1 >= 0.9, row


def test_nn_descent_graph_shape(spark):
    # Every node gets exactly min(5, n-1) ranked neighbors, no self
    # edges, ranks contiguous from 1.
    from integrator_spark.registry import get_queries
    from .conftest import TEST_SF_DIR
    rows = get_queries()["vec_ann_graph"](spark, TEST_SF_DIR).collect()
    per = {}
    for r in rows:
        assert r.vec_id != r.neighbor_id
        per.setdefault(r.vec_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per.values())
    assert {len(v) for v in per.values()} == {5}


def test_nn_descent_routes_agree(spark, monkeypatch):
    # The broadcast-matrix scoring route (skinny shuffle, numpy rowdot)
    # and the vector-attach join route must build the same k-NN graph,
    # row for row: both store and sum in float64.
    from integrator_spark.io import load_table
    from integrator_spark.operators import budget
    from integrator_spark.operators.ann_graph import nn_descent
    from .conftest import TEST_SF_DIR

    emb = load_table(spark, TEST_SF_DIR, "embeddings") \
        .filter(F.col("vec_id") < 80)
    fast = sorted(nn_descent(emb, k=5, iters=2).collect())
    monkeypatch.setattr(budget, "DRIVER_BUDGET_BYTES", 0)
    slow = sorted(nn_descent(emb, k=5, iters=2).collect())
    assert fast and fast == slow


def test_graph_ann_search_recall_at_least_090(spark):
    # Out-of-sample navigate over the NN-Descent graph must find the
    # true nearest neighbor (value-based hit) for >= 90% of queries.
    from pyspark.sql import functions as F

    from integrator_spark.registry import get_queries
    from .conftest import TEST_SF_DIR
    qs = get_queries()
    exact = qs["vec_knn"](spark, TEST_SF_DIR).select(
        F.col("vec_id").alias("query_id"), F.col("cos_sim").alias("_best"))
    got = qs["vec_ann_graph_search"](spark, TEST_SF_DIR) \
        .filter(F.col("rank") == 1)
    r = exact.join(got, "query_id", "left").agg(
        F.avg(F.when(F.col("cos_sim") >= F.col("_best") - 1e-6, 1.0)
              .otherwise(0.0)).alias("r")).collect()[0].r
    assert r >= 0.9, r


def test_sorted_lookup_masks_nonmembers():
    # The guard behind both matrix-route kernels: absent ids map to -1
    # (never an insertion-point alias, never an IndexError at the end).
    import numpy as np

    from integrator_spark.operators.ann_graph import _sorted_lookup

    ids = np.array([2, 5, 9], dtype=np.int64)
    got = _sorted_lookup(ids, np.array([2, 3, 9, 100, -7], dtype=np.int64))
    assert got.tolist() == [0, -1, 2, -1, -1]
    assert _sorted_lookup(np.array([], dtype=np.int64),
                          np.array([1, 2], dtype=np.int64)).tolist() == [-1, -1]


def test_graph_ann_search_nonmember_ids_agree_across_routes(spark,
                                                          monkeypatch):
    # A graph edge pointing outside `base`: the join route inner-joins
    # it away; the fused kernel must DROP it too (not gather the
    # insertion-point row, not IndexError) — identical rows both ways.
    from integrator_spark.io import load_table
    from integrator_spark.operators import budget
    from integrator_spark.operators.ann_graph import (
        graph_ann_search,
        nn_descent,
    )
    from .conftest import TEST_SF_DIR

    e = load_table(spark, TEST_SF_DIR, "embeddings").filter(
        F.col("vec_id") < 60)
    g = nn_descent(e, k=5, iters=2)
    # One edge to a node outside base (id 999999 > any fixture id).
    g_bad = g.unionByName(spark.createDataFrame(
        [(0, 999_999, 0.5, 99)],
        "vec_id long, neighbor_id long, cos_sim double, rank int"))
    # k=beam returns the whole final beam, so a stray candidate shows.
    kw = dict(k=8, beam=8, hops=2, exclude_self=True)
    fast = sorted(graph_ann_search(g_bad, e, e, **kw).collect())
    monkeypatch.setattr(budget, "DRIVER_BUDGET_BYTES", 0)
    slow = sorted(graph_ann_search(g_bad, e, e, **kw).collect())
    assert fast and fast == slow
    assert all(r.neighbor_id < 60 for r in fast)


def test_graph_ann_search_budget_counts_query_matrix(spark, monkeypatch):
    # The matrix route collects AND broadcasts corpus + query matrices,
    # so the route check must count BOTH: with a budget that fits the
    # corpus alone but not corpus+queries, the function must take the
    # join path — observable as zero driver toPandas() calls.
    from pyspark.sql import DataFrame

    from integrator_spark.io import load_table
    from integrator_spark.operators import budget as bmod
    from integrator_spark.operators.ann_graph import (
        graph_ann_search,
        nn_descent,
    )
    from .conftest import TEST_SF_DIR

    e = load_table(spark, TEST_SF_DIR, "embeddings").filter(
        F.col("vec_id") < 40)
    g = nn_descent(e, k=5, iters=2)
    n = e.count()
    dim = 64
    budget = (2 * n) * dim * 8 - 1  # fits n, not n + nq (queries == e)

    def boom(self):
        raise AssertionError("matrix route collected under-budget batch")
    monkeypatch.setattr(bmod, "DRIVER_BUDGET_BYTES", budget)
    monkeypatch.setattr(DataFrame, "toPandas", boom)
    out = graph_ann_search(g, e, e, k=1, beam=8, hops=2,
                           n_entries=8, exclude_self=True)
    assert out.count() == n


def test_pq_recall_at_least_090(spark):
    # PQ ADC + exact rerank must hit the true nearest neighbor for
    # >= 90% of queries (value-based hit rule), same bar as LSH/IVF/
    # graph ANN. Measured 0.926 at the registered dials.
    from integrator_spark.registry import get_queries
    from .conftest import TEST_SF_DIR
    qs = get_queries()
    exact = {r.vec_id: r.cos_sim
             for r in qs["vec_knn"](spark, TEST_SF_DIR).collect()}
    got = {r.query_id: r.cos_sim
           for r in qs["vec_ann_pq"](spark, TEST_SF_DIR)
           .filter(F.col("rank") == 1).collect()}
    hits = sum(1 for k, b in exact.items() if got.get(k, -2.0) >= b - 1e-6)
    assert hits / len(exact) >= 0.9, hits / len(exact)


def test_pq_search_budget_routes_query_collect(spark, monkeypatch):
    # pq_search's query side is size-routed: over budget it must do
    # ZERO driver collects (LUT rows computed executor-side, scored via
    # the blocked cogroup) and return byte-identical rows to the
    # broadcast route — same contract/test shape as
    # test_graph_ann_search_budget_counts_query_matrix.
    from pyspark.sql import DataFrame

    from integrator_spark.io import load_table
    from integrator_spark.operators import budget as bmod
    from integrator_spark.operators.pq import pq_encode, pq_search, pq_train
    from .conftest import TEST_SF_DIR

    e = load_table(spark, TEST_SF_DIR, "embeddings").filter(
        F.col("vec_id") < 120)
    cb = pq_train(e, m=8, ksub=16, sample_rows=120, iters=5)
    codes = pq_encode(e, cb)
    kw = dict(k=2, shortlist=8, exclude_self=True)
    want = sorted(
        (r.query_id, r.neighbor_id, r.cos_sim, r.rank)
        for r in pq_search(codes, e, e, cb, **kw).collect())

    nq = 120
    budget = nq * (8 * 16 * 8 + 64 * 8) - 1   # one byte under the need

    def boom(self, *args, **kwargs):
        raise AssertionError("over-budget pq_search collected to driver")
    monkeypatch.setattr(bmod, "DRIVER_BUDGET_BYTES", budget)
    monkeypatch.setattr(DataFrame, "toPandas", boom)
    monkeypatch.setattr(DataFrame, "toArrow", boom)
    got = sorted(
        (r.query_id, r.neighbor_id, r.cos_sim, r.rank)
        for r in pq_search(codes, e, e, cb, **kw).collect())
    assert got == want and len(got) == 2 * nq


def test_pq_encode_shape_and_determinism(spark):
    # Codes: m ids in [0, ksub) per vector; training + encoding twice
    # yields byte-identical codes (seeded sampler, stable tie-breaks).
    from integrator_spark.io import load_table
    from integrator_spark.operators.pq import pq_encode, pq_train
    from .conftest import TEST_SF_DIR

    e = load_table(spark, TEST_SF_DIR, "embeddings") \
        .filter(F.col("vec_id") < 100)
    cb1 = pq_train(e, m=8, ksub=16, sample_rows=100, iters=5)
    cb2 = pq_train(e, m=8, ksub=16, sample_rows=100, iters=5)
    assert cb1.shape == (8, 16, 8)
    assert (cb1 == cb2).all()
    codes = {r.vec_id: r.codes for r in pq_encode(e, cb1).collect()}
    assert len(codes) == 100
    assert all(len(c) == 8 and all(0 <= x < 16 for x in c)
               for c in codes.values())
    codes2 = {r.vec_id: r.codes for r in pq_encode(e, cb1).collect()}
    assert codes == codes2
    # An empty corpus fails fast with a clear error, not a NumPy crash.
    with pytest.raises(ValueError, match="bounded_sample_matrix: empty"):
        pq_train(e.limit(0), m=8, ksub=16, sample_rows=100, iters=5)


def test_pq_rerank_cos_is_exact(spark):
    # The returned cos_sim comes from the exact rerank, not the ADC
    # approximation: for every output row it must equal the true cosine
    # of that (query, neighbor) pair to 6 dp.
    import numpy as np

    from integrator_spark.io import load_table
    from integrator_spark.operators.pq import pq_encode, pq_search, pq_train
    from .conftest import TEST_SF_DIR

    e = load_table(spark, TEST_SF_DIR, "embeddings") \
        .filter(F.col("vec_id") < 60)
    cb = pq_train(e, m=8, ksub=16, sample_rows=60, iters=5)
    out = pq_search(pq_encode(e, cb), e, e, cb, k=1, shortlist=8,
                    exclude_self=True).collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in e.collect()}
    for r in out:
        a, b = vecs[r.query_id], vecs[r.neighbor_id]
        true = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(r.cos_sim - round(true, 6)) <= 1e-6, r


def test_ivfpq_recall_at_least_090(spark):
    # The combined probe-bounded + code-compressed index must still hit
    # the true nearest neighbor for >= 90% of queries (measured 0.954
    # at the registered dials).
    from integrator_spark.registry import get_queries
    from .conftest import TEST_SF_DIR
    qs = get_queries()
    exact = {r.vec_id: r.cos_sim
             for r in qs["vec_knn"](spark, TEST_SF_DIR).collect()}
    got = {r.query_id: r.cos_sim
           for r in qs["vec_ann_ivfpq"](spark, TEST_SF_DIR)
           .filter(F.col("rank") == 1).collect()}
    hits = sum(1 for k, b in exact.items() if got.get(k, -2.0) >= b - 1e-6)
    assert hits / len(exact) >= 0.9, hits / len(exact)


def test_ivfpq_residual_adc_decomposition_is_tight(spark):
    # Residual ADC = q·centroid + q·r̂. With ksub large enough to give
    # every sample row its own residual centroid (here: tiny corpus,
    # ksub >= n), quantization error vanishes and the ADC score must
    # equal the exact cosine to float32-storage precision — validating
    # the offset + LUT decomposition end-to-end.
    import numpy as np

    from integrator_spark.io import load_table
    from integrator_spark.operators.ivf import train_centroids
    from integrator_spark.operators.pq import (
        ivfpq_encode,
        ivfpq_search,
        ivfpq_train,
    )
    from .conftest import TEST_SF_DIR

    e = load_table(spark, TEST_SF_DIR, "embeddings") \
        .filter(F.col("vec_id") < 40)
    cent = train_centroids(e, n_clusters=4, sample_rows=40, iters=5)
    cb = ivfpq_train(e, cent, m=8, ksub=40, sample_rows=40, iters=8)
    codes = ivfpq_encode(e, cent, cb, n_assign=2)
    out = ivfpq_search(codes, e, e, cent, cb, n_probe=4, k=1,
                       shortlist=8, exclude_self=True).collect()
    assert len(out) == 40
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in e.collect()}
    for r in out:
        a, b = vecs[r.query_id], vecs[r.neighbor_id]
        true = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(r.cos_sim - round(true, 6)) <= 1e-6, r


def test_knn_exact_none_estimate_falls_back_to_stats_job(spark):
    # est_cells=None (non-local source) must still route correctly via
    # the count+dim aggregate instead of crashing or guessing.
    from integrator_spark.operators.knn import knn_exact

    data = [(i, [float(i + j) for j in range(4)]) for i in range(6)]
    emb = spark.createDataFrame(data, "vec_id long, embedding array<float>")
    out = knn_exact(emb, k=1, est_cells=None)
    assert out.count() == 6


def test_bloom_no_false_negatives_and_prunes(spark):
    """Every inserted key must probe True (no false negatives — the
    correctness contract); disjoint keys mostly probe False (the
    pruning that makes the incremental-dedup pre-filter worthwhile)."""
    from integrator_spark.operators.bloom import (
        bloom_maybe_contains,
        build_bloom,
    )

    corpus = spark.range(500).select(
        F.md5(F.col("id").cast("string")).alias("h"))
    bits, m, k = build_bloom(corpus, "h", 500)

    probed_in = bloom_maybe_contains(corpus, "h", bits, m, k)
    assert probed_in.filter(~F.col("_maybe")).count() == 0

    fresh = spark.range(500, 1500).select(
        F.md5(F.col("id").cast("string")).alias("h"))
    survivors = bloom_maybe_contains(fresh, "h", bits, m, k) \
        .filter(F.col("_maybe")).count()
    # 1000 disjoint keys at ~1% target fpp: generous ceiling of 5%.
    assert survivors <= 50, f"bloom pruned too little: {survivors}/1000"


def test_bloom_build_is_partitioning_invariant(spark):
    """The tree OR-merge of per-partition bit arrays must not depend on
    how rows are distributed — same bits from 1 partition or 8 or 64
    (64 forces a multi-level treeReduce, the executor-side merge path
    that replaced the driver-side collect+OR loop)."""
    from integrator_spark.operators.bloom import build_bloom

    keys = spark.range(200).select(F.md5(F.col("id").cast("string")).alias("h"))
    bits1, m1, k1 = build_bloom(keys.coalesce(1), "h", 200)
    bits8, m8, k8 = build_bloom(keys.repartition(8), "h", 200)
    bits64, m64, k64 = build_bloom(keys.repartition(64), "h", 200)
    assert (bits1, m1, k1) == (bits8, m8, k8) == (bits64, m64, k64)
    assert isinstance(bits64, bytes)


def test_bloom_build_empty_input(spark):
    """An empty key set builds an all-zero filter (every probe False)
    rather than raising from the empty-RDD reduce."""
    from integrator_spark.operators.bloom import (
        bloom_maybe_contains,
        build_bloom,
    )

    empty = spark.range(0).select(F.col("id").cast("string").alias("h"))
    bits, m, k = build_bloom(empty, "h", 100)
    assert set(bits) == {0}
    probe = spark.range(50).select(F.col("id").cast("string").alias("h"))
    assert bloom_maybe_contains(probe, "h", bits, m, k) \
        .filter(F.col("_maybe")).count() == 0


def test_dedup_candidate_recall_minhash_full(spark):
    # At the registered dials, MinHash-LSH candidates must reach EVERY
    # exact Jaccard>=0.8 pair (recall 1.0); SimHash is reported
    # alongside and must stay above 0.8 on the fixture corpus.
    from integrator_spark.registry import get_queries
    rows = {r.method: r for r in
            get_queries()["dedup_candidate_recall"](
                spark, "/root/testdata/sf0.001").collect()}
    assert rows["minhash_lsh"].recall == 1.0, rows
    assert rows["simhash"].recall >= 0.8, rows


def test_minhash_det_finds_every_planted_pair(spark):
    # The deterministic MinHash's band candidates must reach every
    # exact Jaccard>=0.8 pair on the fixture (same bar as spark.ml's
    # MinHashLSH at the registered dials), and the n_equal/16 estimate
    # must sit near the true Jaccard for those pairs (+-0.25: 16
    # hashes give sigma = sqrt(J(1-J)/16) ~ 0.05, so 5 sigma).
    from integrator_spark.registry import get_queries
    qs = get_queries()
    exact = {(r.d1, r.d2): r.jaccard
             for r in qs["dedup_ngram"](spark, "/root/testdata/sf0.001")
             .collect()}
    est = {(r.d1, r.d2): r.est_jaccard
           for r in qs["dedup_minhash_det"](spark, "/root/testdata/sf0.001")
           .collect()}
    assert exact and set(exact) <= set(est), \
        f"missed {set(exact) - set(est)}"
    assert all(abs(est[p] - exact[p]) <= 0.25 for p in exact)


def test_minhash_det_identical_texts_estimate_one(spark):
    # Identical shingle sets share every min-hash: est_jaccard exactly
    # 1.0; a disjoint third doc must produce no candidate with them.
    from integrator_spark.operators.dedup import minhash_det_pairs
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),
         (3, "one two three four five six seven")],
        "doc_id long, text string")
    rows = minhash_det_pairs(docs).collect()
    assert [(r.d1, r.d2, r.n_equal, r.est_jaccard) for r in rows] \
        == [(1, 2, 16, 1.0)]


def test_containment_catches_embedded_doc(spark):
    # A short doc fully embedded in a long host: containment 1.0 in the
    # short->long direction ONLY (the long doc is not contained), and
    # Jaccard-based dedup at 0.8 never fires on the same pair.
    from integrator_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )
    short = "the quick brown fox jumps over the lazy dog"
    host = " ".join(f"filler{i} pad{i} tok{i}" for i in range(40)) \
        + " " + short + " " + " ".join(f"tail{i} end{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, short), (2, host), (3, "completely different text here now")],
        "doc_id long, text string")
    got = {(r.d1, r.d2): r.containment
           for r in containment_pairs(docs, threshold=0.9).collect()}
    assert got == {(1, 2): 1.0}
    assert ngram_jaccard_pairs(docs, threshold=0.8).count() == 0


def test_triangle_census_matches_bruteforce(spark):
    # Census (nodes/edges/wedges/triangles/coefficient) must agree with
    # an itertools brute force on fuzzed graphs; reversed+duplicated
    # input edges exercise the canonicalization.
    import itertools
    import random

    from integrator_spark.operators.graph import triangle_census

    for seed in (7, 23):
        rnd = random.Random(seed)
        edges = list({(min(a, b), max(a, b)) for a, b in
                      ((rnd.randrange(18), rnd.randrange(18))
                       for _ in range(70)) if a != b})
        adj = set(edges)
        nodes = sorted({x for e in edges for x in e})
        tris = sum(1 for x, y, z in itertools.combinations(nodes, 3)
                   if (x, y) in adj and (y, z) in adj and (x, z) in adj)
        deg: dict[int, int] = {}
        for a, b in edges:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        wedges = sum(d * (d - 1) // 2 for d in deg.values())
        noisy = edges + [(b, a) for a, b in edges[:10]]
        df = spark.createDataFrame(noisy, "src long, dst long")
        row = triangle_census(df).collect()[0]
        assert (row.n_nodes, row.n_edges) == (len(nodes), len(edges)), seed
        assert (row.n_wedges, row.n_triangles) == (wedges, tris), seed
        assert abs(row.clustering_coeff
                   - round(3.0 * tris / wedges, 9)) < 1e-12, seed


def test_bfs_levels_matches_python_bfs(spark):
    # Minimal-hop levels must match a reference frontier BFS, including
    # the depth bound (nodes beyond max_depth absent from the result).
    import collections
    import random

    from integrator_spark.operators.graph import bfs_levels

    for seed in (3, 11):
        rnd = random.Random(seed)
        edges = list({(a, b) for a, b in
                      ((rnd.randrange(30), rnd.randrange(30))
                       for _ in range(45)) if a != b})
        adj = collections.defaultdict(set)
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        src = min(adj)
        want = {src: 0}
        frontier = [src]
        for lvl in range(1, 4):
            nxt = {d for n in frontier for d in adj[n] if d not in want}
            for d in nxt:
                want[d] = lvl
            frontier = sorted(nxt)
            if not nxt:
                break
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r.node: r.level
               for r in bfs_levels(df, source=src, max_depth=3).collect()}
        assert got == want, seed


def test_asof_forward_matches_pandas_merge_asof(spark):
    # Forward as-of must match pandas merge_asof(direction="forward",
    # allow_exact_matches=True) per key, including NULL past the last
    # observation and the inclusive equal-ts match.
    import pandas as pd

    from integrator_spark.operators.asof import asof_join_forward

    left_pd = pd.DataFrame({
        "k": ["a"] * 4 + ["b"] * 3,
        "ts": [0, 5, 10, 99, 2, 7, 50],
        "lv": [1, 2, 3, 4, 5, 6, 7],
    })
    right_pd = pd.DataFrame({
        "k": ["a", "a", "a", "b", "b"],
        "rts": [5, 8, 20, 7, 40],
        "pay": [50.0, 80.0, 200.0, 70.0, 400.0],
    })
    want = pd.merge_asof(
        left_pd.sort_values("ts"), right_pd.rename(columns={"rts": "ts"})
        .sort_values("ts"), on="ts", by="k", direction="forward",
        allow_exact_matches=True)
    got = asof_join_forward(
        spark.createDataFrame(left_pd), spark.createDataFrame(right_pd),
        on=["k"], left_ts="ts", right_ts="rts",
        right_payload=["pay"]).toPandas()
    want_map = {(r.k, r.ts): (None if pd.isna(r.pay) else r.pay)
                for r in want.itertuples()}
    got_map = {(r.k, r.ts): (None if pd.isna(r.pay) else r.pay)
               for r in got.itertuples()}
    assert got_map == want_map


def test_radius_pairs_matches_bruteforce(spark):
    # The grid-bucketed pair set must equal the all-pairs scan on
    # fuzzed points, including negative coordinates, points exactly on
    # the radius, and co-located duplicates.
    import itertools
    import random

    from integrator_spark.operators.spatial import radius_pairs

    for seed in (2, 9):
        rnd = random.Random(seed)
        pts = [(i, rnd.uniform(-500.0, 500.0), rnd.uniform(-500.0, 500.0))
               for i in range(60)]
        pts += [(60, pts[0][1], pts[0][2]),          # co-located dup
                (61, pts[1][1] + 100.0, pts[1][2])]  # exactly r away
        r = 100.0
        want = {(a[0], b[0])
                for a, b in itertools.combinations(pts, 2)
                if (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2 <= r * r}
        df = spark.createDataFrame(pts, "id long, x double, y double")
        got = {(row.id_a, row.id_b)
               for row in radius_pairs(df, "id", "x", "y", r).collect()}
        assert got == want, seed


def test_dbscan_composition_roles_hand_computed(spark):
    # The DBSCAN building blocks (radius pairs -> degree -> core ->
    # CC -> border/noise) on a hand-laid pattern: a dense 5-point
    # cross at the origin (all core at minPts=4), one point 8m from
    # its edge (border: in eps of a core, too sparse to be core), one
    # far point (noise).
    from integrator_spark.operators.dedup import connected_components
    from integrator_spark.operators.spatial import radius_pairs

    pts = [(0, 0.0, 0.0), (1, 5.0, 0.0), (2, -5.0, 0.0),
           (3, 0.0, 5.0), (4, 0.0, -5.0),     # dense cross, all core
           (5, 13.0, 0.0),                    # within 10 of 1 only
           (6, 500.0, 500.0)]                 # noise
    eps, min_pts = 10.0, 4
    df = spark.createDataFrame(pts, "id long, x double, y double")
    pairs = radius_pairs(df, "id", "x", "y", eps).select("id_a", "id_b")
    both = (pairs.selectExpr("id_a AS i", "id_b AS j")
            .unionByName(pairs.selectExpr("id_b AS i", "id_a AS j")))
    deg = {r.i: r.n for r in
           both.groupBy("i").agg(F.count(F.lit(1)).alias("n")).collect()}
    core = {i for i, _, _ in pts if deg.get(i, 0) + 1 >= min_pts}
    assert core == {0, 1, 2, 3, 4}
    core_edges = both.filter(F.col("i").isin(*core)
                             & F.col("j").isin(*core))
    cc = {r.doc_id: r.cluster_id for r in connected_components(
        core_edges.selectExpr("i AS d1", "j AS d2")).collect()}
    assert cc == {i: 0 for i in core}
    # 5 is adjacent to core 1 only -> border of cluster 0; 6 touches no one
    neigh5 = {r.j for r in both.filter(F.col("i") == 5).collect()}
    assert neigh5 == {1}
    assert 6 not in deg


def test_irls_det_query_matches_operator_solve(spark):
    """Round-10 graduation guard: the registered ml_logreg_irls (9-dp
    grid + Cramer fixed-expression-tree solve, oracle-backed) must
    agree with the library operator's np.linalg.solve fit to the 6-dp
    output grid — cross-engine determinism must not have moved the
    optimum."""
    from pyspark.sql import functions as F

    from integrator_spark.io import load_table
    from integrator_spark.operators.ml import logistic_irls
    from integrator_spark.registry import get_queries

    sf = "/root/testdata/sf0.001"
    got = {r.feature: r.coef
           for r in get_queries()["ml_logreg_irls"](spark, sf).collect()}
    o = load_table(spark, sf, "orders")
    feats = o.select(
        F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0)
        .alias("label"),
        F.lit(1.0).alias("intercept"),
        (F.col("o_totalprice") / 100000.0).alias("price"),
        ((F.year("o_orderdate") - F.lit(1995)) / 4.0).alias("yr"),
        ((F.col("o_custkey") % 97) / 97.0).alias("noise"))
    names = ["intercept", "price", "yr", "noise"]
    beta, loss, n = logistic_irls(feats, names, "label", iterations=8)
    for name, b in zip(names, beta):
        assert abs(got[name] - float(b)) < 1e-5, (name, got[name], b)
    assert abs(got["_log_loss"] - loss) < 1e-5
    assert got["_n"] == float(n)


def test_logistic_irls_matches_numpy_reference(spark):
    # The distributed IRLS must agree with a dense NumPy Newton solver
    # on the same data (1e-3 — the decimal-truncated accumulators and
    # float sums legitimately differ in late digits), and the planted
    # structure must be recovered: year carries the label signal, the
    # noise feature does not.
    import numpy as np
    import pandas as pd

    from integrator_spark.operators.ml import logistic_irls

    rng = np.random.RandomState(11)
    n = 4000
    X = np.column_stack([
        np.ones(n),
        rng.uniform(-1, 1, n),
        rng.uniform(-1, 1, n),
    ])
    true_beta = np.array([0.3, -1.5, 0.0])
    y = (rng.uniform(size=n) < 1 / (1 + np.exp(-X @ true_beta))).astype(float)

    beta = np.zeros(3)
    for _ in range(8):
        mu = 1 / (1 + np.exp(-X @ beta))
        g = X.T @ (y - mu)
        H = (X * (mu * (1 - mu))[:, None]).T @ X
        beta = beta + np.linalg.solve(H + 1e-9 * np.eye(3), g)

    pdf = pd.DataFrame({"intercept": X[:, 0], "f1": X[:, 1],
                        "f2": X[:, 2], "label": y})
    got, loss, n_rows = logistic_irls(
        spark.createDataFrame(pdf), ["intercept", "f1", "f2"], "label",
        iterations=8)
    assert n_rows == n
    np.testing.assert_allclose(got, beta, atol=1e-3)
    mu = 1 / (1 + np.exp(-X @ beta))
    want_loss = -np.mean(y * np.log(mu + 1e-12)
                         + (1 - y) * np.log(1 - mu + 1e-12))
    assert abs(loss - want_loss) < 1e-3
    assert abs(got[1] + 1.5) < 0.25 and abs(got[2]) < 0.2
    # empty input fails fast with a clear error, not a NumPy crash
    import pytest as _pytest
    with _pytest.raises(ValueError, match="empty input"):
        logistic_irls(spark.createDataFrame(pdf).limit(0),
                      ["intercept", "f1", "f2"], "label", iterations=1)


def test_semantic_ivf_recall_at_least_090(spark):
    # The IVF-bucketed semantic dedup is rows-only (engine-private
    # quantizer) — this pin is its correctness contract: >= 0.9 of the
    # exact cosine pair set must survive the cell bucketing at BOTH
    # committed fixtures (measured 1.0 / 1.0 when added).
    from integrator_spark.registry import all_specs
    spec = all_specs()["dedup_semantic_recall"]
    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        r = spec.fn(spark, sf_dir).collect()[0]
        assert r.n_exact > 0
        assert r.recall >= 0.9, f"{sf_dir} recall {r.recall}"


def test_signlsh_planes_match_md5_parity():
    # The Spark-side hyperplane matrix must equal the md5-parity
    # formula the DuckDB oracle recomputes — a drift here would not
    # crash anything, it would silently change the candidate sets on
    # one engine only.
    import hashlib

    import numpy as np

    from integrator_spark.operators.dedup import signlsh_planes
    coef = signlsh_planes(8, 6)
    assert coef.shape == (6, 8)
    for p in range(6):
        for j in range(8):
            h = hashlib.md5(f"{p}:{j}".encode()).hexdigest()
            want = 1 if int(h[:2], 16) % 2 == 0 else -1
            assert coef[p, j] == want
    assert set(np.unique(coef)) <= {-1, 1}


def test_signlsh_adaptive_bits_boundaries():
    # The keyspace rule SCALING.md measured (3-bit bands go quadratic
    # at 8k rows): bits = clamp(ceil(log2(n / 64)), 3, 20). Boundary
    # cases are the contract — a given n must always pin the same bits
    # so fixture-scale results stay byte-stable.
    from integrator_spark.operators.dedup import signlsh_adaptive_bits as ab

    assert ab(0) == 3 and ab(64) == 3 and ab(500) == 3       # floor
    assert ab(513) == 4                                       # first step
    assert ab(8_000) == 7                                     # r7 cliff n
    assert ab(1_155_000) == 15                                # 1.1M run
    assert ab(10**12) == 20                                   # cap
    assert all(ab(n) <= ab(n + 1) for n in range(1, 5000))    # monotone


def test_signlsh_ann_bands_boundaries():
    # The recall half of the adaptive dial (round-10): bands =
    # clamp(ceil(ln(1-recall) / ln(1-p^bits)), 12, 64) with
    # p = 1 - acos(target_cos)/pi. Growing bits shrinks the per-band
    # collision probability geometrically, so bands MUST grow with
    # bits to hold the recall target; pure-function determinism is the
    # rows-only gate's bit-stability.
    import math

    from integrator_spark.operators.dedup import signlsh_ann_bands as bands

    assert bands(3) >= 12                                     # fixture floor
    assert bands(5) > bands(3)                                # grows w/ bits
    assert bands(20) == 64                                    # hi clamp
    assert all(bands(b) <= bands(b + 1) for b in range(3, 20))  # monotone
    # The formula itself: at bits=5, cos 0.3, recall 0.95 the
    # analytic L is 38 — a collision prob >= 0.95 for a true
    # neighbor at the design cosine.
    p = 1.0 - math.acos(0.3) / math.pi
    assert bands(5) == math.ceil(math.log(0.05) / math.log(1 - p ** 5))
    assert 1 - (1 - p ** 5) ** bands(5) >= 0.95


def test_signlsh_auto_bits_matches_explicit_at_fixture_scale(spark):
    # At the sf0.01 fixture (500 vectors) the adaptive default resolves
    # to the SAME 3 bits the oracle-pinned registered queries dial in,
    # so auto mode is byte-identical there — the dial only moves when
    # the corpus outgrows the keyspace.
    from integrator_spark.io import load_table
    from integrator_spark.operators.dedup import signlsh_pairs
    e = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    auto = sorted(map(tuple, signlsh_pairs(e).collect()))
    explicit = sorted(map(tuple,
                          signlsh_pairs(e, bits_per_band=3).collect()))
    assert auto == explicit and len(auto) > 0


def test_semantic_ivf_pairs_partitioning_invariant(spark):
    # Repartitioning the input must not change the emitted pair set —
    # the within-cell kernel sorts by id and the multi-assign dedup is
    # on exact (id_a, id_b, round6) values.
    from integrator_spark.io import load_table
    from integrator_spark.operators.dedup import semantic_pairs_ivf
    e = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    a = sorted(map(tuple, semantic_pairs_ivf(e, 0.45).collect()))
    b = sorted(map(tuple,
                   semantic_pairs_ivf(e.repartition(13), 0.45).collect()))
    assert a == b


def test_signlsh_pairs_partitioning_invariant(spark):
    # Same rule as the IVF kernel: repartitioning must not change the
    # pair set — buckets are pure per-row functions and the residual is
    # an exact join, so any divergence means a kernel bug.
    from integrator_spark.io import load_table
    from integrator_spark.operators.dedup import signlsh_pairs
    e = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    a = sorted(map(tuple, signlsh_pairs(e).collect()))
    b = sorted(map(tuple, signlsh_pairs(e.repartition(13)).collect()))
    assert a == b and len(a) > 0


def test_signlsh_between_never_pairs_within_sides(spark):
    # The incremental probe joins new x corpus only: no new-new or
    # corpus-corpus pair may appear even when both sides contain
    # near-dup pairs internally.
    from pyspark.sql import functions as F

    from integrator_spark.io import load_table
    from integrator_spark.operators.dedup import signlsh_pairs_between
    e = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    new = e.filter(F.col("vec_id") % 10 >= 8)
    corpus = e.filter(F.col("vec_id") % 10 < 8)
    rows = signlsh_pairs_between(new, corpus).collect()
    new_ids = {r.vec_id for r in new.select("vec_id").collect()}
    corp_ids = {r.vec_id for r in corpus.select("vec_id").collect()}
    assert all(r.new_id in new_ids and r.corpus_id in corp_ids
               for r in rows)


def test_kcore_peel_cascade(spark):
    """k-core must peel CASCADES, not just low-degree nodes: a star
    hub has high degree but dies once its leaves are peeled; a
    triangle survives k=2 forever. Also pins idempotence: extra
    rounds past convergence change nothing."""
    from integrator_spark.operators.graph import kcore_peel

    # Triangle {1,2,3} + star hub 10 with leaves 11..20 + bridge 3-10.
    edges = [(1, 2), (1, 3), (2, 3), (3, 10)] + [(10, x)
                                                 for x in range(11, 21)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r.node, r.core_degree)
           for r in kcore_peel(df, k=2, rounds=5).collect()}
    # Leaves (deg 1) die round 1; hub 10 then has deg 1 (bridge only)
    # and dies round 2 despite starting at degree 11; triangle stays.
    assert got == {(1, 2), (2, 2), (3, 2)}
    more = {(r.node, r.core_degree)
            for r in kcore_peel(df, k=2, rounds=8).collect()}
    assert more == got
    # k above the max core: everything dies, typed empty out.
    assert kcore_peel(df, k=4, rounds=5).count() == 0


def test_pca_power_direction_matches_numpy(spark):
    """The grid power iteration must converge to LAPACK's top
    eigenvector direction (|cos| >= 0.999 after 16 fixed rounds) —
    exactness of the arithmetic is the oracle's job; this pins that
    the fixed budget actually reaches the right answer."""
    import numpy as np

    from integrator_spark.io import load_table
    from integrator_spark.registry import get_queries

    sf = "/root/testdata/sf0.001"
    got = get_queries()["vec_pca_power"](spark, sf).collect()
    v = np.array([r.pc1_loading for r in sorted(got, key=lambda r: r.pos)])
    e = load_table(spark, sf, "embeddings")
    m = np.array([r.embedding for r in e.collect()], dtype=np.float64)
    m -= m.mean(axis=0)
    evals, evecs = np.linalg.eigh((m.T @ m) / len(m))
    top = evecs[:, int(np.argmax(evals))]
    cos = abs(float(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top)))
    assert cos >= 0.999, cos


def test_kcore_converged_matches_python_full_peel(spark):
    """rounds=None (signature-terminated peeling, round-8 verdict item
    4) must equal the sequential python peel iterated to its true
    fixed point — including on a DEEP-cascade graph where any fixed
    round budget under the cascade depth returns the wrong answer."""
    import random

    from integrator_spark.operators.graph import kcore_peel

    cases = []
    # Path graph: k=2 peels one end vertex per round -> cascade depth
    # ~n/2, far beyond the default rounds=6.
    cases.append([(i, i + 1) for i in range(30)])
    for seed in (7, 23):
        rnd = random.Random(seed)
        cases.append(sorted({(min(a, b), max(a, b)) for a, b in
                             ((rnd.randrange(40), rnd.randrange(40))
                              for _ in range(120)) if a != b}))
    for edges in cases:
        adj: dict[int, set[int]] = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        alive = set(adj)
        while True:
            drop = {n for n in alive if len(adj[n] & alive) < 2}
            if not drop:
                break
            alive -= drop
        want = {(n, len(adj[n] & alive)) for n in alive}
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {(r.node, r.core_degree)
               for r in kcore_peel(df, k=2, rounds=None).collect()}
        assert got == want


def test_pagerank_converged_grid_stationary(spark):
    """iterations=None stops at the grid-stationary fixed point and
    lands within grid distance of the fully-converged NumPy solution
    (mass still conserved)."""
    import random

    import numpy as np

    from integrator_spark.operators.graph import pagerank

    rnd = random.Random(11)
    edges = list({(a, b) for a, b in
                  ((rnd.randrange(20), rnd.randrange(20))
                   for _ in range(50)) if a != b})
    nodes = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    M = np.zeros((n, n))
    for a, b in edges:
        M[idx[b], idx[a]] = 1.0
    deg = M.sum(axis=0)
    with np.errstate(divide="ignore", invalid="ignore"):
        M = np.where(deg > 0, M / deg, 0.0)
    d = 0.5   # fast contraction keeps the per-round collects cheap
    r = np.full(n, 1.0 / n)
    for _ in range(200):   # far past convergence at damping 0.5
        dang = r[deg == 0].sum()
        r = (1 - d) / n + d * (M @ r + dang / n)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {row.node: row.rank
           for row in pagerank(df, damping=d, iterations=None,
                               grid_dp=6).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    for v in nodes:
        assert abs(got[v] - r[idx[v]]) < 1e-4, v


def test_truncated_checkpoint_keeps_stats_flat(spark):
    """Regression guard for the round-9 Catalyst-stats cliff: an
    iterative self-join loop checkpointed with truncated_checkpoint
    must keep the optimized plan's sizeInBytes at the default leaf
    magnitude (~19 digits), where a plain localCheckpoint inherits
    origin stats whose join products compound x3 digits per round
    (57 -> 169 -> 505 -> ... -> BigInteger stalls past ~15 rounds)."""
    from pyspark.sql import functions as F

    from integrator_spark.operators.ckpt import truncated_checkpoint

    edges = [(i, i + 1) for i in range(20)]
    cur = truncated_checkpoint(
        spark.createDataFrame(edges, "s long, d long"))
    for _ in range(8):
        deg = cur.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
        keep = truncated_checkpoint(
            deg.filter(F.col("deg") >= 1).select("s"))
        cur = truncated_checkpoint(
            cur.join(keep, "s")
            .join(keep.select(F.col("s").alias("d")), "d")
            .select("s", "d"))
        sz = cur._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        assert len(str(sz)) < 30, (
            f"stats digits {len(str(sz))} — the stats reset regressed")
    assert cur.count() > 0


def test_truncated_checkpoint_falls_back_on_jvm_api_error(spark,
                                                          monkeypatch):
    """Round-10 ADVICE (low): internalCreateDataFrame is a
    private[sql] JVM API reached via py4j — if a future Spark renames
    it, the failure surfaces as a Py4JError at CALL time, not as
    AttributeError. truncated_checkpoint must degrade to the plain
    localCheckpoint (correct, just slower stats) instead of crashing
    every iterative operator."""
    from py4j.protocol import Py4JError

    from integrator_spark.operators import ckpt

    df = spark.range(10)
    want = sorted(r.id for r in df.collect())

    class _Boom:
        def internalCreateDataFrame(self, *a, **k):
            raise Py4JError(
                "Method internalCreateDataFrame does not exist")

        def __getattr__(self, name):   # anything else the path touches
            raise Py4JError(f"Method {name} does not exist")

    monkeypatch.setattr(spark, "_jsparkSession", _Boom())
    monkeypatch.setattr(ckpt, "_warned_fallback", False)
    out = ckpt.truncated_checkpoint(df)
    monkeypatch.undo()   # restore the session before materializing
    assert sorted(r.id for r in out.collect()) == want


def test_label_propagation_separates_bridged_cliques(spark):
    """Modal LPA must keep two dense cliques bridged by ONE edge in
    SEPARATE communities (connected components would merge them —
    that distinction is the operator's reason to exist), label each
    clique by its minimum member (deterministic tie-break), and rerun
    bit-identically."""
    from integrator_spark.operators.graph import label_propagation

    c1 = [(a, b) for a in range(5) for b in range(5) if a < b]
    c2 = [(a, b) for a in range(10, 15) for b in range(10, 15) if a < b]
    edges = c1 + c2 + [(4, 10)]   # single bridge
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.label
           for r in label_propagation(df, rounds=8).collect()}
    assert all(got[v] == 0 for v in range(5)), got
    assert all(got[v] == 10 for v in range(10, 15)), got
    rerun = {r.node: r.label
             for r in label_propagation(df, rounds=8).collect()}
    assert rerun == got
    # The registered query's community sizes are consistent with its
    # label assignment, and the structure is non-degenerate at the
    # driver's gate fixture (sf0.01: 185 communities over 1892 nodes;
    # sf0.001's 200-node dense graph genuinely collapses to one
    # community, so it can't carry this assertion).
    from integrator_spark.registry import get_queries
    rows = get_queries()["graph_label_prop"](
        spark, "/root/testdata/sf0.01").collect()
    assert len(rows) > 0
    from collections import Counter
    sizes = Counter(r.label for r in rows)
    assert all(r.community_size == sizes[r.label] for r in rows)
    assert 1 < len(sizes) < len(rows), "degenerate community structure"


def test_pagerank_raises_when_max_rounds_exhausted(spark):
    """Exhausting max_rounds without a repeated grid signature must
    raise: the ranks it holds are unconverged. (High damping needs
    ~197+ rounds at the 9-dp grid.)"""
    import pytest

    from integrator_spark.operators.graph import pagerank

    edges = [(i, (i + 1) % 12) for i in range(12)] + [(0, 5), (3, 9)]
    df = spark.createDataFrame(edges, "src long, dst long")
    with pytest.raises(RuntimeError, match="max_rounds=2 exhausted"):
        pagerank(df, iterations=None, max_rounds=2)


def test_snap_half_up_matches_sql_round():
    """Round-10 ADVICE (low): the driver-side beta snap in ml_logreg
    must round half-AWAY-from-zero like Spark/DuckDB ROUND, not
    banker's like Python round(). Pin the helper on exact .5 ties one
    digit past the grid, cross-checked against DuckDB's ROUND."""
    import duckdb

    from integrator_spark.queries.ml_prep import _snap_half_up

    # (Values whose BINARY double sits below the printed .5 tie are
    # excluded: DuckDB rounds the binary value, Spark rounds the
    # shortest decimal repr — e.g. -2.0000000035 splits the engines.
    # The helper follows Spark, whose F.round produces the grid the
    # engine walks.)
    ties = [0.0000000005, 0.0000000015, -0.0000000005, -0.0000000015,
            1.0000000025]
    for x in ties:
        want = duckdb.sql(
            f"SELECT round(CAST({x!r} AS DOUBLE), 9)").fetchone()[0]
        assert _snap_half_up(x) == want, x
    # The builtin gets the even-tie cases wrong (half-to-even).
    assert _snap_half_up(0.0000000015) == 2e-9
    assert round(0.0000000015, 9) == 1e-9   # the bug being guarded
    assert _snap_half_up(-0.0000000015) == -2e-9
    assert round(-0.0000000015, 9) == -1e-9


def test_hamming_signatures_deterministic_bounded(spark):
    """hamming_signatures packs exactly n_bits sign bits: every
    signature sits in [0, 2^48), a rerun is bit-identical (md5 planes
    + exact int-grid projections — no float in the sign decision),
    and out-of-range n_bits (>= 63 would overflow signed int64 in
    either engine) is rejected."""
    import pytest as _pytest

    from integrator_spark.io import load_table
    from integrator_spark.operators.dedup import hamming_signatures

    from .conftest import TEST_SF_DIR

    e = load_table(spark, TEST_SF_DIR, "embeddings").limit(64)
    a = {r["vec_id"]: r["sig"]
         for r in hamming_signatures(e).collect()}
    b = {r["vec_id"]: r["sig"]
         for r in hamming_signatures(e).collect()}
    assert a == b and len(a) == 64
    assert all(0 <= s < (1 << 48) for s in a.values())
    with _pytest.raises(ValueError, match="n_bits"):
        hamming_signatures(e, n_bits=63)


def test_hamming_mih_pigeonhole_property():
    """The MIH completeness guarantee is pure pigeonhole: flipping at
    most r=11 bits of a 48-bit code cannot change all 12 of its 4-bit
    chunks. Fuzz it directly on random codes and random <=r flips —
    this is the invariant that makes vec_hamming_mih EXACT (candidate
    superset of the radius ball), independent of any corpus."""
    import random

    rng = random.Random(48)
    for _ in range(500):
        sig = rng.getrandbits(48)
        n_flips = rng.randint(0, 11)
        flipped = sig
        for p in rng.sample(range(48), n_flips):
            flipped ^= 1 << p
        shared = any(((sig >> (4 * c)) & 15) == ((flipped >> (4 * c)) & 15)
                     for c in range(12))
        assert shared, (hex(sig), hex(flipped), n_flips)


def test_hamming_mih_equals_brute_radius(spark):
    """vec_hamming_mih is exact: its pair set equals the brute-force
    n^2 popcount filter at the same radius — set equality, not recall.
    (The one place an ANN-family query gets an equality gate instead
    of a recall pin; the index is complete by construction.)"""
    import pyspark.sql.functions as F

    from integrator_spark.io import load_table
    from integrator_spark.operators.dedup import hamming_signatures
    from integrator_spark.queries.vectors2 import (_RADIUS,
                                                   vec_hamming_mih)

    from .conftest import TEST_SF_DIR

    mih = {(r["vec_id"], r["neighbor_id"], r["hamming"])
           for r in vec_hamming_mih(spark, TEST_SF_DIR).collect()}
    sig = hamming_signatures(load_table(spark, TEST_SF_DIR, "embeddings"))
    b = sig.select(F.col("vec_id").alias("neighbor_id"),
                   F.col("sig").alias("_sb"))
    brute = {(r["vec_id"], r["neighbor_id"], r["hamming"])
             for r in (sig.join(b, F.col("vec_id") < F.col("neighbor_id"))
                       .withColumn("hamming",
                                   F.bit_count(F.col("sig")
                                               .bitwiseXOR(F.col("_sb")))
                                   .cast("int"))
                       .filter(F.col("hamming") <= _RADIUS)
                       .select("vec_id", "neighbor_id", "hamming")
                       .collect())}
    assert mih == brute and len(mih) > 0


def test_ann_graph_det_recall_at_registered_dials(spark):
    """vec_ann_graph_det (deterministic NN-Descent) must hold
    recall@1 >= 0.9 vs exact kNN at the registered dials — the same
    quality bar every other ANN face pins. Measured 0.94 at the
    sf0.001 fixture when the dials were chosen (k=12, k0=12,
    rounds=3); a drop means someone weakened a dial or broke a
    round's candidate expansion."""
    from integrator_spark.queries.vectors2 import vec_ann_graph_det
    from integrator_spark.registry import all_specs

    from .conftest import TEST_SF_DIR

    exact = {r["vec_id"]: r["neighbor_id"]
             for r in all_specs()["vec_knn"].fn(spark, TEST_SF_DIR).collect()}
    g = vec_ann_graph_det(spark, TEST_SF_DIR).collect()
    top1 = {r["vec_id"]: r["neighbor_id"] for r in g if r["rank"] == 1}
    hits = sum(1 for k, v in exact.items() if top1.get(k) == v)
    assert hits / len(exact) >= 0.9, hits / len(exact)
    # every node carries a full top-k list with contiguous ranks
    import collections
    ranks = collections.defaultdict(list)
    for r in g:
        ranks[r["vec_id"]].append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1))
               for v in ranks.values())


def test_hamming_recall_pinned_at_registered_dials(spark):
    """vec_hamming_recall >= 0.9 at the registered 192-bit x top-64
    dials (measured 0.930 at this fixture when chosen; 48 x 8
    measured 0.19 — the near-random-NN-cosine corpus makes code width
    THE recall dial). A drop means someone narrowed the code, the
    shortlist, or broke the wide packing/kernel order."""
    from integrator_spark.registry import all_specs

    from .conftest import TEST_SF_DIR

    row = all_specs()["vec_hamming_recall"].fn(
        spark, TEST_SF_DIR).collect()[0]
    assert row["n_queries"] == 500
    assert row["recall_at_1"] >= 0.9, row


def test_hamming_fallback_plan_equals_fused_kernel(spark, monkeypatch):
    """The above-budget relational word-join plan must produce the
    SAME shortlist as the fused broadcast kernel — forced here by a
    zero driver budget, so the fallback path can't bitrot while
    the fixture always rides the kernel. Compares the full
    (vec_id, neighbor_id, hamming) shortlist set AND that the top-k
    query output is identical through either route."""
    import pyspark.sql.functions as F

    from integrator_spark.io import load_table
    from integrator_spark.operators import budget
    from integrator_spark.operators.dedup import (
        hamming_signatures_wide, hamming_topk_scan,
        hamming_topk_shortlist_wide)

    from .conftest import TEST_SF_DIR

    e = load_table(spark, TEST_SF_DIR, "embeddings").limit(120)
    sigs = hamming_signatures_wide(e, n_bits=192, word_bits=48)
    with monkeypatch.context() as mp:
        mp.setattr(budget, "DRIVER_BUDGET_BYTES", 0)
        rel = {(r["vec_id"], r["neighbor_id"], r["hamming"])
               for r in hamming_topk_shortlist_wide(sigs, m=8).collect()}
    fused = hamming_topk_scan(e, n_bits=192, word_bits=48, m=8)
    assert fused is not None
    kern = {(r["vec_id"], r["neighbor_id"], r["hamming"])
            for r in fused.select("vec_id", "neighbor_id",
                                  "hamming").collect()}
    assert rel == kern and len(rel) == 120 * 8
    # and the scan's cosine column agrees with the fetch-join residual
    one = (fused.orderBy("vec_id", "neighbor_id").limit(5)
           .select("vec_id", "neighbor_id",
                   F.round("cos_raw", 6).alias("c")).collect())
    from integrator_spark.operators.dedup import _cosine_residual
    pairs = spark.createDataFrame(
        [(r["vec_id"], r["neighbor_id"]) for r in one],
        "vec_id long, neighbor_id long")
    ref = {(r["vec_id"], r["neighbor_id"]): r["cos_sim"]
           for r in _cosine_residual(pairs, e, e, -2.0, "vec_id",
                                     "neighbor_id", "vec_id",
                                     "embedding").collect()}
    for r in one:
        assert r["c"] == ref[(r["vec_id"], r["neighbor_id"])]


def test_hamming_scan_rejects_query_dim_mismatch(spark):
    """A query frame whose vectors do not have the corpus dimension
    fails with a "dim mismatch" error from the sign-packing kernel,
    not with numpy's matmul shape error."""
    from integrator_spark.operators.dedup import hamming_topk_scan

    corpus = spark.createDataFrame(
        [(i, [float(i + j) for j in range(8)]) for i in range(6)],
        "vec_id long, embedding array<float>")
    queries = spark.createDataFrame(
        [(100, [1.0] * 4)], "vec_id long, embedding array<float>")
    scan = hamming_topk_scan(corpus, n_bits=16, word_bits=8, m=2,
                             queries=queries)
    with pytest.raises(Exception, match="dim mismatch"):
        scan.collect()


def test_hamming_scan_budget_counts_float_payload(spark, monkeypatch):
    """The fused scan toPandas-collects the RAW float64 vectors (plus
    norms and ids), not just the packed signatures — the budget gate
    must count that payload (~560 B/vec at dim 64, not 32), or the
    driver collect OOMs ~16x before the relational fallback engages.
    120 vecs x 4 words: sigs alone = 3,840 B; full payload = 67,200 B.
    A 10 KiB budget must therefore route to the fallback (None)."""
    from integrator_spark.io import load_table
    from integrator_spark.operators import budget
    from integrator_spark.operators.dedup import hamming_topk_scan

    from .conftest import TEST_SF_DIR

    e = load_table(spark, TEST_SF_DIR, "embeddings").limit(120)
    monkeypatch.setattr(budget, "DRIVER_BUDGET_BYTES", 10 * 1024)
    assert hamming_topk_scan(e, n_bits=192, word_bits=48, m=8) is None
    # and the honest per-vector cost fits: 120 * 560 = 67,200
    monkeypatch.setattr(budget, "DRIVER_BUDGET_BYTES", 68 * 1024)
    assert hamming_topk_scan(e, n_bits=192, word_bits=48, m=8) is not None


def test_hamming_shortlist_wide_empty_corpus(spark):
    """Empty input under the broadcast budget must short-circuit to a
    stable empty frame — np.array([]) is 1-D and the kernel's
    'nn, ww = mat.shape' would raise."""
    from integrator_spark.operators.dedup import (
        hamming_signatures_wide, hamming_topk_shortlist_wide)

    e = spark.createDataFrame([], "vec_id long, embedding array<double>")
    sigs = hamming_signatures_wide(e, n_bits=192, word_bits=48)
    out = hamming_topk_shortlist_wide(sigs, m=8)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "vec_id", "neighbor_id", "hamming"]


def test_zero_norm_cosine_sentinel_agrees_across_routes(spark):
    """Degenerate (all-zero) vectors must score the SAME sentinel
    (-2.0, below any real cosine) in the fused Hamming kernel and in
    the relational _cosine_residual, so the two size-routed faces of
    vec_hamming_topk rank them identically — and LAST."""
    import pyspark.sql.functions as F

    from integrator_spark.operators.dedup import (_cosine_residual,
                                                  hamming_topk_scan)

    rows = [(0, [0.0] * 64), (1, [1.0] + [0.0] * 63),
            (2, [0.5] + [0.1] * 63)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    fused = hamming_topk_scan(e, n_bits=192, word_bits=48, m=2)
    assert fused is not None
    kern = {(r["vec_id"], r["neighbor_id"]): r["cos_raw"]
            for r in fused.collect()}
    pairs = spark.createDataFrame(
        sorted(kern), "vec_id long, neighbor_id long")
    rel = {(r["vec_id"], r["neighbor_id"]): r["cos_sim"]
           for r in _cosine_residual(pairs, e, e, -2.0, "vec_id",
                                     "neighbor_id", "vec_id",
                                     "embedding").collect()}
    assert set(kern) == set(rel)
    for k, v in kern.items():
        assert round(v, 6) == rel[k], (k, v, rel[k])
        if 0 in k:  # every pair touching the zero vector: sentinel
            assert rel[k] == -2.0


def test_cosine_residual_keep_all_retains_zero_norm(spark):
    """threshold <= -1.0 means keep-all: zero-norm sentinel pairs
    (-2.0) must SURVIVE and rank last — the ANN rerank callers that
    pass -1.0 rely on this; any real threshold still drops them."""
    from integrator_spark.operators.dedup import _cosine_residual

    rows = [(0, [0.0] * 4), (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [1.0, 1.0, 0.0, 0.0])]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = spark.createDataFrame([(0, 1), (1, 2)],
                                  "vec_id long, neighbor_id long")
    keep_all = {r["vec_id"]: r["cos_sim"]
                for r in _cosine_residual(pairs, e, e, -1.0, "vec_id",
                                          "neighbor_id", "vec_id",
                                          "embedding").collect()}
    assert keep_all[0] == -2.0         # retained, below any real cos
    assert keep_all[1] > keep_all[0]   # ranks above the sentinel
    real = _cosine_residual(pairs, e, e, 0.0, "vec_id", "neighbor_id",
                            "vec_id", "embedding").collect()
    assert {r["vec_id"] for r in real} == {1}  # sentinel pair dropped


def test_boruvka_raises_when_rounds_exhausted_unconverged(spark):
    """max_rounds too small for the graph must raise, not silently
    return a partial spanning forest (weights chosen so round 1 pairs
    {0,1} and {2,3}, leaving the bridge 1-2 cross-component)."""
    import pytest

    from integrator_spark.operators.graph import boruvka_msf

    edges = spark.createDataFrame(
        [(0, 1, 1.0), (2, 3, 2.0), (1, 2, 10.0)],
        "s long, d long, w double")
    with pytest.raises(RuntimeError, match="max_rounds=1 exhausted"):
        boruvka_msf(edges, max_rounds=1).collect()
    # and enough rounds converges to the full 3-edge path MST
    assert boruvka_msf(edges, max_rounds=4).count() == 3


def test_boruvka_star_fallback_matches_driver_contraction(spark,
                                                         monkeypatch):
    """At a zero driver budget every Borůvka round contracts through
    connected_components' star loop instead of the driver union-find;
    the spanning forest must be the same (tied weights included)."""
    from integrator_spark.operators import budget
    from integrator_spark.operators.graph import boruvka_msf

    edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 3.0), (3, 4, 2.0), (4, 0, 2.0),
         (5, 6, 1.0), (2, 4, 5.0)],
        "s long, d long, w double")
    driver = sorted(map(tuple, boruvka_msf(edges).collect()))
    monkeypatch.setattr(budget, "DRIVER_BUDGET_BYTES", 0)
    assert sorted(map(tuple, boruvka_msf(edges).collect())) == driver
    assert len(driver) == 5   # 7 nodes, 2 components


def test_connected_components_raises_when_iterations_exhausted(spark,
                                                               monkeypatch):
    """On the distributed route (budget 0) the star loop needs three
    rounds for a 5-node chain (two that change the edge set, one that
    confirms the fixpoint): with two it must raise, not return
    truncated labels the driver route would not."""
    import pytest

    from integrator_spark.operators import budget
    from integrator_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(i, i + 1) for i in range(4)],
                                  "d1 long, d2 long")
    monkeypatch.setattr(budget, "DRIVER_BUDGET_BYTES", 0)
    with pytest.raises(RuntimeError, match="max_iterations=2 exhausted"):
        connected_components(pairs, max_iterations=2)
    got = {r.doc_id: r.cluster_id
           for r in connected_components(pairs, max_iterations=6).collect()}
    assert got == {i: 0 for i in range(5)}


def test_mih_adaptive_dial_boundaries():
    """mih_adaptive_dial: chunk count = radius+1 always; width =
    ceil(log2(n/32)) floored at 4 and capped at 20 bits (codes wider
    than one int64 are fine — each chunk packs as its own word).
    Pure/deterministic at the boundaries."""
    from integrator_spark.operators.dedup import mih_adaptive_dial

    assert mih_adaptive_dial(10) == (8, 4)        # floor
    assert mih_adaptive_dial(500) == (8, 4)       # sf0.01 fixture
    assert mih_adaptive_dial(2000) == (8, 6)      # sf0.1: the SCALING dial
    assert mih_adaptive_dial(20000) == (8, 10)    # sf1: 80-bit wide code
    assert mih_adaptive_dial(200000) == (8, 13)   # sf10: selective at n/32
    assert mih_adaptive_dial(1 << 40) == (8, 20)  # hi clamp
    assert mih_adaptive_dial(2000, radius=3) == (4, 6)
    # a given n always pins the same dial (determinism)
    assert mih_adaptive_dial(12345) == mih_adaptive_dial(12345)


def test_hamming_mih_wide_code_exact(spark):
    """The wide-code MIH path (chunks packed as signature words, used
    past the int64 ceiling) is EXACT like the int64 path: radius-7
    pair set over 8 x 9-bit (72-bit) codes equals the brute zip_with
    popcount filter over the same wide signatures."""
    import pyspark.sql.functions as F

    from integrator_spark.io import load_table
    from integrator_spark.operators.dedup import hamming_signatures_wide
    from integrator_spark.queries.vectors2 import _mih_radius_pairs

    from .conftest import TEST_SF_DIR

    e = load_table(spark, TEST_SF_DIR, "embeddings")
    got = {(r["vec_id"], r["neighbor_id"], r["hamming"])
           for r in _mih_radius_pairs(e, n_chunks=8, chunk_bits=9,
                                      radius=7).collect()}
    sig = hamming_signatures_wide(e, dim=64, n_bits=72, word_bits=9)
    sa = sig.select("vec_id", F.col("sigs").alias("_sa"))
    sb = sig.select(F.col("vec_id").alias("neighbor_id"),
                    F.col("sigs").alias("_sb"))
    brute = {(r["vec_id"], r["neighbor_id"], r["hamming"])
             for r in sa.join(sb, sa["vec_id"] < sb["neighbor_id"])
             .withColumn("hamming", F.aggregate(
                 F.zip_with("_sa", "_sb",
                            lambda a, b: F.bit_count(a.bitwiseXOR(b))),
                 F.lit(0), lambda acc, x: acc + x).cast("int"))
             .filter(F.col("hamming") <= 7)
             .select("vec_id", "neighbor_id", "hamming").collect()}
    assert got == brute


def test_hamming_mih_adaptive_exact_and_selective(spark):
    """vec_hamming_mih_adaptive is EXACT at its dial, like the pinned
    face: its pair set equals the brute n^2 popcount filter over the
    SAME (n_chunks*chunk_bits)-bit signatures at radius 7 — set
    equality, not recall. Also pins the non-saturation property the
    dial exists for: per-chunk keyspace 2^w >= n/32."""
    import pyspark.sql.functions as F

    from integrator_spark.io import load_table
    from integrator_spark.operators.dedup import (hamming_signatures,
                                                  mih_adaptive_dial)
    from integrator_spark.registry import all_specs

    from .conftest import TEST_SF_DIR

    e = load_table(spark, TEST_SF_DIR, "embeddings")
    n = e.count()
    n_chunks, w = mih_adaptive_dial(n, radius=7)
    assert n_chunks == 8 and (1 << w) >= n / 32
    got = {(r["vec_id"], r["neighbor_id"], r["hamming"])
           for r in all_specs()["vec_hamming_mih_adaptive"]
           .fn(spark, TEST_SF_DIR).collect()}
    sig = hamming_signatures(e, dim=64, n_bits=n_chunks * w)
    sa = sig.select("vec_id", F.col("sig").alias("_sa"))
    sb = sig.select(F.col("vec_id").alias("neighbor_id"),
                    F.col("sig").alias("_sb"))
    brute = {(r["vec_id"], r["neighbor_id"], r["hamming"])
             for r in sa.join(sb, sa["vec_id"] < sb["neighbor_id"])
             .withColumn("hamming",
                         F.bit_count(F.col("_sa")
                                     .bitwiseXOR(F.col("_sb")))
                         .cast("int"))
             .filter(F.col("hamming") <= 7)
             .select("vec_id", "neighbor_id", "hamming").collect()}
    assert got == brute and len(got) > 0


def test_mih_radius_pairs_rejects_uncovered_radius():
    """The shared MIH plan refuses a radius the chunk count cannot
    cover (pigeonhole needs radius+1 chunks) instead of silently
    returning an incomplete pair set."""
    import pytest

    from integrator_spark.queries.vectors2 import _mih_radius_pairs

    with pytest.raises(ValueError, match="pigeonhole"):
        _mih_radius_pairs(None, n_chunks=4, chunk_bits=8, radius=7)


def test_hamming_scan_query_batch_matches_allpairs_face(spark):
    """hamming_topk_scan(queries=batch) — the serving shape — returns
    exactly the all-pairs face's rows restricted to the batch ids."""
    from integrator_spark.io import load_table
    from integrator_spark.operators.dedup import hamming_topk_scan

    from .conftest import TEST_SF_DIR

    e = load_table(spark, TEST_SF_DIR, "embeddings").limit(150)
    batch = e.filter((e["vec_id"] % 10) == 0)
    full = {(r["vec_id"], r["neighbor_id"], r["hamming"])
            for r in hamming_topk_scan(e, n_bits=192, word_bits=48,
                                       m=8).collect()
            if r["vec_id"] % 10 == 0}
    sub = {(r["vec_id"], r["neighbor_id"], r["hamming"])
           for r in hamming_topk_scan(e, n_bits=192, word_bits=48, m=8,
                                      queries=batch).collect()}
    assert sub == full and len(sub) > 0


def test_hamming_mih_wide_pigeonhole_fuzz():
    """Pigeonhole completeness holds for WIDE chunk layouts too:
    flipping <= r bits of an (r+1)-chunk code cannot change every
    chunk, for chunk widths past the int64 packing (here 8 x 13-bit
    = 104-bit codes, the measured 200k dial). Pure-python fuzz over
    the word-per-chunk layout _mih_radius_pairs uses."""
    import random

    rng = random.Random(104)
    n_chunks, w, r = 8, 13, 7
    for _ in range(500):
        chunks = [rng.getrandbits(w) for _ in range(n_chunks)]
        flipped = list(chunks)
        n_flips = rng.randint(0, r)
        for p in rng.sample(range(n_chunks * w), n_flips):
            flipped[p // w] ^= 1 << (p % w)
        assert any(a == b for a, b in zip(chunks, flipped)), (
            chunks, flipped, n_flips)


def test_hamming_incremental_complete_and_probe_only(spark):
    """vec_hamming_incremental finds EXACTLY the in-radius new-corpus
    pairs (pigeonhole completeness on the probe join — set equality
    vs the brute new x corpus popcount filter), and emits no new-new
    or corpus-corpus pair (the incremental contract: the corpus index
    is probed, never self-joined)."""
    import pyspark.sql.functions as F

    from integrator_spark.io import load_table
    from integrator_spark.operators.dedup import hamming_signatures
    from integrator_spark.queries.vectors2 import (_INGEST_EVERY,
                                                   _N_BITS, _RADIUS)
    from integrator_spark.registry import all_specs

    from .conftest import TEST_SF_DIR

    got_rows = (all_specs()["vec_hamming_incremental"]
                .fn(spark, TEST_SF_DIR).collect())
    got = {(r["new_id"], r["corpus_id"], r["hamming"]) for r in got_rows}
    for r in got_rows:
        assert r["new_id"] % _INGEST_EVERY == _INGEST_EVERY - 1
        assert r["corpus_id"] % _INGEST_EVERY != _INGEST_EVERY - 1
    e = load_table(spark, TEST_SF_DIR, "embeddings")
    sig = hamming_signatures(e, dim=64, n_bits=_N_BITS)
    new = sig.filter(F.col("vec_id") % _INGEST_EVERY
                     == _INGEST_EVERY - 1) \
        .select(F.col("vec_id").alias("new_id"), F.col("sig").alias("_a"))
    corp = sig.filter(F.col("vec_id") % _INGEST_EVERY
                      != _INGEST_EVERY - 1) \
        .select(F.col("vec_id").alias("corpus_id"),
                F.col("sig").alias("_b"))
    brute = {(r["new_id"], r["corpus_id"], r["hamming"])
             for r in new.crossJoin(corp)
             .withColumn("hamming",
                         F.bit_count(F.col("_a").bitwiseXOR(F.col("_b")))
                         .cast("int"))
             .filter(F.col("hamming") <= _RADIUS)
             .select("new_id", "corpus_id", "hamming").collect()}
    assert got == brute and len(got) > 0


def test_ordered_prefix_sums_equals_global_window(spark):
    """ordered_prefix_sums (range-partitioned two-phase cumsum) is
    value-identical to the single-partition ordered window for exact
    types, under ascending/descending order, compound tie-break keys,
    inclusive/exclusive frames, and multiple simultaneous sums."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from integrator_spark.operators.prefix import ordered_prefix_sums

    rows = [(i * 7919 % 997, i % 13, i) for i in range(3000)]
    df = spark.createDataFrame(rows, "k long, tie long, v long")

    for asc in (True, False):
        order = [F.col("k"), F.col("tie"), F.col("v")]
        sort = [c.asc() if asc else c.desc() for c in order]
        w_inc = (Window.orderBy(*sort)
                 .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        w_exc = (Window.orderBy(*sort)
                 .rowsBetween(Window.unboundedPreceding, -1))
        want = {(r["k"], r["tie"], r["v"]): (r["ci"], r["ce"], r["cn"])
                for r in df.select(
                    "k", "tie", "v",
                    F.sum("v").over(w_inc).alias("ci"),
                    F.coalesce(F.sum("v").over(w_exc), F.lit(0))
                    .alias("ce"),
                    F.sum(F.lit(1)).over(w_inc).alias("cn")).collect()}
        got_inc = ordered_prefix_sums(
            df, ["k", "tie", "v"],
            {"ci": F.col("v"), "cn": F.lit(1)}, ascending=asc)
        got_exc = ordered_prefix_sums(
            df, ["k", "tie", "v"], {"ce": F.col("v")},
            ascending=asc, include_current=False)
        gi = {(r["k"], r["tie"], r["v"]): (r["ci"], r["cn"])
              for r in got_inc.collect()}
        ge = {(r["k"], r["tie"], r["v"]): r["ce"]
              for r in got_exc.collect()}
        for key, (ci, ce, cn) in want.items():
            assert gi[key] == (ci, cn), (asc, key)
            assert ge[key] == ce, (asc, key)


def test_hamming_serve_fallback_equals_fused_route(spark, monkeypatch):
    """vec_hamming_topk_serve's over-budget path (relational word-join
    shortlist filtered to the batch ids) must produce the SAME result
    as the fused kernel route — forced by monkeypatching the scan to
    report over-budget (None), since the fused kernel otherwise always
    serves the fixture."""
    import integrator_spark.operators.dedup as od
    from integrator_spark.registry import all_specs

    from .conftest import TEST_SF_DIR

    fn = all_specs()["vec_hamming_topk_serve"].fn
    fused = {(r["vec_id"], r["neighbor_id"], r["hamming"],
              r["approx_cos"]) for r in fn(spark, TEST_SF_DIR).collect()}
    monkeypatch.setattr(od, "hamming_topk_scan",
                        lambda *a, **k: None)
    rel = {(r["vec_id"], r["neighbor_id"], r["hamming"],
            r["approx_cos"]) for r in fn(spark, TEST_SF_DIR).collect()}
    assert rel == fused and len(fused) > 0


def test_mih_radius_pairs_codes_matches_bruteforce(spark):
    """mih_radius_pairs_codes must return EXACTLY the brute-force
    radius pair set (pigeonhole completeness) on fuzzed codes, in both
    the all-pairs and the probe-batch (incremental) modes."""
    import random

    from integrator_spark.operators.dedup import mih_radius_pairs_codes

    rng = random.Random(12)
    # clustered codes: bases + small perturbations, so radius hits exist
    bases = [rng.getrandbits(56) for _ in range(6)]
    rows = []
    for i in range(120):
        c = bases[i % 6]
        for _ in range(rng.randrange(0, 4)):
            c ^= 1 << rng.randrange(56)
        rows.append((i, c))
    codes = spark.createDataFrame(rows, "doc_id long, code long")
    for radius, n_chunks in ((6, 7), (3, 4), (0, 1)):
        got = {(r["id_a"], r["id_b"], r["hamming"])
               for r in mih_radius_pairs_codes(
                   codes, n_chunks=n_chunks, chunk_bits=8,
                   radius=radius).collect()}
        want = {(a, b, bin(ca ^ cb).count("1"))
                for a, ca in rows for b, cb in rows
                if a < b and bin(ca ^ cb).count("1") <= radius}
        assert got == want, radius
    # probe mode: batch ids probe the corpus index only
    batch = spark.createDataFrame([(i,) for i in range(0, 120, 5)],
                                  "doc_id long")
    got = {(r["id_a"], r["id_b"], r["hamming"])
           for r in mih_radius_pairs_codes(
               codes, n_chunks=7, chunk_bits=8, radius=6,
               probe_ids=batch).collect()}
    bset = set(range(0, 120, 5))
    want = {(a, b, bin(ca ^ cb).count("1"))
            for a, ca in rows for b, cb in rows
            if a in bset and b not in bset
            and bin(ca ^ cb).count("1") <= 6}
    assert got == want and len(got) > 0


def test_mih_radius_pairs_codes_rejects_bad_dials(spark):
    import pytest

    from integrator_spark.operators.dedup import mih_radius_pairs_codes

    codes = spark.createDataFrame([(0, 1)], "doc_id long, code long")
    with pytest.raises(ValueError, match="pigeonhole"):
        mih_radius_pairs_codes(codes, n_chunks=6, chunk_bits=8, radius=6)
    with pytest.raises(ValueError, match="62 bits"):
        mih_radius_pairs_codes(codes, n_chunks=8, chunk_bits=8, radius=7)


def test_image_dhash_fixture_geometry():
    """The image-dedup fixture's correctness rests on two numeric
    facts pinned here: (1) the dHash kernel is a faithful inverse of
    the pattern painter (decode(paint(p)) == p for fuzzed patterns),
    (2) group base patterns are >= 19 bits apart while per-doc flips
    move a code <= 2 bits, so radius 6 separates intra from inter
    group at ANY sf."""
    import itertools
    import random

    from integrator_spark.queries.multimodal2 import (
        _GROUPS, _bmp_from_pattern, _dhash56, _pattern_bits)

    rng = random.Random(7)
    for p in [0, (1 << 56) - 1] + [rng.getrandbits(56) for _ in range(40)]:
        assert _dhash56(_bmp_from_pattern(p)) == p
    # base pattern of group g = code of a FLIP-FREE doc in g (CRT:
    # some doc_id < 3*37 has doc_id % 37 == g and doc_id % 3 == 0)
    bases = {}
    for doc_id in range(3 * _GROUPS):
        if doc_id % 3 == 0:
            bases.setdefault(doc_id % _GROUPS, _pattern_bits(doc_id))
    assert len(bases) == _GROUPS
    dmin = min(bin(a ^ b).count("1")
               for a, b in itertools.combinations(bases.values(), 2))
    assert dmin >= 19, dmin
    # any doc's code is its group base moved by at most 2 flip bits
    for doc_id in range(500):
        delta = _pattern_bits(doc_id) ^ bases[doc_id % _GROUPS]
        assert bin(delta).count("1") <= 2, doc_id


def test_hamming_tombstone_serve_equals_rebuild(spark):
    """The append-only-index + tombstone-anti-join serve route must
    equal a FULL REBUILD over the filtered corpus — the invariant
    that makes tombstone compaction a pure background optimization."""
    import pyspark.sql.functions as F

    from integrator_spark.operators.dedup import hamming_signatures
    from integrator_spark.queries.vectors2 import (
        _CHUNK_BITS, _DELETE_MOD, _DELETE_REM, _N_BITS, _N_CHUNKS,
        _RADIUS)
    from integrator_spark.registry import all_specs

    from .conftest import TEST_SF_DIR

    from integrator_spark.io import load_table
    got = {(r["vec_id"], r["neighbor_id"], r["hamming"])
           for r in all_specs()["vec_hamming_serve_deletes"]
           .fn(spark, TEST_SF_DIR).collect()}
    # rebuild: physically filter the corpus, index only survivors
    e = (load_table(spark, TEST_SF_DIR, "embeddings")
         .filter(F.col("vec_id") % _DELETE_MOD != _DELETE_REM))
    sig = hamming_signatures(e, dim=64, n_bits=_N_BITS)
    idx = sig.select(
        "vec_id", "sig",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("c"),
                     (F.shiftright("sig", _CHUNK_BITS * c)
                      .bitwiseAND(F.lit(2 ** _CHUNK_BITS - 1)))
                     .alias("chunk_val"))
            for c in range(_N_CHUNKS)])).alias("ch"))
    idx = idx.select("vec_id", "sig", F.col("ch.c").alias("c"),
                     F.col("ch.chunk_val").alias("chunk_val"))
    q = (idx.filter(F.col("vec_id") % 4 == 0)
         .select(F.col("vec_id").alias("qid"),
                 F.col("sig").alias("_sa"), "c", "chunk_val"))
    corp = idx.select(F.col("vec_id").alias("nid"),
                      F.col("sig").alias("_sb"), "c", "chunk_val")
    rebuilt = {(r["qid"], r["nid"], r["hamming"]) for r in
               (q.join(corp, ["c", "chunk_val"])
                .filter(F.col("qid") != F.col("nid"))
                .select("qid", "nid", "_sa", "_sb").distinct()
                .withColumn("hamming",
                            F.bit_count(F.col("_sa")
                                        .bitwiseXOR(F.col("_sb")))
                            .cast("int"))
                .filter(F.col("hamming") <= _RADIUS)
                .select("qid", "nid", "hamming")).collect()}
    assert got == rebuilt and len(got) > 0


def test_mih_radius_pairs_codes_wide_matches_bruteforce(spark):
    """Word-chunk MIH (codes wider than one int64) must equal the
    brute-force radius pair set, in all-pairs and probe modes, and
    reject an under-chunked radius."""
    import random

    import pytest

    from integrator_spark.operators.dedup import \
        mih_radius_pairs_codes_wide

    rng = random.Random(12)
    bases = [[rng.getrandbits(32) for _ in range(8)] for _ in range(5)]
    rows = []
    for i in range(90):
        wds = list(bases[i % 5])
        for _ in range(rng.randrange(0, 5)):
            b = rng.randrange(256)
            wds[b // 32] ^= 1 << (b % 32)
        rows.append((i, wds))
    codes = spark.createDataFrame(rows,
                                  "doc_id long, words array<long>")

    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    got = {(r["id_a"], r["id_b"], r["hamming"])
           for r in mih_radius_pairs_codes_wide(codes,
                                                radius=7).collect()}
    want = {(a, b, ham(wa, wb)) for a, wa in rows for b, wb in rows
            if a < b and ham(wa, wb) <= 7}
    assert got == want and len(want) > 0
    batch = spark.createDataFrame([(i,) for i in range(0, 90, 4)],
                                  "doc_id long")
    got = {(r["id_a"], r["id_b"], r["hamming"])
           for r in mih_radius_pairs_codes_wide(
               codes, radius=7, probe_ids=batch).collect()}
    bset = set(range(0, 90, 4))
    want = {(a, b, ham(wa, wb)) for a, wa in rows for b, wb in rows
            if a in bset and b not in bset and ham(wa, wb) <= 7}
    assert got == want
    with pytest.raises(ValueError, match="pigeonhole"):
        mih_radius_pairs_codes_wide(codes, radius=8).collect()


def test_wide_dhash_paint_decode_roundtrip():
    """256-bit face: decode(paint(p)) == p on fuzzed patterns with the
    16x17-grid 2x2-cell geometry (includes 2 REAL padding bytes/row)."""
    import random

    from integrator_spark.queries.multimodal2 import (_WIDE_CELL,
                                                      _WIDE_COLS,
                                                      _WIDE_ROWS,
                                                      _bmp_from_pattern,
                                                      _dhash_code)

    rng = random.Random(5)
    for p in [0, (1 << 256) - 1] + [rng.getrandbits(256)
                                    for _ in range(25)]:
        bmp = _bmp_from_pattern(p, rows=_WIDE_ROWS, cols=_WIDE_COLS,
                                cell=_WIDE_CELL)
        assert _dhash_code(bmp, cell=_WIDE_CELL) == p


def test_audio_fingerprint_paint_decode_roundtrip():
    """Audio face: decode(paint(p)) == p on fuzzed 56-bit patterns —
    pins the RIFF header layout, the int16 level walk staying in
    range, and the block-mean bit recovery."""
    import random

    from integrator_spark.queries.multimodal2 import (
        _audio_fingerprint56, _wav_from_pattern)

    rng = random.Random(3)
    for p in [0, (1 << 56) - 1] + [rng.getrandbits(56)
                                   for _ in range(30)]:
        assert _audio_fingerprint56(_wav_from_pattern(p)) == p


def test_mih_radius_pairs_codes_align_matches_bruteforce(spark):
    """align_cols mode must return EXACTLY the brute-force radius pair
    set restricted to equal alignment keys (the frame-aligned video
    shape), in both all-pairs and probe-batch modes — and the
    alignment column must lead the output."""
    import random

    from integrator_spark.operators.dedup import mih_radius_pairs_codes

    rng = random.Random(23)
    bases = [rng.getrandbits(56) for _ in range(5)]
    rows = []  # (doc, frame, code): docs have 2-4 frames
    for i in range(60):
        for j in range(2 + i % 3):
            c = bases[(i + j) % 5]
            for _ in range(rng.randrange(0, 4)):
                c ^= 1 << rng.randrange(56)
            rows.append((i, j, c))
    codes = spark.createDataFrame(
        rows, "doc_id long, frame_idx int, code long")
    got = {(r["frame_idx"], r["id_a"], r["id_b"], r["hamming"])
           for r in mih_radius_pairs_codes(
               codes, n_chunks=7, chunk_bits=8, radius=6,
               align_cols=["frame_idx"]).collect()}
    want = {(fa, a, b, bin(ca ^ cb).count("1"))
            for a, fa, ca in rows for b, fb, cb in rows
            if a < b and fa == fb and bin(ca ^ cb).count("1") <= 6}
    assert got == want and len(got) > 0
    # probe mode: batch docs probe the corpus index, frame-aligned
    batch = spark.createDataFrame([(i,) for i in range(0, 60, 7)],
                                  "doc_id long")
    got_p = {(r["frame_idx"], r["id_a"], r["id_b"], r["hamming"])
             for r in mih_radius_pairs_codes(
                 codes, n_chunks=7, chunk_bits=8, radius=6,
                 probe_ids=batch, align_cols=["frame_idx"]).collect()}
    bset = set(range(0, 60, 7))
    want_p = {(fa, a, b, bin(ca ^ cb).count("1"))
              for a, fa, ca in rows for b, fb, cb in rows
              if a in bset and b not in bset and fa == fb
              and bin(ca ^ cb).count("1") <= 6}
    assert got_p == want_p and len(got_p) > 0


def test_video_avi_fixture_roundtrip():
    """The video fixture's correctness rests on: (1) the AVI
    synth/decode/dHash chain is a faithful inverse of the closed-form
    frame patterns (what the DuckDB oracles recompute), in both the
    full and the trimmed corpus; (2) corruption masks flip far more
    bits than the radius + intra-group spread, so a corrupted frame
    can never sneak back under radius 6 against a clean one; (3)
    frame count is group-constant (the aligned face's equal-length
    precondition)."""
    from integrator_spark.queries.multimodal2 import _dib_dhash
    from integrator_spark.queries.multimodal3 import (
        _V_CELL, _avi_from_doc, _decode_avi, _frame_pattern,
        _n_frames_base)

    for doc in list(range(0, 240, 7)) + [3, 14, 25, 35, 70, 105, 1001]:
        for trim in (False, True):
            w, h, frames = _decode_avi(_avi_from_doc(doc, trim))
            start = 1 if (trim and doc % 11 == 3) else 0
            assert len(frames) == _n_frames_base(doc) - start
            for j, fr in enumerate(frames):
                assert (_dib_dhash(fr, w, h, _V_CELL)
                        == _frame_pattern(doc, j + start)), (doc, trim, j)
    # corruption masks: >= 15 bits each, pairwise >= 10 apart
    def mask(formula):
        return [sum(1 << k for k in range(56) if formula(r, k))
                for r in range(60)]
    m0 = mask(lambda r, k: (((r % 41) + 2) * (k + 13)) % 67 < 33)
    m1 = mask(lambda r, k: (((r % 43) + 5) * (k + 17)) % 71 < 35)
    for ms in (m0, m1):
        assert min(bin(m).count("1") for m in ms) >= 15
    dm = [bin(a ^ b).count("1") for i, a in enumerate(set(m0))
          for b in list(set(m0))[i + 1:]]
    assert min(dm) >= 10
    # n_frames is group-constant
    for doc in range(300):
        assert _n_frames_base(doc) == _n_frames_base(doc % 37 + 37 * 5)


def test_ivf_tombstone_promotes_runner_up(spark):
    """vec_ann_ivf_deletes must apply the tombstone anti-join BEFORE
    the top-1 window: no deleted id on either side of the output, and
    a live query whose pre-delete nearest neighbor is deleted gets a
    DIFFERENT live neighbor (runner-up promotion) rather than
    disappearing — the semantics post-filtering the full results
    would get wrong."""
    from integrator_spark.registry import all_specs

    from .conftest import TEST_SF_DIR

    specs = all_specs()
    base = {r["vec_id"]: r["neighbor_id"]
            for r in specs["vec_ann_ivf_det"].fn(spark,
                                                 TEST_SF_DIR).collect()}
    dels = {r["vec_id"]: r["neighbor_id"]
            for r in specs["vec_ann_ivf_deletes"].fn(spark,
                                                     TEST_SF_DIR).collect()}
    assert dels and all(v % 7 != 3 and n % 7 != 3
                        for v, n in dels.items())
    promoted = [v for v, n in base.items()
                if v % 7 != 3 and n % 7 == 3 and v in dels]
    assert promoted, "fixture has no deleted-top-neighbor case"
    assert all(dels[v] != base[v] for v in promoted)


def test_graph_delete_consolidation_semantics(spark):
    """vec_ann_graph_det_deletes: no tombstone (vec_id % 9 == 4) on
    either side; every live node whose pre-delete top-1 was deleted
    gets a live replacement (no node vanishes); and at least one
    consolidated edge is a SPLICE — an edge absent from the surviving
    pre-delete live edge set — proving the repair actually routes
    through deleted nodes rather than just severing them."""
    from integrator_spark.registry import all_specs

    from .conftest import TEST_SF_DIR

    specs = all_specs()
    base = specs["vec_ann_graph_det"].fn(spark, TEST_SF_DIR).collect()
    cons = specs["vec_ann_graph_det_deletes"].fn(spark,
                                                 TEST_SF_DIR).collect()
    dead = lambda i: i % 9 == 4  # noqa: E731
    assert cons and all(not dead(r.vec_id) and not dead(r.neighbor_id)
                        for r in cons)
    base_top = {r.vec_id: r.neighbor_id for r in base if r.rank == 1}
    cons_top = {r.vec_id: r.neighbor_id for r in cons if r.rank == 1}
    affected = [v for v, n in base_top.items()
                if not dead(v) and dead(n)]
    assert affected, "fixture has no deleted-top-neighbor case"
    for v in affected:
        assert v in cons_top and not dead(cons_top[v])
    live_pre = {(r.vec_id, r.neighbor_id) for r in base
                if not dead(r.vec_id) and not dead(r.neighbor_id)}
    spliced_wins = [(r.vec_id, r.neighbor_id) for r in cons
                    if (r.vec_id, r.neighbor_id) not in live_pre]
    assert spliced_wins, "no spliced edge survived the re-prune"


def test_graph_serve_deletes_promotes_and_recalls(spark):
    """vec_ann_graph_serve_deletes: deleted vectors neither ask nor
    return; a live query whose unfiltered winner was deleted promotes
    a live runner-up instead of disappearing; and recall@1 vs exact
    kNN over the LIVE corpus stays >= 0.9 (routing through deleted
    nodes keeps the graph navigable)."""
    import duckdb

    from integrator_spark.registry import get_queries

    from .conftest import TEST_SF_DIR

    qs = get_queries()
    dead = lambda i: i % 9 == 4  # noqa: E731
    base = {r.query_id: r.neighbor_id
            for r in qs["vec_ann_graph_search"](spark,
                                                TEST_SF_DIR).collect()
            if r.rank == 1}
    got = {r.query_id: (r.neighbor_id, r.cos_sim)
           for r in qs["vec_ann_graph_serve_deletes"](
               spark, TEST_SF_DIR).collect()}
    assert got and all(not dead(q) and not dead(n)
                       for q, (n, _) in got.items())
    promoted = [q for q, n in base.items()
                if not dead(q) and dead(n) and q in got]
    assert promoted, "fixture has no deleted-winner case"
    assert all(got[q][0] != base[q] for q in promoted)
    # exact top-1 over the live corpus, replayed in DuckDB
    con = duckdb.connect()
    truth = dict(con.execute(f"""
        WITH nv AS (SELECT vec_id,
                           list_transform(CAST(embedding AS DOUBLE[]),
                                          x -> x) AS v
                    FROM read_parquet('{TEST_SF_DIR}/embeddings.parquet')
                    WHERE vec_id % 9 <> 4),
        n2 AS (SELECT vec_id, v,
                      sqrt(list_inner_product(v, v)) AS nrm FROM nv)
        SELECT a.vec_id,
               max(list_inner_product(a.v, b.v) / (a.nrm * b.nrm)) AS best
        FROM n2 a JOIN n2 b ON a.vec_id <> b.vec_id
        GROUP BY a.vec_id
    """).fetchall())
    hits = sum(1 for q, (_, cos) in got.items()
               if cos >= truth[q] - 1e-6)
    assert hits / len(got) >= 0.9, hits / len(got)


def test_minhash_keep_deletes_repromotes(spark):
    """dedup_minhash_keep_deletes: no tombstone (doc_id % 7 == 3)
    survives; at least one doc dropped by the pre-delete survivor set
    RE-ENTERS (all its keepers were deleted) — the case post-filtering
    the old survivor list gets wrong; and every other live pre-delete
    survivor is unchanged."""
    from integrator_spark.registry import get_queries

    from .conftest import TEST_SF_DIR

    qs = get_queries()
    base = {r.doc_id for r in
            qs["dedup_minhash_keep"](spark, TEST_SF_DIR).collect()}
    dels = {r.doc_id for r in
            qs["dedup_minhash_keep_deletes"](spark, TEST_SF_DIR).collect()}
    dead = lambda i: i % 7 == 3  # noqa: E731
    assert dels and not any(dead(i) for i in dels)
    repromoted = dels - base
    assert repromoted, "fixture has no all-keepers-deleted case"
    assert not any(dead(i) for i in repromoted)
    # live pre-delete survivors are exactly preserved
    assert {i for i in base if not dead(i)} <= dels


def test_web_family_semantics(spark):
    """web_html_extract must recover the ORIGINAL document text from
    the rendered page (whitespace-normalized — the extraction's own
    collapse rule); web_url_dedup groups must collapse exactly the
    doc_id % 40 residue classes (path mod 40; host mod 5 is implied
    since 5 | 40) and never
    a pair the tracking params alone distinguish; web_link_graph's
    out-hosts per source must be its own www host plus cdn hosts."""
    import re

    from integrator_spark.registry import get_queries

    from .conftest import TEST_SF_DIR

    qs = get_queries()
    orig = {r.doc_id: r.text for r in
            spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet")
            .select("doc_id", "text").collect()}
    ext = {r.doc_id: r.main_text for r in
           qs["web_html_extract"](spark, TEST_SF_DIR).collect()}
    assert ext.keys() == orig.keys()
    for i, t in orig.items():
        assert ext[i] == re.sub(" +", " ", t).strip(), i
    groups = qs["web_url_dedup"](spark, TEST_SF_DIR).collect()
    assert groups
    canon = {r.doc_id: r.canon_url for r in
             qs["web_url_canonicalize"](spark, TEST_SF_DIR).collect()}
    for g in groups:
        members = [i for i, c in canon.items() if c == g.canon_url]
        assert len(members) == g.n_docs and min(members) == g.keep_doc_id
        assert len({i % 40 for i in members}) == 1
        assert g.canon_url == g.canon_url.lower()
        assert "utm" not in g.canon_url and "#" not in g.canon_url
    edges = qs["web_link_graph"](spark, TEST_SF_DIR).collect()
    for e in edges:
        assert e.src_host.startswith("www.") and ":" not in e.dst_host
        assert e.dst_host == e.dst_host.lower()
    assert any(e.dst_host.startswith("cdn.") for e in edges)
    assert any(e.src_host == e.dst_host for e in edges)  # nav/footer self


def test_web_curation_funnel_monotone(spark):
    """pipeline_web_curation: per-source funnel is monotone
    (n_total >= n_url_unique >= n_quality >= n_final), every stage
    drops at least one doc corpus-wide, and the final stage agrees
    with recomputing minhash-keep over the eligible set."""
    from integrator_spark.registry import get_queries

    from .conftest import TEST_SF_DIR

    rows = get_queries()["pipeline_web_curation"](
        spark, TEST_SF_DIR).collect()
    assert rows
    for r in rows:
        assert (r.n_total >= r.n_url_unique >= r.n_quality
                >= r.n_final >= 0), r
    tot = [sum(r[c] for r in rows)
           for c in ("n_total", "n_url_unique", "n_quality", "n_final")]
    assert tot[0] > tot[1] > tot[2] >= tot[3], tot


def test_web_canon_fuzz_vs_python_reference(spark):
    """_canon_col vs an independent Python implementation of the
    documented rules (lowercase host, strip :443, drop fragment,
    drop utm_* params case-insensitively, preserve everything else
    in order) over 200 seeded-random URLs: mixed-case hosts/schemes
    in the host part, explicit and default ports, params named
    'utm_x'/'UTM_X'/'xutm_a'/'a', VALUES containing 'utm_', empty
    segments from '&&', and valueless params."""
    import random

    from pyspark.sql import functions as F

    from integrator_spark.queries.web import _canon_col

    rng = random.Random(712)
    hosts = ["Example.COM", "cdn.SRC3.example.com", "a.b",
             "WWW.X.ORG:443", "x.y:8080", "h.z:443"]
    params = ["utm_source=feed", "UTM_Campaign=C1", "xutm_a=1",
              "id=7", "ref=utm_weird", "a=b=c", "flag", "q=utm_",
              "", "Utm_term=z"]
    urls = []
    for _ in range(200):
        h = rng.choice(hosts)
        path = rng.choice(["", "/", "/doc/5", "/A/B.html"])
        ps = [rng.choice(params) for _ in range(rng.randint(0, 4))]
        q = ("?" + "&".join(ps)) if ps else ""
        frag = rng.choice(["", "#x", "#sec2"])
        urls.append(f"https://{h}{path}{q}{frag}")

    def py_canon(url):
        rest = url[len("https://"):]
        cut = len(rest)
        for ch in "/?#":
            if ch in rest:
                cut = min(cut, rest.index(ch))
        hostport, tail = rest[:cut].lower(), rest[cut:]
        if hostport.endswith(":443"):
            hostport = hostport[:-4]
        path = tail
        for ch in "?#":
            if ch in path:
                path = path[:path.index(ch)]
        query = ""
        if "?" in tail:
            query = tail[tail.index("?") + 1:]
            if "#" in query:
                query = query[:query.index("#")]
        kept = [p for p in query.split("&")
                if p != "" and not p.lower().startswith("utm_")]
        return ("https://" + hostport + path
                + (("?" + "&".join(kept)) if kept else ""))

    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)],
                               "i long, raw string")
    got = {r.i: r.c for r in
           df.select("i", _canon_col(F.col("raw")).alias("c")).collect()}
    for i, u in enumerate(urls):
        assert got[i] == py_canon(u), (u, got[i], py_canon(u))


def test_shingle_and_gram_rows_match_interpreted_array_form(spark):
    # The r12 codegen rewrite (posexplode + window leads) must produce
    # byte-identical rows to the interpreted transform/element_at form
    # it replaced — including double-space empty tokens, docs shorter
    # than k (no rows), duplicate grams (occurrence rows preserved by
    # gram_rows, deduped by shingle_rows), and k == size edge cases.
    from integrator_spark.operators.dedup import gram_rows, shingle_rows

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a  b a  b"), (3, "x y"), (4, ""),
         (5, "p q r"), (6, "a b a b a b a b")],
        "doc_id long, text string")

    for k, sep in ((2, " "), (3, "|"), (8, " ")):
        w = F.split(F.col("text"), " ")
        idx = F.sequence(F.lit(0), F.size(w) - k)
        gram = F.transform(
            idx, lambda i: F.concat_ws(
                sep, *[F.element_at(w, i + j + 1) for j in range(k)]))
        old = (docs.filter(F.size(w) >= k)
               .select("doc_id", F.explode(gram).alias("gram")))
        new = gram_rows(docs, k=k, sep=sep)
        # occurrence-level parity: multiset equality both directions
        assert new.exceptAll(old).count() == 0
        assert old.exceptAll(new).count() == 0

    old_sh = (docs.select("doc_id",
                          F.explode(word_shingles("text", 3)).alias("shingle"))
              .distinct())
    new_sh = shingle_rows(docs, k=3)
    assert new_sh.exceptAll(old_sh).count() == 0
    assert old_sh.exceptAll(new_sh).count() == 0


def test_graph_ann_search_fused_matches_relational_rounds(spark,
                                                         monkeypatch):
    # The fused navigate kernel (default budget: one mapInPandas walking
    # all hops against the broadcast CSR adjacency) must return the
    # same rows as the relational hop rounds (budget 0) — float64
    # scoring, (cos DESC, cand ASC) beam rank, dedup/self-exclusion on
    # both. Checked at k=1 and at the full-beam k=beam shape
    # serve_deletes consumes.
    from integrator_spark.io import load_table
    from integrator_spark.operators import budget
    from integrator_spark.operators.ann_graph import (
        graph_ann_search,
        nn_descent,
    )
    from .conftest import TEST_SF_DIR

    emb = load_table(spark, TEST_SF_DIR, "embeddings") \
        .filter(F.col("vec_id") < 120)
    g = nn_descent(emb, k=6, iters=2)
    for kk in (1, 8):
        kw = dict(k=kk, beam=8, hops=3, n_entries=8, exclude_self=True)
        fused = sorted(graph_ann_search(g, emb, emb, **kw).collect())
        with monkeypatch.context() as mp:
            mp.setattr(budget, "DRIVER_BUDGET_BYTES", 0)
            rel = sorted(graph_ann_search(g, emb, emb, **kw).collect())
        assert fused and fused == rel, kk


def test_nn_descent_driver_rounds_match_distributed_rounds(spark, monkeypatch):
    # The r12 driver-fused build rounds (numpy CSR expansion + in-sort
    # distinct + score-matrix gathers, run when the full n x n score
    # matrix fits the driver budget) must be BYTE-identical to
    # the distributed relational rounds: the score matrix's per-element
    # sequential-j einsum reduction equals the per-pair einsum the
    # mapInPandas kernel runs, and candidate generation / .distinct() /
    # self filter / (cos DESC, dst ASC) row_number replicate the plan
    # step for step. The budget sits between the n x dim corpus matrix
    # (kept on the broadcast route) and the n x n score matrix.
    from integrator_spark.io import load_table
    from integrator_spark.operators import ann_graph, budget
    from .conftest import TEST_SF_DIR

    emb = load_table(spark, TEST_SF_DIR, "embeddings") \
        .filter(F.col("vec_id") < 120)
    driver = ann_graph.nn_descent(emb, k=6, iters=2) \
        .orderBy("vec_id", "rank").collect()
    n = emb.count()
    assert n * 64 * 8 < n * n * 8
    monkeypatch.setattr(budget, "DRIVER_BUDGET_BYTES", n * 64 * 8)
    distributed = ann_graph.nn_descent(emb, k=6, iters=2) \
        .orderBy("vec_id", "rank").collect()
    assert driver == distributed


def test_nn_descent_cell_init_repeats_and_agrees_at_budget_zero(
        spark, monkeypatch):
    # The cell-seeded init (k-means cells, corpora >= CELL_INIT_MIN_ROWS)
    # runs on no fixture by default: lower the threshold so the 500-row
    # corpus takes it. It must repeat exactly, and the join rounds
    # (budget 0) must build the same graph as the driver rounds.
    from integrator_spark.io import load_table
    from integrator_spark.operators import ann_graph, budget
    from .conftest import TEST_SF_DIR

    monkeypatch.setattr(ann_graph, "CELL_INIT_MIN_ROWS", 0)
    emb = load_table(spark, TEST_SF_DIR, "embeddings")

    def build():
        return sorted(ann_graph.nn_descent(emb, k=15, iters=4).collect())

    first = build()
    assert first and build() == first
    monkeypatch.setattr(budget, "DRIVER_BUDGET_BYTES", 0)
    assert build() == first


def test_triangle_census_kernel_matches_wedge_join(spark, monkeypatch):
    # The r12 CSR triangle-count kernel (broadcast adjacency +
    # searchsorted membership over edge chunks) must produce the exact
    # census row the 3-way oriented wedge join computes — integer
    # counting, so equality is exact.
    from integrator_spark.io import load_table
    from integrator_spark.operators import budget
    from integrator_spark.operators import graph as gops
    from .conftest import TEST_SF_DIR

    li = load_table(spark, TEST_SF_DIR, "lineitem") \
        .select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("k"),
                  F.col("l_partkey").alias("s"))
    b = li.select(F.col("l_orderkey").alias("k"),
                  F.col("l_partkey").alias("d"))
    edges = (a.join(b, "k").filter(F.col("s") < F.col("d"))
             .select("s", "d").distinct())
    kernel = gops.triangle_census(edges, src="s", dst="d",
                                  assume_canonical=True).collect()
    monkeypatch.setattr(budget, "DRIVER_BUDGET_BYTES", 0)
    relational = gops.triangle_census(edges, src="s", dst="d",
                                      assume_canonical=True).collect()
    assert kernel == relational
    assert kernel[0].n_triangles > 0


def test_det_fit_driver_route_parity(spark, monkeypatch):
    """The driver numpy Lloyd kernel (r13) must reproduce the
    distributed det-fit loop BIT-EXACTLY: same centroid dicts and the
    same (vec_id, bucket, _rn) ranking rows — seeds, argmax ties,
    integer means, -inf zero-norm handling, the (sim DESC, bucket ASC)
    order. Forcing the budget to 0 exercises the at-scale relational
    route on the same data."""
    from integrator_spark.io import load_table
    from integrator_spark.operators import budget
    from integrator_spark.operators import det_ann as sc
    from .conftest import TEST_SF_DIR

    e = load_table(spark, TEST_SF_DIR, "embeddings")
    q = sc._ivf_det_quantize(e)
    got = sc._det_collect_q(q, dim=64)
    assert got is not None
    ids, mat = got
    cent_np = sc._np_lloyd(ids, mat, k=8, iters=3)
    cent_dist = sc._ivf_det_fit_q_dist(q, k=8, iters=3, dim=64)
    assert cent_np == cent_dist

    ranked_np = sorted(map(tuple, sc._np_det_rank_pdf(
        ids, mat, cent_np, max_rn=4).itertuples(index=False)))
    ranked_dist = sorted(
        (r.vec_id, r.bucket, r._rn)
        for r in sc._ivf_det_rank(q, cent_dist)
        .filter(F.col("_rn") <= 4).collect())
    assert ranked_np == ranked_dist

    # Route switch end-to-end: _ivf_det_fit_ranked under a zero budget
    # must fall back to the distributed pair and agree.
    monkeypatch.setattr(budget, "DRIVER_BUDGET_BYTES", 0)
    q2, cent2, ranked2 = sc._ivf_det_fit_ranked(e, k=8, iters=3,
                                                max_rn=4)
    assert cent2 == cent_np
    assert sorted((r.vec_id, r.bucket, r._rn)
                  for r in ranked2.collect()) == ranked_np


def test_connected_components_driver_route_parity(spark, monkeypatch):
    """The driver union-find gate must return the SAME row set as the
    distributed star loop — including singleton-via-self-loop
    semantics — on a graph with a long chain, a cycle, a reversed
    duplicate and a self-loop."""
    from integrator_spark.operators import budget
    from integrator_spark.operators import dedup as dd

    edges = [(i, i + 1) for i in range(0, 15)]           # chain
    edges += [(100, 101), (101, 102), (102, 100)]        # cycle
    edges += [(200, 201), (201, 200), (300, 300)]        # dup + self
    pairs = spark.createDataFrame(edges, "d1 long, d2 long")

    fast = sorted(map(tuple, dd.connected_components(pairs).collect()))
    monkeypatch.setattr(budget, "DRIVER_BUDGET_BYTES", 0)
    slow = sorted(map(tuple, dd.connected_components(pairs).collect()))
    assert fast == slow
    # every component labeled by its min id
    assert all(c == 0 for n, c in fast if n <= 15)
    assert {c for n, c in fast if 100 <= n <= 102} == {100}
    # the self-loop-only id is its own singleton on both routes
    assert (300, 300) in fast and (300, 300) in slow


def test_det_adc_driver_route_parity(spark, duck, monkeypatch):
    """vec_ann_pq_det (flat PQ: the IVF-PQ pipeline with one zero cell)
    and vec_ann_ivfpq_det return IDENTICAL rows on all three routes:
    the default (driver fits, driver ADC), the budget set between the
    n x dim fit matrix and the n x n ADC score matrix (driver fits,
    relational wide-fold scan) and budget 0 (distributed fits, cell
    ranking and scan). The default rows equal each DuckDB oracle."""
    from integrator_spark.io import load_table
    from integrator_spark.operators import budget
    from integrator_spark.queries import scale as sc
    from integrator_spark.testing import canonical_strings
    from .conftest import TEST_SF_DIR

    n = load_table(spark, TEST_SF_DIR, "embeddings").count()
    assert n * 64 * 8 < n * n * 8
    default_budget = budget.DRIVER_BUDGET_BYTES
    for fn, oracle in ((sc.vec_ann_pq_det, sc._pq_det_oracle_sql()),
                       (sc.vec_ann_ivfpq_det, sc._ivfpq_det_oracle_sql())):
        pdfs = []
        for b in (default_budget, n * 64 * 8, 0):
            monkeypatch.setattr(budget, "DRIVER_BUDGET_BYTES", b)
            pdfs.append(fn(spark, TEST_SF_DIR).toPandas())
        rows = [sorted(map(tuple, p.itertuples(index=False))) for p in pdfs]
        assert rows[0] == rows[1] == rows[2], fn.__name__
        assert len(rows[0]) > 0
        assert canonical_strings(pdfs[0]) == \
            canonical_strings(duck.execute(oracle).df()), fn.__name__


def test_ivf_det_assign_wider_than_probe_matches_oracle(spark, duck,
                                                        monkeypatch):
    """n_assign > n_probe: every one of a vector's n_assign buckets
    must stay in the ranking (it used to be cut at n_probe). The driver
    and distributed (budget 0) routes agree with each other and with
    the DuckDB replay at the same dials."""
    from integrator_spark.operators import budget
    from integrator_spark.queries import scale as sc
    from integrator_spark.testing import canonical_strings
    from .conftest import TEST_SF_DIR

    dials = dict(k=4, iters=1, n_assign=3, n_probe=1)
    driver = canonical_strings(
        sc.vec_ann_ivf_det(spark, TEST_SF_DIR, **dials).toPandas())
    oracle = canonical_strings(duck.execute(
        sc._ivf_det_oracle_sql(**dials)).df())
    monkeypatch.setattr(budget, "DRIVER_BUDGET_BYTES", 0)
    distributed = canonical_strings(
        sc.vec_ann_ivf_det(spark, TEST_SF_DIR, **dials).toPandas())
    assert driver == distributed == oracle
    assert len(driver) > 0


def _record_fits_driver(monkeypatch) -> list:
    """Wrap budget.fits_driver so each call appends its byte count to
    the returned list; verdicts are unchanged."""
    from integrator_spark.operators import budget

    calls = []
    fits_driver = budget.fits_driver

    def recording_fits_driver(nbytes):
        calls.append(nbytes)
        return fits_driver(nbytes)

    monkeypatch.setattr(budget, "fits_driver", recording_fits_driver)
    return calls


def _oracle_backed_query_names() -> list[str]:
    from integrator_spark.registry import all_specs

    return sorted(n for n, spec in all_specs().items()
                  if spec.oracle is not None)


@pytest.mark.parametrize("name", _oracle_backed_query_names())
def test_forced_distributed_route_parity(spark, monkeypatch, name):
    """Every oracle-backed query that asks the driver budget for a
    route returns the same rows when the budget is 0, i.e. when every
    gate it reaches takes its distributed route. The queries are found
    by recording budget.fits_driver calls while the query builds on the
    default budget; queries that never call it are skipped."""
    from integrator_spark.operators import budget
    from integrator_spark.registry import all_specs
    from integrator_spark.testing import canonical_strings
    from .conftest import TEST_SF_DIR

    fn = all_specs()[name].fn
    calls = _record_fits_driver(monkeypatch)
    built = fn(spark, TEST_SF_DIR)   # every gate runs while building
    if not calls:
        pytest.skip("takes no driver-budget route decision")
    default = canonical_strings(built.toPandas())
    monkeypatch.setattr(budget, "DRIVER_BUDGET_BYTES", 0)
    forced = canonical_strings(fn(spark, TEST_SF_DIR).toPandas())
    assert forced == default


@pytest.mark.parametrize("name", ["dedup_cluster", "spatial_dbscan",
                                  "graph_triangles", "vec_ann_lsh",
                                  "vec_hamming_topk",
                                  "vec_ann_graph_search", "vec_ann_pq"])
def test_result_independent_of_route_and_partitions(spark, monkeypatch,
                                                    name):
    """One query per budget-gated family (connected components, CSR
    triangles, cosine residual, Hamming scan, graph ANN build and
    search, float PQ query LUTs) returns the same rows on
    {default budget, budget 0} x {3, 32} initial shuffle partitions.
    Batch shuffles start at initialPartitionNum while AQE coalescing is
    on; each count runs in its own session so the shared conf is left
    alone."""
    from integrator_spark.operators import budget
    from integrator_spark.registry import all_specs
    from integrator_spark.session import ensure_runtime_confs
    from integrator_spark.testing import canonical_strings
    from .conftest import TEST_SF_DIR

    fn = all_specs()[name].fn
    calls = _record_fits_driver(monkeypatch)
    results = []
    for parts in (3, 32):
        s = ensure_runtime_confs(spark.newSession())
        s.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
                   str(parts))
        for nbytes in (budget.DRIVER_BUDGET_BYTES, 0):
            with monkeypatch.context() as mp:
                mp.setattr(budget, "DRIVER_BUDGET_BYTES", nbytes)
                results.append(canonical_strings(
                    fn(s, TEST_SF_DIR).toPandas()))
    assert calls, f"{name} no longer asks the driver budget"
    assert results[0] and all(r == results[0] for r in results)
