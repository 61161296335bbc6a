"""Property-based mini-sqllogictest (SURVEY.md §5.2): randomized simple
predicates evaluated by both engines over the same parquet must agree
on count and an exact integer checksum. Catches comparison-semantics
drift (null handling, boundary inclusivity, string collation) that
fixed queries might miss.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from integrator_spark.io import load_table

from .conftest import TEST_SF_DIR

STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

predicate = st.fixed_dictionaries({
    "statuses": st.lists(st.sampled_from(STATUSES), min_size=1, max_size=3,
                         unique=True),
    "price_lo": st.integers(min_value=0, max_value=300_000),
    "price_span": st.integers(min_value=0, max_value=300_000),
    "priority": st.one_of(st.none(), st.sampled_from(PRIORITIES)),
    "negate": st.booleans(),
})


@settings(max_examples=20, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(p=predicate)
def test_random_filters_agree_with_duckdb(p, spark, duck):
    lo, hi = p["price_lo"], p["price_lo"] + p["price_span"]
    in_list = ", ".join(f"'{s}'" for s in p["statuses"])
    clauses = [f"o_orderstatus IN ({in_list})",
               f"o_totalprice BETWEEN {lo} AND {hi}"]
    if p["priority"] is not None:
        clauses.append(f"o_orderpriority = '{p['priority']}'")
    where = " AND ".join(clauses)
    if p["negate"]:
        where = f"NOT ({where})"

    o = load_table(spark, TEST_SF_DIR, "orders")
    cond = (F.col("o_orderstatus").isin(p["statuses"])
            & F.col("o_totalprice").between(F.lit(lo), F.lit(hi)))
    if p["priority"] is not None:
        cond = cond & (F.col("o_orderpriority") == p["priority"])
    if p["negate"]:
        cond = ~cond
    got = (o.filter(cond)
           .agg(F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum("o_orderkey"), F.lit(0)).alias("chk"))
           .collect()[0])

    want = duck.execute(
        f"SELECT COUNT(*), COALESCE(SUM(o_orderkey), 0) FROM orders WHERE {where}"
    ).fetchone()
    assert (got.n, got.chk) == want


AGG_KEYS = ["o_orderstatus", "o_orderpriority"]


@settings(max_examples=15, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(key=st.sampled_from(AGG_KEYS),
       lo=st.integers(min_value=0, max_value=400_000),
       use_distinct=st.booleans())
def test_random_aggregations_agree_with_duckdb(key, lo, use_distinct, spark, duck):
    """Randomized aggregation grammar: group key x filter x (count |
    count-distinct | integer checksum) must match DuckDB exactly."""
    o = load_table(spark, TEST_SF_DIR, "orders").filter(F.col("o_totalprice") >= lo)
    agg = (F.countDistinct("o_custkey") if use_distinct
           else F.coalesce(F.sum("o_orderkey"), F.lit(0)))
    got = sorted((r[0], r[1]) for r in
                 o.groupBy(key).agg(agg.alias("m")).collect())
    expr = ("COUNT(DISTINCT o_custkey)" if use_distinct
            else "COALESCE(SUM(o_orderkey), 0)")
    want = sorted(duck.execute(
        f"SELECT {key}, {expr} FROM orders WHERE o_totalprice >= {lo} "
        f"GROUP BY {key}").fetchall())
    assert got == want


@settings(max_examples=20, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(values=st.lists(
    st.decimals(min_value="0", max_value="999999.99", places=2),
    min_size=1, max_size=200))
def test_grid_long_sum_equals_decimal_sum(values, spark):
    # Property behind dsum_grid: for non-negative values on a 2-dp grid
    # (money), the long micro-accumulator and the DECIMAL(18,6) cast
    # path produce THE SAME double, including after a 2-dp x 2-dp
    # product (4-dp grid). Exercises ties, tiny and near-max magnitudes.
    from integrator_spark.functions.num import dsum, dsum_grid

    rows = [(float(v), float(v) * 0.07) for v in values]  # 2dp and 4dp
    df = spark.createDataFrame(rows, "a double, b double")
    got = df.agg(dsum_grid("a").alias("ga"), dsum("a").alias("da"),
                 dsum_grid(F.col("a") * (1 - F.lit(0.07))).alias("gp"),
                 dsum(F.col("a") * (1 - F.lit(0.07))).alias("dp")).collect()[0]
    assert got.ga == got.da
    assert got.gp == got.dp


def test_corpus_shuffle_is_a_permutation(spark):
    # The two-phase rank must be a bijection onto 0..n-1 (no gaps, no
    # collisions across bucket boundaries) and must equal the sorted
    # order of the md5 keys themselves.
    from integrator_spark.queries.ml_prep import corpus_shuffle

    rows = corpus_shuffle(spark, "/root/testdata/sf0.001").collect()
    pos = sorted(r.shuffle_pos for r in rows)
    assert pos == list(range(len(rows)))
    by_key = [r.shuffle_pos for r in sorted(rows, key=lambda r: r.skey)]
    assert by_key == list(range(len(rows)))


def test_table_checksum_detects_single_row_change(spark):
    # Flipping ONE row's content must change that shard's checksum and
    # leave every other shard's untouched.
    from pyspark.sql import functions as F

    from integrator_spark.io import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    digest = F.expr("bit_xor(CAST(conv(substring(md5(concat_ws('|', "
                    "doc_id, text, lang, source, n_chars)), 1, 15), "
                    "16, 10) AS BIGINT))")
    base = {r.source: r.c for r in
            d.groupBy("source").agg(digest.alias("c")).collect()}
    target = d.orderBy("doc_id").first()
    mutated = d.withColumn(
        "text", F.when(F.col("doc_id") == target.doc_id,
                       F.concat(F.col("text"), F.lit("x")))
                 .otherwise(F.col("text")))
    after = {r.source: r.c for r in
             mutated.groupBy("source").agg(digest.alias("c")).collect()}
    assert after[target.source] != base[target.source]
    for src, c in base.items():
        if src != target.source:
            assert after[src] == c


def test_cosine_pairs_twosided_invariant_to_block_count(spark):
    # The pair set must be identical for any n_blocks — block layout is
    # purely physical.
    from integrator_spark.operators.knn import (
        cosine_pairs_blocked,
        cosine_pairs_twosided,
    )

    data = [(i, [float((i * 5 + j * 11) % 13) / 13.0 + 0.05
                 for j in range(6)]) for i in range(24)]
    emb = spark.createDataFrame(data, "vec_id long, embedding array<float>")
    want = {(r.id_a, r.id_b) for r in
            cosine_pairs_blocked(emb, threshold=0.85).collect()}
    assert want
    for nb in (2, 3, 5):
        got = {(r.id_a, r.id_b) for r in
               cosine_pairs_twosided(emb, threshold=0.85,
                                     n_blocks=nb).collect()}
        assert got == want, nb


asof_case = st.fixed_dictionaries({
    "left": st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50)),
        min_size=1, max_size=25),
    "right": st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50),
                  st.integers(-1000, 1000)),
        min_size=0, max_size=25),
    "backward": st.booleans(),
})


@settings(max_examples=15, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(c=asof_case)
def test_asof_joins_agree_with_pandas_merge_asof(c, spark):
    # Both as-of directions must match pandas merge_asof per key on
    # fuzzed (key, ts) data, including equal-ts inclusivity and rows
    # past the last/first observation. Right side deduped per (k, ts)
    # first — as-of is only well-defined on unique right timestamps.
    import pandas as pd

    from integrator_spark.operators.asof import (asof_join_backward,
                                                 asof_join_forward)

    left_pd = pd.DataFrame(c["left"], columns=["k", "ts"])
    right_pd = (pd.DataFrame(c["right"], columns=["k", "rts", "pay"])
                .drop_duplicates(["k", "rts"], keep="first"))
    right_pd["pay"] = right_pd["pay"].astype(float)
    direction = "backward" if c["backward"] else "forward"
    if len(right_pd) == 0:
        # merge_asof rejects an empty object-dtype by-column; the
        # defined result is simply "no match anywhere".
        want = left_pd.assign(pay=float("nan"))
    else:
        want = pd.merge_asof(
            left_pd.sort_values(["ts", "k"], kind="stable"),
            right_pd.rename(columns={"rts": "ts"}).sort_values("ts"),
            on="ts", by="k", direction=direction, allow_exact_matches=True)
    fn = asof_join_backward if c["backward"] else asof_join_forward
    got = fn(
        spark.createDataFrame(left_pd, "k long, ts long"),
        spark.createDataFrame(right_pd, "k long, rts long, pay double"),
        on=["k"], left_ts="ts", right_ts="rts",
        right_payload=["pay"]).toPandas()

    def counts(df):
        out: dict = {}
        for r in df.itertuples():
            key = (r.k, r.ts, None if pd.isna(r.pay) else r.pay)
            out[key] = out.get(key, 0) + 1
        return out

    assert counts(got) == counts(want), direction


doc_corpus = st.lists(
    st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta", "eps",
                              "zeta", "eta", "theta"]),
             min_size=0, max_size=12).map(" ".join),
    min_size=1, max_size=10)


@settings(max_examples=15, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=doc_corpus)
def test_minhash_det_matches_python_reference(texts, spark):
    # The deterministic MinHash pipeline (md5[:8] mod p base hash, 16
    # affine mins, 4x4 banding, candidate pairs + n_equal) must agree
    # with a direct scalar Python reference on fuzzed corpora —
    # including short docs (< 3 words -> no shingles -> no signature)
    # and identical-text collisions. This is the engine-independence
    # property the DuckDB oracle checks at fixture scale, pinned here
    # on adversarially small inputs.
    import hashlib

    from integrator_spark.operators.dedup import (
        MINHASH_PRIME,
        minhash_det_pairs,
    )

    P = MINHASH_PRIME

    def sig(text):
        words = text.split(" ")
        sh = {"|".join(words[i:i + 3]) for i in range(len(words) - 2)} \
            if len(words) >= 3 else set()
        if not sh:
            return None
        hs = [int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % P
              for s in sh]
        return tuple(min(((1000003 + 7919 * i) * h + (12345 + 104729 * i))
                         % P for h in hs) for i in range(16))

    sigs = {i: sig(t) for i, t in enumerate(texts)}
    want = {}
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            sa, sb = sigs[a], sigs[b]
            if sa is None or sb is None:
                continue
            if any(sa[4 * j:4 * j + 4] == sb[4 * j:4 * j + 4]
                   for j in range(4)):
                want[(a, b)] = sum(x == y for x, y in zip(sa, sb))

    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")
    got = {(r.d1, r.d2): r.n_equal
           for r in minhash_det_pairs(docs).collect()}
    assert got == want


vec_corpus = st.lists(
    st.lists(st.floats(min_value=-1.0, max_value=1.0,
                       allow_nan=False, allow_infinity=False,
                       width=32),
             min_size=8, max_size=8),
    min_size=1, max_size=12)


@settings(max_examples=15, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(vecs=vec_corpus)
def test_signlsh_buckets_match_python_reference(vecs, spark):
    # The sign-LSH bucket pipeline and the wide Hamming signatures
    # (md5-parity planes, floor(x*2^20) int64 quantization, >= 0 sign
    # bits, little-endian word packing) must agree with a direct scalar Python reference on fuzzed
    # vectors — including exact zeros (sign convention: 0 -> bit 1)
    # and float32-boundary values. This is the engine-independence
    # property the DuckDB oracle checks at fixture scale.
    import hashlib

    from integrator_spark.operators.dedup import (hamming_signatures_wide,
                                                  signlsh_buckets)

    DIM, BITS, BANDS = 8, 3, 4

    def ref_buckets(v):
        out = []
        for band in range(BANDS):
            val = 0
            for i in range(BITS):
                p = band * BITS + i
                s = 0
                for j in range(DIM):
                    h = hashlib.md5(f"{p}:{j}".encode()).hexdigest()
                    c = 1 if int(h[:2], 16) % 2 == 0 else -1
                    s += c * math.floor(float(np.float32(v[j])) * (1 << 20))
                if s >= 0:
                    val |= 1 << i
            out.append((band, val))
        return out

    import math

    import numpy as np

    emb = spark.createDataFrame(
        [(i, [float(np.float32(x)) for x in v])
         for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>")
    got = {(r.vec_id, r.band): r.bucket
           for r in signlsh_buckets(emb, DIM, BITS, BANDS).collect()}
    want = {(i, band): val
            for i, v in enumerate(vecs)
            for band, val in ref_buckets(v)}
    assert got == want
    # Signature words at word width BITS are the same packing: word w
    # of a BITS*BANDS-bit signature equals band w's bucket.
    words = {(r.vec_id, w): s
             for r in hamming_signatures_wide(
                 emb, DIM, BITS * BANDS, word_bits=BITS).collect()
             for w, s in enumerate(r.sigs)}
    assert words == want


@given(edges=st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)),
    min_size=0, max_size=40), k=st.integers(2, 4))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_kcore_peel_matches_python_reference(spark, edges, k):
    """BSP k-core peeling == the sequential python peel on fuzzed
    graphs (self-loops dropped, duplicates collapsed): same surviving
    node set, same final in-core degrees."""
    from integrator_spark.operators.graph import kcore_peel

    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    # python reference: iterate until stable
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    while True:
        drop = {n for n in alive
                if len(adj[n] & alive) < k}
        if not drop:
            break
        alive -= drop
    want = {(n, len(adj[n] & alive)) for n in alive}
    if not und:
        df = spark.createDataFrame([], "src long, dst long")
    else:
        df = spark.createDataFrame(sorted(und), "src long, dst long")
    got = {(r.node, r.core_degree)
           for r in kcore_peel(df, k=k, rounds=10).collect()}
    assert got == want


@given(words=st.lists(
    st.text(alphabet="abcd", min_size=1, max_size=6),
    min_size=0, max_size=15), merges=st.integers(1, 4))
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bpe_merge_rounds_match_python_reference(spark, words, merges):
    """The engine's BPE merge loop == the textbook python BPE (Sennrich
    et al.) with the same (count DESC, left, right) tie-break and
    greedy left-to-right merging, on fuzzed word lists."""
    from collections import Counter

    from pyspark.sql import functions as F

    # python reference over the word-frequency table
    freq = Counter(words)
    vocab = {w: list(w) for w in freq}
    expect = []
    for _ in range(merges):
        pc = Counter()
        for w, n in freq.items():
            seq = vocab[w]
            for i in range(len(seq) - 1):
                pc[(seq[i], seq[i + 1])] += n
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        (l, r), cnt = best
        expect.append((l, r, l + r, cnt))
        for w in vocab:
            seq, out, i = vocab[w], [], 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == l and seq[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            vocab[w] = out

    # engine: run the registered query's loop body over a temp doc table
    import integrator_spark.queries.text as qt
    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)] or [(0, "")],
        "doc_id long, text string")

    # inline mini-driver mirroring text_bpe_train but over `docs`
    vocab_df = (docs.select(F.explode(F.split("text", " ")).alias("word"))
                .filter(F.col("word") != "")
                .groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
                .select("word", "freq",
                        F.trim(F.regexp_replace("word", "(.)", "$1 "))
                        .alias("seq")))
    cur, got = vocab_df, []
    pair_expr = F.expr("""
        IF(size(s) >= 2,
           transform(sequence(1, size(s) - 1),
                     j -> struct(element_at(s, j) AS sym_l,
                                 element_at(s, j + 1) AS sym_r)),
           array())
    """)
    for _ in range(merges):
        pairs = (cur.select("freq", F.split("seq", " ").alias("s"))
                 .select("freq", F.explode(pair_expr).alias("p"))
                 .groupBy(F.col("p.sym_l").alias("l"),
                          F.col("p.sym_r").alias("r"))
                 .agg(F.sum("freq").alias("c")))
        best = pairs.orderBy(F.col("c").desc(), "l", "r").limit(1).collect()
        if not best:
            break
        b = best[0]
        got.append((b.l, b.r, b.l + b.r, int(b.c)))
        from integrator_spark.queries.text import _merge_fold_expr
        cur = cur.select(
            "word", "freq",
            F.expr(_merge_fold_expr(b.l, b.r, b.l + b.r)).alias("seq"))
    assert got == expect


def test_merge_fold_expr_escapes_backslash_and_quote(spark):
    """ADVICE round 8: symbols embedded as Spark SQL literals must
    double backslashes (Spark's parser treats `\\` as an escape,
    DuckDB does not) and single quotes. A merge rule whose symbols
    contain both must still apply exactly once per adjacent pair."""
    from integrator_spark.queries.text import _merge_fold_expr

    l, r = "a\\", "'b"
    df = spark.createDataFrame(
        [("a\\ 'b x a\\ 'b",), ("a\\ a\\ 'b",), ("'b a\\",)],
        "seq string")
    out = [row.m for row in df.select(
        F.expr(_merge_fold_expr(l, r, l + r)).alias("m"))
        .collect()]
    assert out == ["a\\'b x a\\'b", "a\\ a\\'b", "'b a\\"]


@settings(max_examples=20, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(st.tuples(st.integers(-1000, 1000),
                               st.integers(0, 5),
                               st.integers(-50, 50)),
                     min_size=1, max_size=400))
def test_ordered_prefix_sums_property(rows, spark):
    """Property fuzz (round 11): the range-partitioned two-phase
    prefix sum equals the single-partition ordered window on random
    frames with duplicate keys, for the inclusive count-and-sum pair —
    the invariant every converted rank/ECDF/NTILE query rests on.
    Rows get a unique rowid tie-break so the order is total."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from integrator_spark.operators.prefix import ordered_prefix_sums

    df = spark.createDataFrame(
        [(k, t, v, i) for i, (k, t, v) in enumerate(rows)],
        "k long, t long, v long, rid long")
    w = (Window.orderBy("k", "t", "rid")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    want = {r["rid"]: (r["cv"], r["cn"]) for r in df.select(
        "rid", F.sum("v").over(w).alias("cv"),
        F.sum(F.lit(1)).over(w).alias("cn")).collect()}
    got = {r["rid"]: (r["cv"], r["cn"]) for r in ordered_prefix_sums(
        df, ["k", "t", "rid"],
        {"cv": F.col("v"), "cn": F.lit(1)}, n_buckets=7).collect()}
    assert got == want
