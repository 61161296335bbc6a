"""Near-duplicate detection operators (SURVEY.md §2.10).

Three escalating strategies, all avoiding the O(n²) all-pairs compare:

- ``ngram_jaccard_pairs`` — exact Jaccard over word-shingle sets,
  candidate generation by shingle-equality join (only docs sharing at
  least one shingle are ever compared). Pure DataFrame; oracle-checkable.
- ``minhash_lsh_pairs`` — MinHash + banded LSH via spark.ml
  (HashingTF → MinHashLSH → approxSimilarityJoin). Approximate
  candidate recall, sub-quadratic; seeded for determinism.
- ``simhash_pairs`` — 64-bit SimHash sketches (Arrow-batched pandas
  UDF over md5 word hashes) + banded self-join on 16-bit chunks +
  exact Hamming filter via bit_count.

Scale posture: every strategy is a shuffle-on-candidate-key join, so
cost tracks the number of *colliding* pairs, not n². Hot shingles /
bands (stop-phrases) are the skew risk — AQE skew-join handles
moderate cases; drop top-frequency shingles for pathological corpora.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import budget
from .ckpt import truncated_checkpoint

from ..functions.text import word_shingles


def gram_rows(docs: DataFrame, k: int, sep: str = " ",
              id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """ALL (doc_id, gram) occurrence rows: one row per sliding window
    of k whitespace tokens, joined by ``sep``, duplicates preserved
    (substring-span statistics count occurrences, not membership).
    Byte-identical to the array form ``transform(sequence(0, size -
    k), i -> concat_ws(sep, w[i], ..., w[i+k-1]))``: ``lead(word, j)``
    over (doc, pos) is exactly ``w[pos + j]``, and the ``pos <= n - k``
    filter reproduces ``sequence(0, size - k)``'s range (docs shorter
    than k yield no positions).

    Why this form (r12, guide §4.1 — prefer codegen over interpreted
    HOFs): ``transform`` + k×``element_at`` + ``concat_ws`` run
    interpreted per element, measured ~10 s per evaluation over sf0.1
    documents; posexplode + k-1 window ``lead``s + one ``concat_ws``
    is whole-stage-codegen except the per-doc window sort and measures
    ~1.7 s. The per-doc window is bounded by document length (never a
    global window)."""
    w = F.split(F.col(text_col), " ")
    words = docs.select(F.col(id_col).alias("doc_id"),
                        F.posexplode(w).alias("pos", "word"),
                        F.size(w).alias("n"))
    win = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("word", j).over(win).alias(f"_w{j}")
             for j in range(1, k)]
    return (words.select("doc_id", "pos", "word", "n", *leads)
            .filter(F.col("pos") <= F.col("n") - k)
            .select("doc_id",
                    F.concat_ws(sep, "word",
                                *[f"_w{j}" for j in range(1, k)])
                    .alias("gram")))


def shingle_rows(docs: DataFrame, k: int = 3,
                 id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """DISTINCT (doc_id, shingle) rows — the row form of
    ``explode(word_shingles(text, k))``: :func:`gram_rows` with ``|``
    as separator, made distinct (parity is symmetric-diff-0 tested
    against the array form). The trailing ``distinct()`` both matches
    the per-doc array_distinct semantics AND ends the subtree in an
    Exchange, so the several consumers every pairs operator has
    (counts + both join sides) hit ReusedExchange instead of
    re-evaluating the shingling."""
    return (gram_rows(docs, k, sep="|", id_col=id_col, text_col=text_col)
            .select("doc_id", F.col("gram").alias("shingle"))
            .distinct())


def _shingle_overlap(docs: DataFrame, k: int, id_col: str, text_col: str,
                     max_doc_freq: int | None,
                     pair: Column) -> tuple[DataFrame, DataFrame]:
    """The shingle-equality candidate join both set-similarity
    operators run: (d1, d2, n_inter) shared-shingle counts for the doc
    pairs ``pair`` keeps, and the (doc_id, n_sh) set sizes. Only docs
    sharing at least one shingle are ever paired (never all-pairs).

    ``max_doc_freq`` is the hot-shingle skew guard: a shingle appearing
    in more than that many documents (a stop-phrase — boilerplate
    headers, licence blocks) is dropped before the join AND before the
    set sizes are counted. Without it, one shingle shared by m
    documents alone creates m(m-1)/2 join rows; with it, per-shingle
    fan-out is bounded by max_doc_freq², and both ratios are exact over
    the FILTERED sets (standard stop-shingle semantics)."""
    sh = shingle_rows(docs, k, id_col=id_col, text_col=text_col)
    if max_doc_freq is not None:
        hot = (sh.groupBy("shingle")
               .agg(F.count(F.lit(1)).alias("_df"))
               .filter(F.col("_df") > max_doc_freq)
               .select("shingle"))
        # Broadcast left-anti: the hot list is tiny by construction
        # (only pathological keys exceed the cutoff).
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("d1"), "shingle")
    b = sh.select(F.col("doc_id").alias("d2"), "shingle")
    inter = (a.join(b, "shingle")
             .filter(pair)
             .groupBy("d1", "d2")
             .agg(F.count(F.lit(1)).alias("n_inter")))
    return inter, counts


def ngram_jaccard_pairs(docs: DataFrame, k: int = 3,
                        threshold: float = 0.8,
                        id_col: str = "doc_id",
                        text_col: str = "text",
                        max_doc_freq: int | None = None) -> DataFrame:
    """Exact word-k-gram Jaccard similarity for all candidate pairs
    (d1 < d2). ``max_doc_freq`` is the hot-shingle skew guard (see
    :func:`_shingle_overlap`); ``None`` (default) keeps unfiltered
    exact behavior."""
    inter, counts = _shingle_overlap(docs, k, id_col, text_col,
                                     max_doc_freq,
                                     F.col("d1") < F.col("d2"))
    ca = counts.select(F.col("doc_id").alias("d1"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("d2"), F.col("n_sh").alias("n_b"))
    jac = (F.col("n_inter")
           / (F.col("n_a") + F.col("n_b") - F.col("n_inter")))
    return (inter.join(ca, "d1").join(cb, "d2")
            .select("d1", "d2", F.round(jac, 6).alias("jaccard"),
                    "n_inter", "n_a", "n_b")
            .filter(F.col("jaccard") >= threshold))


def minhash_lsh_pairs(docs: DataFrame, k: int = 3, jaccard_dist: float = 0.5,
                      num_tables: int = 8, seed: int = 42,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """MinHash-LSH approximate near-dup pairs (spark.ml pipeline)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    shingled = docs.select(F.col(id_col).alias("doc_id"),
                           word_shingles(F.col(text_col), k).alias("shingles"))
    tf = HashingTF(inputCol="shingles", outputCol="features",
                   numFeatures=1 << 18, binary=True)
    feats = tf.transform(shingled)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes",
                     numHashTables=num_tables, seed=seed)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, jaccard_dist,
                                       distCol="jaccard_dist")
    return (pairs
            .select(F.col("datasetA.doc_id").alias("d1"),
                    F.col("datasetB.doc_id").alias("d2"),
                    F.round(F.lit(1.0) - F.col("jaccard_dist"), 6)
                     .alias("est_jaccard"))
            .filter(F.col("d1") < F.col("d2")))


def containment_pairs(docs: DataFrame, k: int = 3,
                      threshold: float = 0.9,
                      id_col: str = "doc_id",
                      text_col: str = "text",
                      max_doc_freq: int | None = None) -> DataFrame:
    """DIRECTED containment near-dup pairs: C(d1 → d2) =
    |shingles(d1) ∩ shingles(d2)| / |shingles(d1)| — the asymmetric
    companion to :func:`ngram_jaccard_pairs`. A 200-token doc fully
    embedded in a 10k-token aggregation page has Jaccard ≈ 0.02 (both
    Jaccard and MinHash are blind to it) but containment 1.0 — the
    subset-duplication case (quotes, mirrors, wrapper pages) a
    training-data pipeline must catch separately.

    Same collide-only candidate join as the Jaccard operator
    (:func:`_shingle_overlap`): each unordered candidate yields both
    directions, and ``max_doc_freq`` drops stop-phrase shingles before
    counting, so the containment denominator uses the filtered sets on
    both engines."""
    inter, counts = _shingle_overlap(docs, k, id_col, text_col,
                                     max_doc_freq,
                                     F.col("d1") != F.col("d2"))
    ca = counts.select(F.col("doc_id").alias("d1"),
                       F.col("n_sh").alias("n_src"))
    cont = F.col("n_inter") / F.col("n_src")
    return (inter.join(ca, "d1")
            .select("d1", "d2", F.round(cont, 6).alias("containment"),
                    "n_inter", "n_src")
            .filter(F.col("containment") >= threshold))


#: Modulus for the deterministic MinHash permutation family: the
#: Mersenne prime 2^31-1. Shingle base hashes are reduced below it, so
#: a_i * h + b_i stays under ~2.4e15 — exact in int64/BIGINT on BOTH
#: engines (no overflow, no unsigned wraparound to agree on).
MINHASH_PRIME = 2_147_483_647
_MH_A0, _MH_A1 = 1_000_003, 7_919
_MH_B0, _MH_B1 = 12_345, 104_729


def minhash_signatures(docs: DataFrame, k: int = 3, n_hashes: int = 16,
                       id_col: str = "doc_id",
                       text_col: str = "text",
                       eager: bool = False) -> DataFrame:
    """Deterministic MinHash signatures: (doc_id, _mh0 .. _mh{n-1}).

    All ``n_hashes`` mins are computed in ONE map-side-combinable
    groupBy — the shuffle carries n_hashes longs per doc, never a row
    per (shingle, hash). The result is ``persist()``-ed (LAZY — no job
    runs at construction, matching the operator family's lazy
    contract) because every consumer (band self-join sides, n_equal
    join sides, incremental batch/corpus splits) would otherwise
    re-run the dominant aggregation from the raw text; ``eager=True``
    opts into the round-6-style localCheckpoint (truncated lineage,
    materialized NOW) for iterative callers that want it."""
    sh = shingle_rows(docs, k, id_col=id_col, text_col=text_col)
    hv = (F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10)
          .cast("long") % MINHASH_PRIME)
    hashed = sh.select("doc_id", hv.alias("_h"))
    mins = [F.min((F.lit(_MH_A0 + _MH_A1 * i) * F.col("_h")
                   + F.lit(_MH_B0 + _MH_B1 * i)) % MINHASH_PRIME)
            .alias(f"_mh{i}") for i in range(n_hashes)]
    sig = hashed.groupBy("doc_id").agg(*mins)
    return sig.localCheckpoint(eager=True) if eager else sig.persist()


def minhash_bands(sig: DataFrame, n_hashes: int = 16, n_bands: int = 4,
                  max_band_freq: int | None = None) -> DataFrame:
    """Explode signatures into LSH band keys: (doc_id, band, val) with
    val the ','-joined r = n_hashes/n_bands consecutive components.
    ``max_band_freq`` drops hot (band, val) buckets before any join —
    the boilerplate-collapse fan-out guard."""
    r = n_hashes // n_bands
    assert r * n_bands == n_hashes, "n_hashes must divide into n_bands"
    band_structs = [
        F.struct(F.lit(j).alias("band"),
                 F.concat_ws(",", *[F.col(f"_mh{j * r + t}").cast("string")
                                    for t in range(r)]).alias("val"))
        for j in range(n_bands)]
    bands = (sig.select("doc_id",
                        F.explode(F.array(*band_structs)).alias("_b"))
             .select("doc_id", "_b.band", "_b.val"))
    if max_band_freq is not None:
        wb = Window.partitionBy("band", "val")
        bands = (bands.withColumn("_df", F.count(F.lit(1)).over(wb))
                 .filter(F.col("_df") <= max_band_freq)
                 .drop("_df"))
    return bands


def minhash_det_pairs(docs: DataFrame, k: int = 3, n_hashes: int = 16,
                      n_bands: int = 4,
                      id_col: str = "doc_id", text_col: str = "text",
                      max_band_freq: int | None = None) -> DataFrame:
    """Deterministic MinHash + banded LSH near-dup candidates — the
    oracle-checkable twin of :func:`minhash_lsh_pairs` (whose spark.ml
    hash family is engine-private). Every step is reproducible from the
    raw text in ANSI-ish SQL: base shingle hash = first 8 hex chars of
    md5 reduced mod 2^31-1, permutation i is the affine map
    (a_i*h + b_i) mod p with a_i = 1000003 + 7919*i,
    b_i = 12345 + 104729*i, signature = per-doc MIN under each map,
    bands = ``n_bands`` groups of r = n_hashes/n_bands consecutive
    components, candidates = pairs agreeing on a FULL band.

    Output: (d1, d2, n_equal, est_jaccard = n_equal/n_hashes) for every
    candidate pair — est_jaccard is the standard unbiased MinHash
    estimate of shingle-set Jaccard.

    Scale shape: ONE groupBy(doc) computes all ``n_hashes`` mins
    map-side-combinably (the shuffle carries n_hashes longs per doc,
    not per shingle); the band self-join is the usual
    collide-only candidate join; ``max_band_freq`` is the hot-bucket
    guard (same semantics as simhash_pairs' band cutoff) bounding
    fan-out on boilerplate-collapsed corpora."""
    sig = minhash_signatures(docs, k=k, n_hashes=n_hashes,
                             id_col=id_col, text_col=text_col)
    bands = minhash_bands(sig, n_hashes=n_hashes, n_bands=n_bands,
                          max_band_freq=max_band_freq)
    cand = (bands.alias("a")
            .join(bands.alias("b"),
                  [F.col("a.band") == F.col("b.band"),
                   F.col("a.val") == F.col("b.val"),
                   F.col("a.doc_id") < F.col("b.doc_id")])
            .select(F.col("a.doc_id").alias("d1"),
                    F.col("b.doc_id").alias("d2"))
            .distinct())
    sa = sig.select(F.col("doc_id").alias("d1"),
                    *[F.col(f"_mh{i}").alias(f"_a{i}")
                      for i in range(n_hashes)])
    sb = sig.select(F.col("doc_id").alias("d2"),
                    *[F.col(f"_mh{i}").alias(f"_b{i}")
                      for i in range(n_hashes)])
    n_equal = sum(F.when(F.col(f"_a{i}") == F.col(f"_b{i}"), 1).otherwise(0)
                  for i in range(n_hashes))
    return (cand.join(sa, "d1").join(sb, "d2")
            .select("d1", "d2",
                    n_equal.cast("long").alias("n_equal"))
            .withColumn("est_jaccard",
                        F.round(F.col("n_equal") / F.lit(float(n_hashes)),
                                6)))


_SIMHASH_BITS = 64
_BAND_BITS = 16
_N_BANDS = _SIMHASH_BITS // _BAND_BITS


def _simhash64(text: str) -> int:
    """Scalar reference implementation: deterministic 64-bit SimHash
    over whitespace tokens (md5-based word hashes — stable across
    processes, unlike Python's hash()). Kept as the ground truth the
    vectorized batch kernel is property-tested against; the hot path
    is :func:`_simhash_batch`."""
    acc = np.zeros(_SIMHASH_BITS, dtype=np.int64)
    shifts = np.arange(_SIMHASH_BITS, dtype=np.uint64)
    for word in text.split(" "):
        h = np.uint64(int.from_bytes(hashlib.md5(word.encode()).digest()[:8], "big"))
        bits = (h >> shifts) & np.uint64(1)
        acc += np.where(bits == 1, 1, -1)
    out = 0
    for i in range(_SIMHASH_BITS):
        if acc[i] > 0:
            out |= 1 << i
    return out - (1 << 63)  # two's-complement into signed int64


def _simhash_batch(texts: pd.Series) -> pd.Series:
    """Vectorized 64-bit SimHash over an Arrow batch — bit-identical to
    :func:`_simhash64` per document, without the per-word Python loop.

    Per batch:
    1. tokenize (``split(" ")`` — same semantics, empty tokens kept);
    2. md5-hash each *unique* token ONCE (the only residual Python
       loop, over the batch vocabulary — typically 10-100× smaller
       than the token stream on near-dup corpora); vocabulary codes
       come from hash-based ``pd.factorize``, not a sort;
    3. expand hashes to a ±1 vote matrix ``(n_vocab, 64)`` with one
       broadcasted shift, gather per-token vote rows, and segment-sum
       them per document with one C-level ``np.add.reduceat`` over the
       contiguous token stream (every doc has ≥1 token — ``"".split``
       yields ``[""]`` — so no empty reduceat segments exist);
    4. pack sign bits back into signed int64 with a broadcasted shift
       (bit-63 flip reproduces the reference's ``out - 2**63`` map
       exactly: subtracting 2**63 mod 2**64 IS flipping bit 63).
    """
    n_docs = len(texts)
    if n_docs == 0:
        return pd.Series([], dtype="int64")
    token_lists = [t.split(" ") for t in texts]
    lengths = np.fromiter((len(t) for t in token_lists), dtype=np.int64,
                          count=n_docs)
    flat = [w for toks in token_lists for w in toks]
    codes, vocab = pd.factorize(np.asarray(flat, dtype=object))
    hashes = np.fromiter(
        (int.from_bytes(hashlib.md5(w.encode()).digest()[:8], "big")
         for w in vocab),
        dtype=np.uint64, count=len(vocab))
    shifts = np.arange(_SIMHASH_BITS, dtype=np.uint64)
    # int8 votes keep the gathered (n_tokens, 64) intermediate 8× small;
    # reduceat accumulates in int32 (safe: |sum| ≤ doc token count).
    votes = (((hashes[:, None] >> shifts[None, :]) & np.uint64(1))
             .astype(np.int8) * 2 - 1)           # (n_vocab, 64) in {-1,+1}
    if n_docs * len(vocab) <= (1 << 23):
        # Small batch vocabulary (duplicate-heavy corpora): a dense
        # doc×token count matrix fits comfortably — one bincount + one
        # BLAS matmul, no per-token temp at all.
        doc_idx = np.repeat(np.arange(n_docs, dtype=np.int64), lengths)
        counts = np.bincount(doc_idx * len(vocab) + codes,
                             minlength=n_docs * len(vocab)) \
            .reshape(n_docs, len(vocab))
        acc = counts @ votes.astype(np.int64)
    else:
        starts = np.zeros(n_docs, dtype=np.int64)
        np.cumsum(lengths[:-1], out=starts[1:])
        acc = np.add.reduceat(votes[codes], starts, axis=0, dtype=np.int32)
    packed = ((acc > 0).astype(np.uint64) << shifts[None, :]) \
        .sum(axis=1, dtype=np.uint64)
    signed = (packed ^ np.uint64(1 << 63)).view(np.int64)
    return pd.Series(signed, index=texts.index)


def _simhash_series(texts: pd.Series) -> pd.Series:
    return _simhash_batch(texts)


def simhash_pairs(docs: DataFrame, max_hamming: int = 6,
                  id_col: str = "doc_id", text_col: str = "text",
                  max_band_freq: int | None = None) -> DataFrame:
    """SimHash near-dup pairs: banded candidate join + exact Hamming
    distance filter (bit_count of xor, JVM-side).

    ``max_band_freq`` is the hot-band skew guard: a (band, value) bucket
    holding more than that many documents (near-identical boilerplate
    collapsing whole corpora into one bucket) is dropped from candidate
    generation, bounding the self-join fan-out at max_band_freq² per
    bucket. Emitted pairs keep their exact Hamming distance — the guard
    only limits which pairs are *considered* (pairs colliding solely on
    dropped hot bands are missed: recall, not precision, is traded).
    ``None`` (default) keeps full candidate generation."""
    # Created lazily: pandas_udf needs an active session to parse the DDL.
    simhash_udf = F.pandas_udf(_simhash_series, "long")
    sh = docs.select(F.col(id_col).alias("doc_id"),
                     simhash_udf(F.col(text_col)).alias("simhash"))
    # Bands are MIH chunks: (band c, 16-bit value chunk_val) rows.
    bands = chunk_rows(sh, _N_BANDS, _BAND_BITS, code_col="simhash",
                       keep=["doc_id", "simhash"])
    if max_band_freq is not None:
        hot = (bands.groupBy("c", "chunk_val")
               .agg(F.count(F.lit(1)).alias("_df"))
               .filter(F.col("_df") > max_band_freq)
               .select("c", "chunk_val"))
        bands = bands.join(F.broadcast(hot), ["c", "chunk_val"],
                           "left_anti")
    left = bands.select(F.col("doc_id").alias("d1"),
                        F.col("simhash").alias("h1"), "c", "chunk_val")
    right = bands.select(F.col("doc_id").alias("d2"),
                         F.col("simhash").alias("h2"), "c", "chunk_val")
    cand = (left.join(right, ["c", "chunk_val"])
            .filter(F.col("d1") < F.col("d2"))
            .select("d1", "d2", "h1", "h2").distinct())
    # long, not int: oracle parity (DuckDB bit_count widens to BIGINT).
    hamming = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))).cast("long")
    return (cand.select("d1", "d2", hamming.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming))


def exact_dedup_keep_first(df: DataFrame, key_cols: list[str],
                           order_cols: list[str]) -> DataFrame:
    """Generic exact dedup: keep the first row per key under an explicit
    deterministic ordering (the distributed DISTINCT ON)."""
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


#: Driver bytes per edge row of :func:`_driver_components` — the Arrow
#: frame, the Python int lists, the parent dict and the output tuples:
#: tracemalloc peak measured 180-190 B/row on 1M random edges.
UF_EDGE_ROW_BYTES = 192


def _driver_components(edges: DataFrame) -> DataFrame:
    """Two-column long edge frame → (doc_id, cluster_id = component
    min) via one bounded Arrow collect and a path-halving union-find
    (attach larger root under smaller, so every root IS its component
    min — the output contract of :func:`connected_components`). The
    node set is exactly the ids appearing in ``edges``, an id seen
    only in a self-loop included. Takes no routing decision: callers
    gate it with ``budget.fits_driver(n_edges * UF_EDGE_ROW_BYTES)``
    on the edge count they already hold."""
    pdf = edges.toPandas()
    parent: dict = {}

    def _find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    cols = list(pdf.columns)
    for a, b in zip(pdf[cols[0]].to_numpy().tolist(),
                    pdf[cols[1]].to_numpy().tolist()):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = _find(a), _find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return edges.sparkSession.createDataFrame(
        [(n, _find(n)) for n in parent], "doc_id long, cluster_id long")


def connected_components(pairs: DataFrame, a_col: str = "d1",
                         b_col: str = "d2",
                         max_iterations: int = 50) -> DataFrame:
    """Connected components over an undirected pair graph → (doc_id,
    cluster_id = component min): the step that turns near-dup PAIRS
    into dedup GROUPS (keep one representative per cluster). Every id
    in either column gets exactly one row; an id that appears only in
    a self-loop is its own singleton component.

    Under the driver budget the distinct edges are collected once and
    closed by :func:`_driver_components`. Past it the components come
    from alternating large-star / small-star contraction (Kiveris et
    al., "Connected Components in MapReduce and Beyond", 2014), which
    converges in O(log² n) rounds *independent of diameter* — a long
    boilerplate chain would stall min-label propagation, whose rounds
    grow with the diameter — and every round is the same primitive,
    one groupBy-min plus one join, so it inherits AQE skew handling.
    At fixpoint the edge set IS the answer: every edge points
    (node → component min), and a left join from the node set labels
    roots and self-loop singletons with themselves.

    - large-star: for each node u, hook every LARGER neighbor v > u to
      m = min(Γ(u) ∪ {u}). Keeps large components shrinking in
      parallel without creating cycles.
    - small-star: orient edges (hi → lo); hook hi and all its smaller
      neighbors to their collective min. Flattens local chains.

    Convergence detection is a (count, xxhash64-sum) checksum of the
    edge set — one cheap aggregate per round instead of a full
    ``exceptAll``; the fixpoint is exact because the edge set itself
    stops changing. Raises ``RuntimeError`` when ``max_iterations``
    ends first: truncated labels would differ from the driver route.
    """
    edges = (pairs.select(F.col(a_col).cast("long").alias("u"),
                          F.col(b_col).cast("long").alias("v"))
             .distinct().localCheckpoint(eager=True))
    # Each star round costs 3-4 shuffles plus a signature collect, and
    # percolated components (spatial_dbscan's one 15k-node cluster at
    # sf0.1) need several rounds of pure job-barrier overhead; under
    # the driver budget the whole closure is one Arrow collect.
    if budget.fits_driver(edges.count() * UF_EDGE_ROW_BYTES):
        return _driver_components(edges)
    nodes = (edges.select("u")
             .unionByName(edges.select(F.col("v").alias("u"))).distinct())
    # Lineage is truncated each round with the stats-resetting
    # checkpoint (operators/ckpt.py): the logical plan otherwise
    # doubles per iteration (edges appears twice per round), and a plain
    # localCheckpoint still inherits origin Catalyst stats whose join
    # products compound geometrically per round. On a real cluster
    # swap in reliable checkpointing to also survive executor loss.
    first = edges
    prev_sig = None
    for _ in range(max_iterations):
        # large-star over the symmetric neighborhood (a self-loop
        # fails v > u and drops out here)
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("_mn"))
        large = (sym.join(mins, "u")
                 .withColumn("_m", F.least(F.col("_mn"), F.col("u")))
                 .filter(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("u"), F.col("_m").alias("v"))
                 .filter(F.col("u") != F.col("v")).distinct())
        # small-star over (hi -> lo) oriented edges
        oriented = large.select(F.greatest(F.col("u"), F.col("v")).alias("hi"),
                                F.least(F.col("u"), F.col("v")).alias("lo"))
        mins2 = oriented.groupBy("hi").agg(F.min("lo").alias("_m"))
        new_edges = (oriented.join(mins2, "hi")
                     .select(F.col("lo").alias("u"), F.col("_m").alias("v"))
                     .unionByName(mins2.select(F.col("hi").alias("u"),
                                               F.col("_m").alias("v")))
                     .filter(F.col("u") != F.col("v")).distinct())
        # eager=False: the signature aggregate below is the round's ONE
        # driver action — it materializes (and persists) the
        # checkpointed edge set as a side effect, instead of paying a
        # separate checkpoint job barrier per round.
        new_edges = truncated_checkpoint(new_edges, eager=False)
        sig = new_edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h")
        ).collect()[0]
        if edges is not first:   # `nodes` still reads the input edges
            edges.unpersist()
        edges = new_edges
        if prev_sig == (sig.n, sig.h):
            break
        prev_sig = (sig.n, sig.h)
    else:
        raise RuntimeError(
            f"connected_components: max_iterations={max_iterations} "
            f"exhausted before the edge set reached its fixpoint")
    return (nodes.join(edges, "u", "left")
            .select(F.col("u").alias("doc_id"),
                    F.coalesce("v", "u").alias("cluster_id")))


# --- Sign-random-projection (hyperplane) LSH over embeddings ---------------
#
# The embedding analogue of the deterministic-MinHash family above: a
# cross-engine-replayable sketch whose every step an ANSI-SQL oracle can
# recompute from the raw vectors. Two determinism tricks make that
# possible:
#
# 1. Hyperplanes are md5-derived +/-1 vectors (coefficient for plane p,
#    component j = parity of the first md5 byte of "p:j"), not RNG
#    Gaussians — any engine with md5 regenerates the identical planes.
# 2. The projection sign is computed in EXACT integer arithmetic:
#    components are quantized once as floor(x * 2^20) (double multiply
#    and floor are IEEE-deterministic), then dotted with the +/-1 ints.
#    A float dot's sum order could flip a near-zero sign between
#    engines; int64 sums cannot (|sum| <= 64 * 2^21 * 2^20 << 2^63).
#
# Collision probability per plane for angle theta is 1 - theta/pi, so
# with r planes per band and b bands recall at cosine c is
# 1 - (1 - (1 - acos(c)/pi)^r)^b — dial r down / b up for low
# thresholds. Cost tracks colliding pairs only (bucket-equality join,
# never all-pairs); sign-LSH selectivity is strongest in the
# high-similarity regime, and the honest low-threshold scale path is
# the IVF-bucketed variant (semantic_pairs_ivf below).


#: Target mean bucket occupancy for the adaptive band-bits default:
#: ~64 rows/bucket, the same dial semantic_pairs_ivf's adaptive cell
#: count targets — candidate volume Σ C(bucket, 2) then grows ~linearly
#: with n instead of quadratically.
SIGNLSH_TARGET_BUCKET_ROWS = 64


def signlsh_adaptive_bits(n: int,
                          target_bucket_rows: int =
                          SIGNLSH_TARGET_BUCKET_ROWS,
                          lo: int = 3, hi: int = 20) -> int:
    """Bits per band sized to the corpus: clamp(ceil(log2(n /
    target_bucket_rows)), lo, hi). The rule SCALING.md's round-7
    inflation curve measured: band keyspace (2^bits buckets) must grow
    with log2(corpus) or buckets saturate and the bucket-equality join
    degenerates toward all-pairs (3-bit bands went quadratic at 8k
    rows while 16-bit bands held 0.06%-of-all-pairs volume at 1.155M).
    Pure/deterministic — unit-tested at the boundaries; a given n
    always pins the same bits, so fixture-scale results are stable."""
    import math

    if n <= target_bucket_rows:
        return lo
    return max(lo, min(hi, math.ceil(math.log2(n / target_bucket_rows))))


def signlsh_ann_bands(bits: int, target_cos: float = 0.3,
                      target_recall: float = 0.95,
                      lo: int = 12, hi: int = 64) -> int:
    """The OTHER half of the adaptive sign-LSH dial: bands needed so a
    true neighbor at cosine >= ``target_cos`` still collides in at
    least one band with probability >= ``target_recall`` once
    :func:`signlsh_adaptive_bits` has grown the per-band keyspace.

    Per-plane agreement probability at angle theta is 1 - theta/pi, so
    a b-bit band collides with p^b and L bands give 1 - (1 - p^b)^L —
    growing b with log2(n) (the occupancy/cost dial) SHRINKS p^b
    geometrically, so holding recall requires
    L = ceil(ln(1 - recall) / ln(1 - p^b)). With occupancy pinned at
    ~64 rows/bucket, candidate volume is ~32·n per band — L·O(n)
    total, linear where all-pairs is quadratic.

    Clamped to [lo, hi]: past ``hi`` bands (very large corpora probed
    for LOW-similarity neighbors) the band count explodes — sign-LSH
    selectivity is a high-similarity instrument, and the honest scale
    path for low thresholds is the IVF-bucketed route
    (semantic_pairs_ivf / vec_ann_ivf), as this module's header
    states. Pure/deterministic: a given (bits, target) always pins the
    same band count, so reruns are bit-identical."""
    import math

    p = 1.0 - math.acos(max(-1.0, min(1.0, target_cos))) / math.pi
    p_band = p ** bits
    if p_band >= 1.0:
        return lo
    need = math.ceil(math.log(1.0 - target_recall)
                     / math.log(1.0 - p_band))
    return max(lo, min(hi, need))


def mih_adaptive_dial(n: int, radius: int = 7,
                      max_chunk_bits: int = 20,
                      target_bucket_rows: int = 32) -> tuple[int, int]:
    """Production dial for multi-index Hamming search → (n_chunks,
    chunk_bits). The MIH split (Norouzi et al., CVPR 2012) has two
    independent knobs, sized the same way the sign-LSH pair
    (signlsh_adaptive_bits / signlsh_ann_bands) is:

    - **chunk COUNT follows the radius guarantee**: pigeonhole needs
      r+1 exact-match chunks to cover radius r, so n_chunks = radius+1.
    - **chunk WIDTH follows corpus size**: a w-bit chunk has 2^w
      buckets; expected per-chunk bucket occupancy is n/2^w, so the
      candidate join volume is ~n_chunks · n²/2^w. Holding occupancy
      at ``target_bucket_rows`` gives w = ceil(log2(n / target)) —
      the identical rule to signlsh_adaptive_bits, and the split
      SCALING.md measured: the fixture-pinned 4-bit chunks saturate
      their 16-key space (exponent 1.26, heading quadratic) while the
      width-scaled dial held 0.75 at sf1.

    Width is floored at 4 and capped at ``max_chunk_bits`` (default
    20, the signlsh hi clamp — 2^20 buckets cover n = 32M per the
    occupancy rule; growth past that wants more chunks+radius, not
    wider chunks). Codes wider than one int64 are fine: the MIH plan
    packs each chunk as its own signature word (word_bits =
    chunk_bits), so the dial is corpus-bounded, not type-bounded —
    the 7-bit int64 cap would saturate at n ~ 200k (bucket occupancy
    1.5k rows -> 2.5e9 candidate pairs, measured in round 11
    (SCALING.md)). Pure/deterministic."""
    import math

    n_chunks = radius + 1
    width = math.ceil(math.log2(max(2.0, n / target_bucket_rows)))
    return n_chunks, max(4, min(max_chunk_bits, width))


def signlsh_planes(dim: int, n_planes: int) -> np.ndarray:
    """Deterministic +/-1 hyperplane matrix [n_planes, dim]: coefficient
    (p, j) is +1 iff the first byte of md5("p:j") is even. Engine-
    portable by construction — the DuckDB oracle recomputes the same
    matrix with its own md5()."""
    coef = np.empty((n_planes, dim), dtype=np.int64)
    for p in range(n_planes):
        for j in range(dim):
            h = hashlib.md5(f"{p}:{j}".encode()).hexdigest()
            coef[p, j] = 1 if int(h[:2], 16) % 2 == 0 else -1
    return coef


def sign_words(v: np.ndarray, planes: np.ndarray,
               word_bits: int) -> np.ndarray:
    """The one sign-packing kernel: [n, ceil(n_planes / word_bits)]
    int64 words for the rows of ``v``. Components are quantized once
    as floor(x * 2^20) and dotted exactly with the +/-1 ``planes``; bit
    p is set iff that projection is >= 0, and lands in word
    p // word_bits at bit p % word_bits. A single-word signature
    (word_bits = n_bits), a band bucket (word_bits = bits_per_band)
    and an MIH chunk word (word_bits = chunk_bits) are all this
    little-endian packing at their own word width. Raises on a
    dimension mismatch instead of failing inside the matmul."""
    if v.shape[1] != planes.shape[1]:
        raise ValueError(f"sign_words: dim mismatch {v.shape[1]} != "
                         f"{planes.shape[1]}")
    q = np.floor(v * float(1 << 20)).astype(np.int64)
    bits = q @ planes.T >= 0                             # [n, n_planes]
    n_words = -(-planes.shape[0] // word_bits)
    bits = np.pad(bits, ((0, 0), (0, n_words * word_bits - bits.shape[1])))
    weights = np.int64(1) << np.arange(word_bits, dtype=np.int64)
    return (bits.reshape(len(v), n_words, word_bits) * weights).sum(axis=2)


def hamming_signatures(emb: DataFrame, dim: int = 64, n_bits: int = 48,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """(id, sig) rows — ONE packed ``n_bits``-bit sign signature per
    vector (bit p set iff the exact int-grid projection onto md5-parity
    hyperplane p is >= 0): :func:`hamming_signatures_wide` with a
    single word. Same deterministic planes and floor(x*2^20)
    quantization as :func:`signlsh_buckets`, packed into one BIGINT
    instead of banded buckets: the binary-sketch memory form — 6
    bytes/vector at 48 bits, so a 1B-vector corpus is a ~6 GB
    signature table that broadcasts where the float vectors (256 GB at
    dim-64 fp32) never could. Hamming distance between signatures is
    then one XOR + popcount per pair, both engine-native (Spark
    ``bit_count``/``^``, DuckDB ``bit_count(xor(..))``), which is what
    makes the whole route oracle-replayable end to end.

    ``n_bits`` is capped at 62 so ``1 << p`` stays positive in signed
    int64 across both engines. One Arrow matmul pass, no shuffle."""
    if not 1 <= n_bits <= 62:
        raise ValueError(f"hamming_signatures: n_bits {n_bits} not in [1, 62]")
    return (hamming_signatures_wide(emb, dim, n_bits, word_bits=n_bits,
                                    id_col=id_col, vec_col=vec_col)
            .select(id_col, F.col("sigs")[0].alias("sig")))


#: uint8 LUT, NOT int64: the gather's output dtype follows the LUT,
#: and an int64 gather over a B x n x 32 byte tensor materializes 8x
#: the bytes — measured 22 s vs 0.6 s for the 2000x2000x4-word scan.
_POPCNT8 = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None],
                         axis=1).sum(axis=1).astype(np.uint8)


def _hamming_topm(q_words: np.ndarray, q_ids: np.ndarray,
                  ids: np.ndarray, words: np.ndarray, m: int,
                  exclude_self: bool) -> Iterator[tuple]:
    """The one Hamming top-m selection: for each query row r, yields
    (r, positions into the corpus, hamming) of its ``m`` nearest corpus
    rows by (sum-of-word popcounts of the XOR, id). ``ids`` must be
    sorted ascending. Exact under ties: every row at or below the m-th
    distance survives the partition before the (hamming, id) lexsort.
    ``exclude_self`` drops corpus rows whose id equals the query's.
    The B x n x words XOR tensor is built in query blocks of ~64 MB."""
    n, w = words.shape
    blk = max(1, (64 << 20) // max(1, n * w * 8))
    for s0 in range(0, len(q_ids), blk):
        x = q_words[s0:s0 + blk, None, :] ^ words[None, :, :]
        ham = _POPCNT8[x.view(np.uint8).reshape(len(x), n, w * 8)].sum(
            axis=2, dtype=np.int32)
        for r in range(len(x)):
            h, pos = ham[r], np.arange(n)
            if exclude_self:
                keep = ids != q_ids[s0 + r]
                h, pos = h[keep], pos[keep]
            if len(h) > m:
                keep = h <= np.partition(h, m - 1)[m - 1]
                h, pos = h[keep], pos[keep]
            sel = np.lexsort((ids[pos], h))[:m]
            yield s0 + r, pos[sel], h[sel]


def hamming_signatures_wide(emb: DataFrame, dim: int = 64,
                            n_bits: int = 192, word_bits: int = 48,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """(id, sigs: array<long>) — ``n_bits`` sign bits packed into
    ceil(n_bits / word_bits) words by :func:`sign_words` (md5-parity
    planes p = 0..n_bits-1, word w = p // word_bits, bit p % word_bits
    — the layout the oracle SQL regenerates). Long codes are what
    near-random-NN corpora need: at true-NN cosine ~0.37 (this
    fixture) the per-bit flip probability is ~0.38 vs 0.5, so
    separation grows only with sqrt(bits) — 192 bits buys recall 0.93+
    where 48 bits sat at 0.2 (measured; see vec_hamming_recall). Still
    24 bytes/vector — a 10x memory cut against dim-64 fp32."""
    if not 1 <= word_bits <= 62:
        raise ValueError(f"hamming_signatures_wide: word_bits {word_bits}")
    bc = emb.sparkSession.sparkContext.broadcast(signlsh_planes(dim, n_bits))

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        planes = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                "sigs": list(sign_words(v, planes, word_bits)),
            })

    return emb.select(id_col, vec_col).mapInPandas(
        pack, f"{id_col} long, sigs array<long>")


def hamming_topk_scan(emb: DataFrame, n_bits: int = 192,
                      word_bits: int = 48, m: int = 64,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      queries: DataFrame | None = None,
                      exclude_self: bool = True
                      ) -> DataFrame | None:
    """FUSED under-budget Hamming top-m scan: ONE driver collect of
    the raw vectors (quantized + sign-packed + normalized on the
    driver), one broadcast, one mapInPandas pass that per query
    packs its code, popcount-scans the [n, words] matrix, keeps the
    exact-threshold (hamming, neighbor) top-m, and attaches the RAW
    float64 cosine of each shortlisted pair (same numpy row-dot as
    ``_cosine_residual`` — rounding stays Spark-side so the
    cross-engine rounding profile is untouched). Output:
    (id, neighbor_id, hamming, cos_raw), n x m rows.

    Why fused: the relational composition (signature pass ->
    shortlist pass -> two embedding fetch-joins -> pandas-UDF rerank)
    pays five Spark stages of overhead for work that is one C-level
    scan at this size — measured 15 s -> ~3 s at sf0.1. Returns None
    when the collected payload does not fit the driver budget
    (``budget.fits_driver``); callers fall back to the relational
    plan, which works at any n.

    ``queries`` (default: the corpus itself — the registered all-pairs
    face) restricts the SCAN side to a query batch: the serving shape,
    where per-query cost is linear in the corpus and the broadcast is
    paid once per corpus, not per batch. Query vectors must have the
    corpus dimension (a mismatch raises "dim mismatch").

    ``exclude_self`` (default True) drops any corpus row whose id
    EQUALS the query's id — correct when query ids live in the corpus
    id namespace and denote the same vector (the registered serve face
    draws its batch from the corpus). External callers whose query ids
    merely COLLIDE with corpus ids must pass ``exclude_self=False`` or
    a matching corpus vector is silently dropped from that query's
    candidates."""
    spark = emb.sparkSession
    n = emb.count()
    if n == 0:   # empty corpus: empty shortlist, stable schema
        return spark.createDataFrame(
            [], f"{id_col} long, neighbor_id long, hamming int, "
                f"cos_raw double")
    n_words = -(-n_bits // word_bits)
    # Budget what the driver ACTUALLY collects and broadcasts: the
    # packed signatures (8*n_words B/vec) PLUS the raw float64
    # vectors (8*dim), norms (8) and ids (8) — at dim=64 that is
    # 560 B/vec, not 32, so ~0.96M vectors in the 512 MiB budget.
    # Counting signatures alone would let the fused path OOM the
    # driver ~16x before the relational fallback engaged.
    dim = int(emb.select(F.size(vec_col).alias("_d")).first()["_d"])
    if not budget.fits_driver(n * (8 * n_words + 8 * dim + 16)):
        return None
    pdf = emb.select(id_col, vec_col).toPandas()
    order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
    ids_c = pdf[id_col].to_numpy()[order]
    v_raw = np.array(pdf[vec_col].tolist(), dtype=np.float64)[order]
    planes = signlsh_planes(v_raw.shape[1], n_bits)
    mat = sign_words(v_raw, planes, word_bits)
    norms = np.linalg.norm(v_raw, axis=1)
    bc = spark.sparkContext.broadcast(
        (ids_c, mat, v_raw, norms, planes))

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_cc, mat_c, v_c, norms_c, pl = bc.value
        for b in batches:
            if not len(b):
                continue
            q_ids = b[id_col].to_numpy()
            vq = np.array(b[vec_col].tolist(), dtype=np.float64)
            qmat = sign_words(vq, pl, word_bits)
            qnorm = np.linalg.norm(vq, axis=1)
            out_q, out_n, out_h, out_c = [], [], [], []
            for r, cand, h in _hamming_topm(qmat, q_ids, ids_cc, mat_c,
                                            m, exclude_self):
                # (A*x).sum(1), NOT gemv: keep the exact summation
                # shape _cosine_residual proved engine-parity for.
                num = (v_c[cand] * vq[r]).sum(axis=1)
                den = norms_c[cand] * qnorm[r]
                # -2.0 sentinel for zero-norm pairs, same as
                # _cosine_residual: both size-routed faces must
                # rank degenerate (all-zero) vectors LAST, below
                # any real cosine.
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = np.where(den > 0, num / den, -2.0)
                out_q.extend([q_ids[r]] * len(cand))
                out_n.extend(ids_cc[cand])
                out_h.extend(h)
                out_c.extend(cos)
            yield pd.DataFrame({
                id_col: np.array(out_q, dtype=np.int64),
                "neighbor_id": np.array(out_n, dtype=np.int64),
                "hamming": np.array(out_h, dtype=np.int32),
                "cos_raw": np.array(out_c, dtype=np.float64)})

    q_side = emb if queries is None else queries
    return q_side.select(id_col, vec_col).mapInPandas(
        scan, f"{id_col} long, neighbor_id long, hamming int, "
              f"cos_raw double")


def hamming_topk_shortlist_wide(sigs: DataFrame, m: int = 64,
                                id_col: str = "vec_id",
                                queries: DataFrame | None = None,
                                exclude_self: bool = True) -> DataFrame:
    """Per-query Hamming top-``m`` over an (id, sigs: array<long>)
    frame by (sum-of-word popcounts, neighbor_id): the
    :func:`_hamming_topm` selection against one broadcast [n, words]
    int64 matrix, ties cut exactly at the m-th distance. When the
    n x 8 x words signature broadcast does not fit the driver budget
    it falls back to the relational plan (words explode onto the join
    key and popcounts sum per pair).

    ``queries`` (default: ``sigs`` itself — the all-pairs face)
    restricts the PROBE side to a (id, sigs) batch in BOTH routes:
    fused kernel work shrinks to |batch| x n scans and the relational
    pair join's probe input shrinks to |batch| signatures (the corpus
    side of the join stays corpus-sized by definition). Same
    ``exclude_self`` contract as :func:`hamming_topk_scan`: query ids
    must be corpus ids denoting the same vectors, else pass False."""
    spark = sigs.sparkSession
    sigs = sigs.localCheckpoint(eager=True)
    n = sigs.count()
    if n == 0:   # empty corpus: stable empty schema (the kernel's
        # np.array([]) would be 1-D and crash on .shape unpacking)
        return spark.createDataFrame(
            [], f"{id_col} long, neighbor_id long, hamming int")
    first = sigs.select("sigs").first()
    n_words = len(first["sigs"]) if first else 1
    q_side = sigs if queries is None else queries
    if not budget.fits_driver(n * 8 * n_words):
        ex = q_side.select(id_col,
                           F.posexplode("sigs").alias("w", "_sa"))
        nb = sigs.select(F.col(id_col).alias("neighbor_id"),
                         F.posexplode("sigs").alias("w", "_sb"))
        pair = ex.join(nb, ["w"])
        if exclude_self:
            pair = pair.filter(F.col(id_col) != F.col("neighbor_id"))
        pair = (pair.groupBy(id_col, "neighbor_id")
                .agg(F.sum(F.bit_count(F.col("_sa")
                                       .bitwiseXOR(F.col("_sb"))))
                     .cast("int").alias("hamming")))
        w_win = Window.partitionBy(id_col).orderBy(
            F.col("hamming").asc(), F.col("neighbor_id").asc())
        return (pair.withColumn("_rn", F.row_number().over(w_win))
                .filter(F.col("_rn") <= m)
                .select(id_col, "neighbor_id", "hamming"))

    pdf = sigs.toPandas()
    order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
    ids_sorted = pdf[id_col].to_numpy()[order]
    mat = np.array(pdf["sigs"].tolist(), dtype=np.int64)[order]
    bc = spark.sparkContext.broadcast((ids_sorted, mat))

    def shortlist(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_c, mat_c = bc.value
        for b in batches:
            if not len(b):
                continue
            q_ids = b[id_col].to_numpy()
            q_mat = np.array(b["sigs"].tolist(), dtype=np.int64)
            out_q, out_n, out_h = [], [], []
            for r, pos, h in _hamming_topm(q_mat, q_ids, ids_c, mat_c,
                                           m, exclude_self):
                out_q.extend([q_ids[r]] * len(pos))
                out_n.extend(ids_c[pos])
                out_h.extend(h)
            yield pd.DataFrame({
                id_col: np.array(out_q, dtype=np.int64),
                "neighbor_id": np.array(out_n, dtype=np.int64),
                "hamming": np.array(out_h, dtype=np.int32)})

    return q_side.select(id_col, "sigs").mapInPandas(
        shortlist, f"{id_col} long, neighbor_id long, hamming int")


def chunk_rows(codes: DataFrame, n_chunks: int, chunk_bits: int,
               code_col: str = "code",
               keep: Sequence[str] = ()) -> DataFrame:
    """The one MIH chunk index builder: (*keep, c, chunk_val) rows, one
    per chunk c in 0..n_chunks-1 of each row's integer code, with
    chunk_val = (code >> chunk_bits * c) & (2^chunk_bits - 1) — the
    inverted-index key of every multi-index Hamming plan and of
    SimHash banding. ``keep`` names the columns carried through (ids,
    alignment keys, the code itself)."""
    mask = (1 << chunk_bits) - 1
    return (codes.select(*keep, F.explode(F.array(*[
        F.struct(F.lit(c).alias("c"),
                 F.shiftright(code_col, chunk_bits * c)
                 .bitwiseAND(F.lit(mask)).alias("chunk_val"))
        for c in range(n_chunks)])).alias("ch"))
        .select(*keep, "ch.c", "ch.chunk_val"))


def _mih_candidates(idx: DataFrame, id_col: str,
                    probe_ids: DataFrame | None,
                    align: Sequence[str] = ()) -> DataFrame:
    """Distinct (id_a, id_b, *align) candidate pairs of an
    (id, *align, c, chunk_val) chunk index — pairs sharing a chunk
    value at the same chunk (and alignment keys). Without ``probe_ids``
    the self-join keeps id_a < id_b; with it, the batch ids it lists
    probe the rest of the index only (id_a = batch id, id_b = corpus
    id), so corpus-corpus pairs never form."""
    join_keys = [*align, "c", "chunk_val"]
    if probe_ids is None:
        probe = idx.select(F.col(id_col).alias("id_b"), *join_keys)
        pairs = (idx.join(probe, join_keys)
                 .filter(F.col(id_col) < F.col("id_b")))
    else:
        batch_ids = F.broadcast(probe_ids.select(id_col))
        corpus = (idx.join(batch_ids, id_col, "left_anti")
                  .select(F.col(id_col).alias("id_b"), *join_keys))
        pairs = idx.join(batch_ids, id_col).join(corpus, join_keys)
    return (pairs.select(F.col(id_col).alias("id_a"), "id_b", *align)
            .distinct())


def mih_radius_pairs_codes(codes: DataFrame, n_chunks: int,
                           chunk_bits: int, radius: int,
                           id_col: str = "doc_id",
                           code_col: str = "code",
                           probe_ids: DataFrame | None = None,
                           align_cols: Sequence[str] = ()
                           ) -> DataFrame:
    """Multi-index Hamming radius search over PRE-COMPUTED integer
    codes (an (id, code int64) frame — perceptual image hashes,
    simhashes, sign signatures, any <= 62-bit binary sketch): the code
    splits into ``n_chunks`` exact-match ``chunk_bits``-bit chunks; by
    pigeonhole a pair within Hamming ``radius <= n_chunks - 1`` cannot
    differ in every chunk, so the (chunk_idx, chunk_value)
    inverted-index join is a PROVABLY COMPLETE candidate generator —
    the popcount filter then returns exactly the radius pair set.
    Output: (id_a, id_b, hamming) with id_a < id_b, EXACT (what makes
    the callers oracle-expressible by a brute self-join).

    ``probe_ids`` (one column ``id_col``) restricts the PROBE side to
    a batch — the incremental-ingest shape: batch chunks probe only
    the corpus index, corpus-corpus pairs never form, output becomes
    (id_a=batch id, id_b=corpus id) with no ordering constraint
    between them.

    ``align_cols`` names extra key columns that candidates MUST share
    (the frame-aligned video-dedup shape: codes are per
    (video, frame_idx), only same-frame_idx pairs compare). An
    (id, *align) pair must identify exactly one code row; the chunk
    join and both code fetches key on the alignment columns, which
    then lead the output: (*align_cols, id_a, id_b, hamming).

    Scale shape: the only wide shuffle is the chunk-equality join
    (cost tracks bucket collisions, never corpus^2); the code fetch
    for the exact filter is two key joins. Chunk width should track
    ~log2(n / target_bucket) exactly like ``mih_adaptive_dial``."""
    if radius > n_chunks - 1:
        raise ValueError(
            f"mih_radius_pairs_codes: radius {radius} needs >= "
            f"{radius + 1} chunks for pigeonhole completeness "
            f"(got {n_chunks})")
    if n_chunks * chunk_bits > 62:
        raise ValueError("codes wider than 62 bits need the "
                         "array-of-words plan (hamming_signatures_wide)")
    align = list(align_cols)
    idx = chunk_rows(codes, n_chunks, chunk_bits, code_col,
                     keep=[id_col, *align])
    cand = _mih_candidates(idx, id_col, probe_ids, align)
    ca = codes.select(F.col(id_col).alias("id_a"), *align,
                      F.col(code_col).alias("_ca"))
    cb = codes.select(F.col(id_col).alias("id_b"), *align,
                      F.col(code_col).alias("_cb"))
    return (cand.join(ca, ["id_a", *align]).join(cb, ["id_b", *align])
            .withColumn("hamming",
                        F.bit_count(F.col("_ca").bitwiseXOR(F.col("_cb")))
                        .cast("int"))
            .filter(F.col("hamming") <= radius)
            .select(*align, "id_a", "id_b", "hamming"))


def mih_radius_pairs_codes_wide(codes: DataFrame, radius: int,
                                id_col: str = "doc_id",
                                words_col: str = "words",
                                probe_ids: DataFrame | None = None
                                ) -> DataFrame:
    """:func:`mih_radius_pairs_codes` for codes WIDER than one int64 —
    an (id, words array<long>) frame where EACH WORD IS ITS OWN
    EXACT-MATCH CHUNK (the production dial: code width grows with the
    corpus so chunk keyspaces stay selective — a fixed-width code's
    chunks saturate; see mih_adaptive_dial). Pigeonhole needs
    radius <= len(words) - 1 (validated against the first row). The
    inverted index is a posexplode, the exact distance a zip_with
    popcount sum. Output/semantics identical to the narrow form:
    (id_a, id_b, hamming) exact radius pairs; ``probe_ids`` restricts
    the probe side to a batch (incremental-ingest shape)."""
    first = codes.select(words_col).first()
    n_words = len(first[words_col]) if first else radius + 1
    if radius > n_words - 1:
        raise ValueError(
            f"mih_radius_pairs_codes_wide: radius {radius} needs >= "
            f"{radius + 1} word-chunks for pigeonhole completeness "
            f"(got {n_words})")
    idx = codes.select(id_col,
                       F.posexplode(words_col).alias("c", "chunk_val"))
    cand = _mih_candidates(idx, id_col, probe_ids)
    ca = codes.select(F.col(id_col).alias("id_a"),
                      F.col(words_col).alias("_wa"))
    cb = codes.select(F.col(id_col).alias("id_b"),
                      F.col(words_col).alias("_wb"))
    ham = F.aggregate(
        F.zip_with("_wa", "_wb",
                   lambda a, b: F.bit_count(a.bitwiseXOR(b))),
        F.lit(0), lambda acc, x: acc + x)
    return (cand.join(ca, "id_a").join(cb, "id_b")
            .withColumn("hamming", ham.cast("int"))
            .filter(F.col("hamming") <= radius)
            .select("id_a", "id_b", "hamming"))


def signlsh_buckets(emb: DataFrame, dim: int,
                    bits_per_band: int | None = None,
                    n_bands: int = 12, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """(id, band, bucket) rows — one integer bucket per band per vector:
    band b's bucket is :func:`sign_words` word b at word width
    ``bits_per_band``. One Arrow-batched int64 matmul per batch against
    the broadcast plane matrix; no shuffle, cost n x planes x dim
    integer MACs.

    ``bits_per_band=None`` (the default) sizes the band keyspace to the
    corpus via :func:`signlsh_adaptive_bits` — callers using fixture
    dials can no longer silently carry them into a corpus where the
    keyspace saturates. Auto mode runs ONE count aggregate at
    construction (the only way to know n before building the plane
    matrix); pass an explicit dial for a fully-lazy plan and for
    cross-engine oracle parity (the registered queries pin bits so the
    DuckDB oracle regenerates identical planes)."""
    if bits_per_band is None:
        bits_per_band = signlsh_adaptive_bits(emb.count())
    bc = emb.sparkSession.sparkContext.broadcast(
        signlsh_planes(dim, bits_per_band * n_bands))

    def bucketize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        planes = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            buckets = sign_words(v, planes, bits_per_band)  # [n, bands]
            yield pd.DataFrame({
                id_col: np.repeat(pdf[id_col].to_numpy(), n_bands),
                "band": np.tile(np.arange(n_bands, dtype=np.int32),
                                len(pdf)),
                "bucket": buckets.reshape(-1),
            })

    return emb.select(id_col, vec_col).mapInPandas(
        bucketize, f"{id_col} long, band int, bucket long")


def signlsh_pairs(emb: DataFrame, threshold: float = 0.45, dim: int = 64,
                  bits_per_band: int | None = None, n_bands: int = 12,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  max_bucket_freq: int | None = None) -> DataFrame:
    """Embedding near-dup pairs (cosine >= threshold) with sign-LSH
    candidate generation: same-(band, bucket) equality self-join (the
    only shuffle), distinct candidate pairs, then an exact float64
    cosine residual filter on just those pairs. ``max_bucket_freq``
    is the standard hot-bucket skew guard (drop buckets collecting
    more than that many vectors before the join — same posture as the
    hot-shingle guards above).

    ``bits_per_band=None`` (default) adapts the band keyspace to
    log2(corpus) — see :func:`signlsh_adaptive_bits`; explicit dials
    remain for oracle-pinned fixture queries.

    Output: id_a < id_b, cos_sim rounded to 6 dp."""
    buckets = signlsh_buckets(emb, dim, bits_per_band, n_bands,
                              id_col, vec_col)
    if max_bucket_freq is not None:
        hot = (buckets.groupBy("band", "bucket")
               .agg(F.count(F.lit(1)).alias("_bf"))
               .filter(F.col("_bf") > max_bucket_freq)
               .select("band", "bucket"))
        buckets = buckets.join(F.broadcast(hot), ["band", "bucket"],
                               "left_anti")
    a = buckets.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = buckets.select(F.col(id_col).alias("id_b"), "band", "bucket")
    cand = (a.join(b, ["band", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    return _cosine_residual(cand, emb, emb, threshold, "id_a", "id_b",
                            id_col, vec_col)


def _raw_id_matrix(df: DataFrame, id_col: str, vec_col: str):
    """(sorted ids, row-aligned RAW float64 matrix) of an embedding
    frame — unlike knn._collect_matrix the rows are NOT normalized
    (the cosine kernel computes the same norms the pairwise UDF did).
    float32 → float64 is exact, so gathered rows carry bit-identical
    values to the join-shipped arrays. Requires unique ids (true for
    every corpus/batch frame the residual step sees)."""
    pdf = df.select(F.col(id_col).alias("_id"),
                    F.col(vec_col).alias("_v")).toPandas()
    ids = pdf["_id"].to_numpy().astype("int64")
    mat = (np.array(pdf["_v"].tolist(), dtype=np.float64)
           if len(pdf) else np.empty((0, 0), dtype=np.float64))
    order = np.argsort(ids, kind="stable")
    return ids[order], mat[order] if len(pdf) else mat


def _cosine_residual(cand: DataFrame, emb_a: DataFrame, emb_b: DataFrame,
                     threshold: float, a_out: str, b_out: str,
                     id_col: str, vec_col: str,
                     est_cells: int | None = None) -> DataFrame:
    """Attach the exact cosine to candidate id pairs and apply the
    threshold — the shared residual step of every LSH candidate path
    (cost: |cand| vector fetch-joins, never corpus x corpus). The UDF
    is defined here (not module level) because pandas_udf resolves its
    return type against the ACTIVE session at decoration time.

    ``est_cells`` (r12, guide §8 — ship ids, not payloads): a caller's
    no-job estimate of the larger embedding frame's rows × dims. When
    given and its float64 matrix fits the driver budget, the two
    vector fetch-joins (which shipped ~0.5 KB of array payload per
    CANDIDATE PAIR through the join and the Arrow boundary — 1.6 GB at
    3M pairs) are replaced by a broadcast of the raw matrices and an
    id-pair-only mapInPandas that gathers rows by searchsorted. The
    numpy score expressions are unchanged and float64(float32) is
    exact, so scores are bit-identical to the join path (oracle-PASS
    re-checked on every caller); ids absent from a matrix drop,
    matching the inner joins. Past the budget (or with est_cells=None)
    the join path runs — the 100 TB shape.

    Only callers whose candidate set is DATA-PROPORTIONAL (all LSH/IVF
    bucket-collision pairs: vec_ann_lsh 5.28→4.66 s,
    dedup_semantic_ivf_det 13.4→11.5 s measured sf0.1) pass est_cells;
    the shortlist-bounded det rerankers (vec_ann_pq_det & co., |cand|
    ≤ queries × shortlist) measured WORSE on this route (16.1→19.7 s —
    the collect+broadcast overhead with nothing to save, plus the
    mapInPandas losing the join's vec_id partitioning for the next
    window), so they stay on the join path."""

    def _cos_rows(x: "np.ndarray", y: "np.ndarray") -> "np.ndarray":
        num = (x * y).sum(axis=1)
        den = np.linalg.norm(x, axis=1) * np.linalg.norm(y, axis=1)
        # Zero-norm pairs score the -2.0 sentinel (below any real
        # cosine): under a keep-all threshold (<= -1.0, which disables
        # the filter below) they are RETAINED but sort LAST
        # deterministically — matching the fused Hamming kernel; under
        # any real threshold in (-1.0, 1.0] they are dropped just as
        # an undefined cosine should be.
        with np.errstate(divide="ignore", invalid="ignore"):
            return np.where(den > 0, num / den, -2.0)

    if est_cells is not None and budget.fits_driver(est_cells * 8):
        spark = cand.sparkSession
        ids_a, mat_a = _raw_id_matrix(emb_a, id_col, vec_col)
        if emb_b is emb_a:
            ids_b, mat_b = ids_a, mat_a
        else:
            ids_b, mat_b = _raw_id_matrix(emb_b, id_col, vec_col)
        bc = spark.sparkContext.broadcast((ids_a, mat_a, ids_b, mat_b))

        def _score_pairs(batches):
            bia, bma, bib, bmb = bc.value
            for pdf in batches:
                a = pdf[a_out].to_numpy()
                b = pdf[b_out].to_numpy()
                if not len(bia) or not len(bib) or not len(a):
                    continue
                ai = np.searchsorted(bia, a).clip(0, len(bia) - 1)
                bi = np.searchsorted(bib, b).clip(0, len(bib) - 1)
                ok = (bia[ai] == a) & (bib[bi] == b)
                out = _cos_rows(bma[ai[ok]], bmb[bi[ok]])
                yield pd.DataFrame({a_out: a[ok], b_out: b[ok],
                                    "_c": out})

        scored = (cand.select(F.col(a_out).cast("long"),
                              F.col(b_out).cast("long"))
                  .mapInPandas(_score_pairs,
                               f"{a_out} long, {b_out} long, _c double"))
    else:
        @F.pandas_udf("double")
        def _cos_batch(va: pd.Series, vb: pd.Series) -> pd.Series:
            if not len(va):
                return pd.Series([], dtype="float64")
            x = np.array(va.tolist(), dtype=np.float64)
            y = np.array(vb.tolist(), dtype=np.float64)
            return pd.Series(_cos_rows(x, y))

        ea = emb_a.select(F.col(id_col).alias(a_out),
                          F.col(vec_col).alias("_va"))
        eb = emb_b.select(F.col(id_col).alias(b_out),
                          F.col(vec_col).alias("_vb"))
        scored = (cand.join(ea, a_out).join(eb, b_out)
                  .withColumn("_c", _cos_batch("_va", "_vb")))
    # threshold <= -1.0 means "keep all" (every caller that reranks a
    # fixed candidate set passes -1.0): skip the filter so zero-norm
    # sentinel rows (-2.0) survive and rank last instead of vanishing
    # from the candidate's top-k entirely.
    if threshold > -1.0:
        scored = scored.filter(F.col("_c") >= threshold)
    return scored.select(a_out, b_out, F.round("_c", 6).alias("cos_sim"))


def signlsh_pairs_between(new: DataFrame, corpus: DataFrame,
                          threshold: float = 0.45, dim: int = 64,
                          bits_per_band: int | None = None,
                          n_bands: int = 12,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Incremental semantic ingest: each NEW vector's band buckets
    probe ONLY the corpus band index (new x corpus bucket join —
    new-new and corpus-corpus pairs never form), then the exact-cosine
    residual runs on the collisions. Steady-state cost tracks the
    batch; the corpus index is write-once/append-per-batch. Output:
    (new_id, corpus_id, cos_sim >= threshold).

    ``bits_per_band=None`` adapts the keyspace to the CORPUS size
    (both sides must hash with identical planes, and the corpus is
    the side whose buckets saturate)."""
    if bits_per_band is None:
        bits_per_band = signlsh_adaptive_bits(corpus.count())
    bn = (signlsh_buckets(new, dim, bits_per_band, n_bands,
                          id_col, vec_col)
          .select(F.col(id_col).alias("new_id"), "band", "bucket"))
    bc = (signlsh_buckets(corpus, dim, bits_per_band, n_bands,
                          id_col, vec_col)
          .select(F.col(id_col).alias("corpus_id"), "band", "bucket"))
    cand = (bn.join(bc, ["band", "bucket"])
            .select("new_id", "corpus_id").distinct())
    return _cosine_residual(cand, new, corpus, threshold,
                            "new_id", "corpus_id", id_col, vec_col)


def semantic_pairs_ivf(emb: DataFrame, threshold: float = 0.45,
                       n_clusters: int | None = None, n_assign: int = 3,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       max_bucket_rows: int | None = None,
                       chunk_cells: int = 32_000_000) -> DataFrame:
    """Embedding near-dup pairs via IVF cell bucketing — the scale path
    for LOW-threshold semantic dedup where sign-LSH selectivity decays
    (per-plane collision for cosine 0.45 is ~0.65, so low-threshold
    banding either misses pairs or admits near-all-pairs; clustering
    concentrates true neighbors into the same coarse cell instead).

    Shape: deterministic k-means coarse quantizer (bounded driver
    sample), each vector multi-assigned to its ``n_assign`` nearest
    cells (boundary pairs meet in a shared second cell), one shuffle on
    the cell key, then an exact chunked float64 matmul WITHIN each cell
    (upper-triangle, >= threshold). Work is sum(|cell|²), never n²;
    memory per task is bounded by ``chunk_cells``. ``max_bucket_rows``
    drops degenerate mega-cells (same posture as every hot-key guard in
    this module — recall impact is measured, not silent: see
    dedup_semantic_recall). Rows-only by design: the quantizer is
    engine-private, so recall vs the exact pair set is the registered
    check.

    EAGERNESS: ``n_clusters=None`` (the default) sizes cells from a
    ``count()`` — one Spark job at CALL time, before the returned
    DataFrame is acted on (and ``train_centroids`` always runs its
    bounded sample collect eagerly). Callers that need a fully lazy
    build pass ``n_clusters`` explicitly and accept the quantizer
    collect on first action."""
    from .ivf import bounded_sample_matrix, ivf_assign, train_centroids
    from .knn import unit_rows

    n = None
    if n_clusters is None:
        # ~64 vectors per cell, floor 2, modest cap: measured 1.0
        # recall at both committed fixtures (7/7 at 50 rows with 2
        # cells, 14/14 at 500 rows with 7 cells). Callers at real
        # corpus scale pass n_clusters explicitly (~sqrt(n), the
        # usual IVF sizing) — the cap only governs the default.
        n = emb.count()
        n_clusters = max(2, min(256, n // 64))
    n_assign = min(n_assign, n_clusters)
    # Fused sample: the sizing count above (when taken) is reused, so
    # the quantizer costs one bounded collect instead of count+collect.
    _mat = bounded_sample_matrix(emb, 100_000, id_col=id_col,
                                 vec_col=vec_col, n_rows=n)
    cent = train_centroids(emb, n_clusters=n_clusters,
                           id_col=id_col, vec_col=vec_col,
                           sample_mat=_mat)
    assigned = ivf_assign(emb, cent, n_assign=n_assign,
                          id_col=id_col, vec_col=vec_col)
    if max_bucket_rows is not None:
        hot = (assigned.groupBy("bucket")
               .agg(F.count(F.lit(1)).alias("_bf"))
               .filter(F.col("_bf") > max_bucket_rows)
               .select("bucket"))
        assigned = assigned.join(F.broadcast(hot), "bucket", "left_anti")

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        keep, vn = unit_rows(
            np.array(pdf[vec_col].tolist(), dtype=np.float64)[order])
        ids = pdf[id_col].to_numpy()[order][keep]
        n = len(ids)
        if n < 2:
            return pd.DataFrame({"id_a": pd.Series([], dtype="int64"),
                                 "id_b": pd.Series([], dtype="int64"),
                                 "cos_sim": pd.Series([], dtype="float64")})
        chunk = max(1, chunk_cells // max(n, 1))
        outs_a, outs_b, outs_c = [], [], []
        for lo in range(0, n, chunk):
            hi = min(lo + chunk, n)
            sims = vn[lo:hi] @ vn.T                     # [hi-lo, n]
            rows, cols = np.nonzero(sims >= threshold)
            keep = (rows + lo) < cols                   # strict upper tri
            rows, cols = rows[keep], cols[keep]
            outs_a.append(ids[rows + lo])
            outs_b.append(ids[cols])
            outs_c.append(sims[rows, cols])
        return pd.DataFrame({"id_a": np.concatenate(outs_a),
                             "id_b": np.concatenate(outs_b),
                             "cos_sim": np.concatenate(outs_c)})

    pairs = assigned.groupBy("bucket").applyInPandas(
        cell_pairs, "id_a long, id_b long, cos_sim double")
    # Multi-assignment finds the same pair in every shared cell; the
    # kernel is deterministic, so (id_a, id_b, round6) dedups exactly.
    return (pairs.select("id_a", "id_b",
                         F.round("cos_sim", 6).alias("cos_sim"))
            .distinct())
