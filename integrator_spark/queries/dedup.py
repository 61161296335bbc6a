"""Deduplication operators (SURVEY.md §2.10): exact, n-gram Jaccard,
MinHash-LSH, SimHash, embedding-cosine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.dedup import (
    _cosine_residual,
    exact_dedup_keep_first,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from ..operators.knn import cosine_pairs_exact
from ..registry import register


@register("dedup_exact", oracle="""
SELECT md5(text) AS content_md5,
       CAST(MIN(doc_id) AS BIGINT) AS canonical_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
""", tags=("dedup",))
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: hash-groupBy on md5(text), keep the lowest
    doc_id as canonical (sf0.1 contains genuine duplicate texts)."""
    d = load_table(spark, sf_dir, "documents")
    return (d.groupBy(F.md5("text").alias("content_md5"))
            .agg(F.min("doc_id").alias("canonical_id"),
                 F.count(F.lit(1)).alias("n_copies")))


@register("dedup_exact_rows", oracle="""
SELECT doc_id, lang, source
FROM documents
QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
""", tags=("dedup",))
def dedup_exact_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The row-level variant: the surviving (first-by-id) row per
    distinct content — a distributed DISTINCT ON."""
    d = load_table(spark, sf_dir, "documents")
    kept = exact_dedup_keep_first(d.withColumn("_h", F.md5("text")),
                                  key_cols=["_h"], order_cols=["doc_id"])
    return kept.select("doc_id", "lang", "source")


_NGRAM_ORACLE = """
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT DISTINCT doc_id,
              w[i] || '|' || w[i+1] || '|' || w[i+2] AS shingle
       FROM words, unnest(range(1, len(w) - 1)) t(i)),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT d1, d2,
       ROUND(n_inter * 1.0 / (ca.n + cb.n - n_inter), 6) AS jaccard,
       n_inter,
       ca.n AS n_a,
       cb.n AS n_b
FROM pairs
JOIN cnt ca ON ca.doc_id = d1
JOIN cnt cb ON cb.doc_id = d2
WHERE n_inter * 1.0 / (ca.n + cb.n - n_inter) >= 0.8
"""


@register("dedup_ngram", oracle=_NGRAM_ORACLE, tags=("dedup", "neardup"))
def dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.8) — candidate
    generation by shingle-equality join, never all-pairs. The fixture
    corpus contains planted ~0.98-Jaccard near-duplicates."""
    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, k=3, threshold=0.8)


# SURVEY §2.10 names the near-dup row's query id `dedup_near`; register
# the literal id as an alias of the n-gram Jaccard implementation so the
# coverage contract holds by name, not just via COVERAGE.md mapping.
register("dedup_near", oracle=_NGRAM_ORACLE,
         tags=("dedup", "neardup", "alias"))(dedup_ngram)


@register("dedup_ngram_guarded", oracle="""
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT DISTINCT doc_id,
              w[i] || '|' || w[i+1] || '|' || w[i+2] AS shingle
       FROM words, unnest(range(1, len(w) - 1)) t(i)),
cold AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 25),
shf AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN cold USING (shingle)),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_inter
          FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT d1, d2,
       ROUND(n_inter * 1.0 / (ca.n + cb.n - n_inter), 6) AS jaccard,
       n_inter,
       ca.n AS n_a,
       cb.n AS n_b
FROM pairs
JOIN cnt ca ON ca.doc_id = d1
JOIN cnt cb ON cb.doc_id = d2
WHERE n_inter * 1.0 / (ca.n + cb.n - n_inter) >= 0.8
""", tags=("dedup", "neardup", "skew"))
def dedup_ngram_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_ngram with the hot-shingle skew guard engaged (document
    frequency cutoff 25): stop-phrase shingles are dropped before the
    candidate join, bounding per-key fan-out at corpus scale — the form
    you'd actually run on 100 TB of crawl text. The oracle applies the
    identical DF cutoff, so this is exact over the filtered sets."""
    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, k=3, threshold=0.8, max_doc_freq=25)


# DuckDB recomputes the 64-bit SimHash sketch from scratch — md5 word
# hashes (first 8 bytes big-endian, exactly int.from_bytes(digest[:8],
# "big")), ±1 votes per bit, strict-majority packing — then reproduces
# the 4x16-bit band self-join and exact Hamming filter. Fully
# independent of the Spark kernel: a vote-count, packing, banding, or
# bit_count bug on either side breaks the hash match. {GUARD} is the
# optional hot-band cutoff; string_split(' ') matches Python
# str.split(" ") (empties kept, '' -> ['']).
_SIMHASH_ORACLE_TMPL = """
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
votes AS (
  SELECT w.doc_id, s.bit,
         SUM(CASE WHEN (CAST('0x' || substr(md5(w.word), 1, 16) AS UBIGINT)
                        >> s.bit) & 1 = 1
                  THEN 1 ELSE -1 END) AS acc
  FROM words w
  CROSS JOIN (SELECT unnest(range(0, 64)) AS bit) s
  GROUP BY 1, 2
),
sk AS (
  SELECT doc_id,
         COALESCE(bit_or(CASE WHEN acc > 0
                              THEN CAST(1 AS UBIGINT) << bit END),
                  CAST(0 AS UBIGINT)) AS h
  FROM votes GROUP BY doc_id
),
bands AS (
  SELECT doc_id, h, b.band, (h >> (16 * b.band)) & 65535 AS val
  FROM sk CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b
),
kept AS (
  SELECT doc_id, h, band, val FROM (
    SELECT doc_id, h, band, val,
           COUNT(*) OVER (PARTITION BY band, val) AS _df
    FROM bands)
  {GUARD}
),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.h AS h1, b.h AS h2
  FROM kept a JOIN kept b
    ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT d1, d2, CAST(bit_count(xor(h1, h2)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(h1, h2)) <= 6
ORDER BY d1, d2
"""


@register("dedup_simhash_guarded",
          oracle=_SIMHASH_ORACLE_TMPL.replace("{GUARD}", "WHERE _df <= 50"),
          tags=("dedup", "neardup", "approx", "skew"))
def dedup_simhash_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_simhash with the hot-band guard (bucket cutoff 50):
    (band, value) buckets holding more than 50 docs are excluded from
    candidate generation, bounding the banded self-join against
    boilerplate-collapsed corpora. Oracle-backed: the sketch is
    deterministic (md5 word hashes), so DuckDB independently recomputes
    sketches, applies the identical bucket cutoff, and reproduces the
    exact pair set + Hamming distances."""
    d = load_table(spark, sf_dir, "documents")
    return (simhash_pairs(d, max_hamming=6, max_band_freq=50)
            .orderBy("d1", "d2"))


@register("dedup_minhash", oracle=None, tags=("dedup", "neardup", "approx"))
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates (spark.ml, seeded). Rows-only:
    banded-LSH recall is probabilistic, so there is no exact SQL
    equivalent — the exact dedup_ngram covers correctness; this covers
    the sub-quadratic scale path."""
    d = load_table(spark, sf_dir, "documents")
    return (minhash_lsh_pairs(d, k=3, jaccard_dist=0.5)
            .orderBy("d1", "d2"))


@register("dedup_containment", oracle="""
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT DISTINCT doc_id,
              w[i] || '|' || w[i+1] || '|' || w[i+2] AS shingle
       FROM words, unnest(range(1, len(w) - 1)) t(i)),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_inter
          FROM sh a JOIN sh b
            ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
          GROUP BY 1, 2)
SELECT d1, d2,
       ROUND(n_inter * 1.0 / ca.n, 6) AS containment,
       n_inter,
       ca.n AS n_src
FROM pairs JOIN cnt ca ON ca.doc_id = d1
WHERE n_inter * 1.0 / ca.n >= 0.9
""", tags=("dedup", "neardup", "containment"))
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment dedup (C(d1→d2) ≥ 0.9): the asymmetric
    screen that catches a document EMBEDDED in a longer one — quotes,
    mirrors, boilerplate-wrapped reposts — where Jaccard (and MinHash,
    which estimates Jaccard) stays near |A|/|B| ≈ 0 and never fires.
    Exact over 3-gram shingle sets via the same collide-only
    shingle-equality join as dedup_ngram; each direction is reported
    separately because containment is not symmetric (the short doc is
    the duplicate; the long host usually is not)."""
    from ..operators.dedup import containment_pairs
    d = load_table(spark, sf_dir, "documents")
    return containment_pairs(d, k=3, threshold=0.9)


# DuckDB recomputes the deterministic MinHash end-to-end: 3-gram
# shingles, md5[:8]-hex base hash mod 2^31-1, the 16 affine
# permutations (a_i = 1000003 + 7919 i, b_i = 12345 + 104729 i), per-doc
# MIN signatures, 4x4 banding (string_agg ORDER BY i == Spark's
# concat_ws over consecutive components), full-band candidate join, and
# the per-pair equal-component count. All arithmetic stays under 2.4e15
# — exact BIGINT on both engines. A hash, min, banding, or counting bug
# on either side breaks the value-hash match. {GUARD} is the optional
# hot-bucket cutoff.
#: The signature/band/candidate CTE chain of the deterministic MinHash
#: oracle, shared with the cross-modal curation oracle
#: (queries/multimodal2.py) — ends at ``cand (d1, d2)`` with the
#: per-doc component table ``mh (doc_id, i, mh)`` still in scope.
_MINHASH_DET_CTE_TMPL = """
words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT DISTINCT doc_id,
              w[i] || '|' || w[i+1] || '|' || w[i+2] AS shingle
       FROM words, unnest(range(1, len(w) - 1)) t(i)),
hv AS (SELECT doc_id,
              CAST(CAST('0x' || substr(md5(shingle), 1, 8) AS UBIGINT)
                   % 2147483647 AS BIGINT) AS h
       FROM sh),
mh AS (SELECT doc_id, i,
              MIN(((1000003 + 7919 * i) * h + (12345 + 104729 * i))
                  % 2147483647) AS mh
       FROM hv CROSS JOIN (SELECT unnest(range(0, 16)) AS i)
       GROUP BY 1, 2),
bands AS (SELECT doc_id, i // 4 AS band,
                 string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS val
          FROM mh GROUP BY doc_id, i // 4),
kept AS (
  SELECT doc_id, band, val FROM (
    SELECT doc_id, band, val,
           COUNT(*) OVER (PARTITION BY band, val) AS _df
    FROM bands)
  {GUARD}
),
cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         FROM kept a JOIN kept b
           ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id)
"""

_MINHASH_DET_ORACLE_TMPL = "WITH " + _MINHASH_DET_CTE_TMPL + """
SELECT c.d1, c.d2,
       CAST(SUM(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS BIGINT)
         AS n_equal,
       ROUND(SUM(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) / 16.0, 6)
         AS est_jaccard
FROM cand c
JOIN mh x ON x.doc_id = c.d1
JOIN mh y ON y.doc_id = c.d2 AND y.i = x.i
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("dedup_minhash_det",
          oracle=_MINHASH_DET_ORACLE_TMPL.replace("{GUARD}", ""),
          tags=("dedup", "neardup", "approx"))
def dedup_minhash_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH with a DETERMINISTIC, engine-independent
    hash family — graduates the MinHash dedup family to oracle-backed
    (spark.ml's MinHashLSH in dedup_minhash uses a private seeded
    family no other engine can replay; this one is md5 + affine maps
    mod 2^31-1, recomputed from raw text by DuckDB). Signature build is
    ONE map-side-combinable groupBy (16 mins at once — the shuffle
    carries 16 longs per doc, not per shingle); candidates come from
    the 4x4 banded self-join, never all-pairs. Output includes the
    standard n_equal/16 Jaccard estimate per candidate pair."""
    from ..operators.dedup import minhash_det_pairs
    d = load_table(spark, sf_dir, "documents")
    return (minhash_det_pairs(d, k=3, n_hashes=16, n_bands=4)
            .orderBy("d1", "d2"))


@register("dedup_minhash_det_guarded",
          oracle=_MINHASH_DET_ORACLE_TMPL.replace("{GUARD}",
                                                  "WHERE _df <= 50"),
          tags=("dedup", "neardup", "approx", "skew"))
def dedup_minhash_det_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_minhash_det with the hot-bucket guard (band-value cutoff
    50) — same skew posture as dedup_simhash_guarded: a (band, value)
    bucket holding more than 50 docs (boilerplate-collapsed corpora
    where thousands of docs share a signature band) is excluded before
    the candidate join, bounding fan-out to cutoff² per bucket. The
    oracle applies the identical cutoff, so the pair set is exact over
    the guarded buckets."""
    from ..operators.dedup import minhash_det_pairs
    d = load_table(spark, sf_dir, "documents")
    return (minhash_det_pairs(d, k=3, n_hashes=16, n_bands=4,
                              max_band_freq=50)
            .orderBy("d1", "d2"))


@register("dedup_containment_guarded", oracle="""
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT DISTINCT doc_id,
              w[i] || '|' || w[i+1] || '|' || w[i+2] AS shingle
       FROM words, unnest(range(1, len(w) - 1)) t(i)),
cold AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 25),
shf AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN cold USING (shingle)),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_inter
          FROM shf a JOIN shf b
            ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
          GROUP BY 1, 2)
SELECT d1, d2,
       ROUND(n_inter * 1.0 / ca.n, 6) AS containment,
       n_inter,
       ca.n AS n_src
FROM pairs JOIN cnt ca ON ca.doc_id = d1
WHERE n_inter * 1.0 / ca.n >= 0.9
""", tags=("dedup", "neardup", "containment", "skew"))
def dedup_containment_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_containment with the hot-shingle guard engaged (DF cutoff
    25, same dial as dedup_ngram_guarded): stop-phrase shingles are
    dropped BEFORE both the candidate join and the containment
    denominator, so the fan-out bound AND the score semantics match
    between engines. The asymmetric screen is the one most exposed to
    boilerplate (short wrapper docs are mostly hot shingles), so the
    guarded form is what actually runs on crawl corpora."""
    from ..operators.dedup import containment_pairs
    d = load_table(spark, sf_dir, "documents")
    return containment_pairs(d, k=3, threshold=0.9, max_doc_freq=25)


# Same deterministic-MinHash CTEs as _MINHASH_DET_ORACLE_TMPL, with the
# dedup_incremental 80/20 id split (corpus: doc_id % 10 < 8; batch: the
# rest) applied AFTER signature computation — candidates pair a batch
# doc with a corpus doc only.
_MINHASH_INCR_ORACLE = """
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT DISTINCT doc_id,
              w[i] || '|' || w[i+1] || '|' || w[i+2] AS shingle
       FROM words, unnest(range(1, len(w) - 1)) t(i)),
hv AS (SELECT doc_id,
              CAST(CAST('0x' || substr(md5(shingle), 1, 8) AS UBIGINT)
                   % 2147483647 AS BIGINT) AS h
       FROM sh),
mh AS (SELECT doc_id, i,
              MIN(((1000003 + 7919 * i) * h + (12345 + 104729 * i))
                  % 2147483647) AS mh
       FROM hv CROSS JOIN (SELECT unnest(range(0, 16)) AS i)
       GROUP BY 1, 2),
bands AS (SELECT doc_id, i // 4 AS band,
                 string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS val
          FROM mh GROUP BY doc_id, i // 4),
cand AS (SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
         FROM bands n JOIN bands c
           ON n.band = c.band AND n.val = c.val
         WHERE n.doc_id % 10 >= 8 AND c.doc_id % 10 < 8)
SELECT p.new_id, p.corpus_id,
       CAST(SUM(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS BIGINT)
         AS n_equal,
       ROUND(SUM(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) / 16.0, 6)
         AS est_jaccard
FROM cand p
JOIN mh x ON x.doc_id = p.new_id
JOIN mh y ON y.doc_id = p.corpus_id AND y.i = x.i
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("dedup_minhash_incremental", oracle=_MINHASH_INCR_ORACLE,
          tags=("dedup", "neardup", "incremental"))
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup incremental ingest — the fuzzy companion to
    dedup_incremental's exact-hash gate, same 80/20 crawl-batch split:
    each batch doc's MinHash bands probe ONLY the corpus band index
    (batch-side bands join corpus-side bands; batch-batch and
    corpus-corpus pairs never form), reporting which existing document
    each new one near-duplicates and the n_equal/16 Jaccard estimate.
    Steady-state cost is proportional to the BATCH (the corpus band
    index is write-once, append-per-batch — here both sides derive
    from one checkpointed signature pass); the corpus is never
    self-joined. Oracle: DuckDB recomputes signatures and applies the
    identical split."""
    from ..operators.dedup import minhash_bands, minhash_signatures
    d = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(d, k=3, n_hashes=16)
    bands = minhash_bands(sig, n_hashes=16, n_bands=4)
    batch_b = bands.filter(F.col("doc_id") % 10 >= 8)
    corpus_b = bands.filter(F.col("doc_id") % 10 < 8)
    cand = (batch_b.alias("n")
            .join(corpus_b.alias("c"),
                  [F.col("n.band") == F.col("c.band"),
                   F.col("n.val") == F.col("c.val")])
            .select(F.col("n.doc_id").alias("new_id"),
                    F.col("c.doc_id").alias("corpus_id"))
            .distinct())
    sa = sig.select(F.col("doc_id").alias("new_id"),
                    *[F.col(f"_mh{i}").alias(f"_a{i}") for i in range(16)])
    sb = sig.select(F.col("doc_id").alias("corpus_id"),
                    *[F.col(f"_mh{i}").alias(f"_b{i}") for i in range(16)])
    n_equal = sum(F.when(F.col(f"_a{i}") == F.col(f"_b{i}"), 1).otherwise(0)
                  for i in range(16))
    return (cand.join(sa, "new_id").join(sb, "corpus_id")
            .select("new_id", "corpus_id",
                    n_equal.cast("long").alias("n_equal"))
            .withColumn("est_jaccard",
                        F.round(F.col("n_equal") / F.lit(16.0), 6))
            .orderBy("new_id", "corpus_id"))


_MINHASH_KEEP_ORACLE = """
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT DISTINCT doc_id,
              w[i] || '|' || w[i+1] || '|' || w[i+2] AS shingle
       FROM words, unnest(range(1, len(w) - 1)) t(i)),
hv AS (SELECT doc_id,
              CAST(CAST('0x' || substr(md5(shingle), 1, 8) AS UBIGINT)
                   % 2147483647 AS BIGINT) AS h
       FROM sh),
mh AS (SELECT doc_id, i,
              MIN(((1000003 + 7919 * i) * h + (12345 + 104729 * i))
                  % 2147483647) AS mh
       FROM hv CROSS JOIN (SELECT unnest(range(0, 16)) AS i)
       GROUP BY 1, 2),
bands AS (SELECT doc_id, i // 4 AS band,
                 string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS val
          FROM mh GROUP BY doc_id, i // 4),
kept_b AS (
  SELECT doc_id, band, val FROM (
    SELECT doc_id, band, val,
           COUNT(*) OVER (PARTITION BY band, val) AS _df
    FROM bands)
  WHERE _df <= 50
),
cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         FROM kept_b a JOIN kept_b b
           ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id),
losers AS (
  SELECT DISTINCT c.d2 AS doc_id
  FROM cand c
  JOIN mh x ON x.doc_id = c.d1
  JOIN mh y ON y.doc_id = c.d2 AND y.i = x.i
  GROUP BY c.d1, c.d2
  HAVING SUM(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) >= 12
)
SELECT d.doc_id, d.lang, d.source
FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
"""


@register("dedup_minhash_keep", oracle=_MINHASH_KEEP_ORACLE,
          tags=("dedup", "neardup"))
def dedup_minhash_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup SURVIVOR SET — what a corpus build actually
    consumes: every document except those whose deterministic-MinHash
    estimate puts them at >= 0.75 Jaccard (n_equal >= 12 of 16) of a
    LOWER-id document (keep-first policy, the same tie rule as
    dedup_exact_rows). Candidate pairs come from the guarded banded
    join; the drop set materializes via one broadcast-friendly
    left-anti join, so the fact table shuffles once on the band keys
    and once never — losers are a tiny fraction. Fully oracle-backed
    end-to-end: DuckDB recomputes sketches, pairs, the 12/16 cut, and
    the anti-join."""
    from ..operators.dedup import minhash_det_pairs
    d = load_table(spark, sf_dir, "documents")
    losers = (minhash_det_pairs(d, k=3, n_hashes=16, n_bands=4,
                                max_band_freq=50)
              .filter(F.col("n_equal") >= 12)
              .select(F.col("d2").alias("doc_id"))
              .distinct())
    return (d.join(losers, "doc_id", "left_anti")
            .select("doc_id", "lang", "source"))


#: Tombstone rule for the survivor-set delete face: doc_id % 7 == 3.
#: Static so DuckDB replays it as WHERE clauses; real callers pass a
#: tombstone DataFrame (the Spark side is written against one).
_KEEP_DEL_MOD, _KEEP_DEL_RES = 7, 3

_MINHASH_KEEP_DELETES_ORACLE = _MINHASH_KEEP_ORACLE.replace(
    """losers AS (
  SELECT DISTINCT c.d2 AS doc_id
  FROM cand c""",
    f"""losers AS (
  SELECT DISTINCT c.d2 AS doc_id
  FROM (SELECT * FROM cand
        WHERE d1 % {_KEEP_DEL_MOD} <> {_KEEP_DEL_RES}) c""").replace(
    "WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)",
    f"WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)\n"
    f"  AND d.doc_id % {_KEEP_DEL_MOD} <> {_KEEP_DEL_RES}")


# NOTE: registered at the END of queries/__init__.py, not here. This query
# was added mid-file during round 12 and its decorator registration inserted
# it mid-list, pushing vec_ann_ivf_det out of the driver's first-50 verified
# window (the round-12 gate failure). Registry rule going forward: new
# queries APPEND to registration order, never insert.
def dedup_minhash_keep_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor-set RECOMPUTE after corpus deletes — the text-dedup
    member of the tombstone matrix (vec_hamming_serve_deletes /
    vec_ann_ivf_deletes / vec_ann_graph_det_deletes cover the vector
    indexes): the candidate-pair graph was built BEFORE the deletes
    and is NOT rebuilt; survivorship is re-derived over it with the
    tombstone set (doc_id % 7 == 3) anti-joined from the KEEPER side
    of every pair. Two semantics fall out, both pinned in tests:

    - RE-PROMOTION: a doc dropped only by now-deleted keepers
      re-enters the corpus (its pairs all have tombstoned d1, so it
      leaves the loser set) — post-filtering the old survivor list
      would lose these docs forever;
    - deleted docs themselves leave the survivor set, of course.

    Under the keep-first rule (drop iff ANY lower-id doc pairs with
    you) keeper-side filtering is exact — a doc's drop verdict never
    depends on whether its keeper itself survived, so no transitive
    cascade re-walk is needed; the recompute is two anti-joins over
    the persisted pair list, cost proportional to |pairs| + |deletes|,
    never a re-shingle of the corpus. Oracle: same pair CTEs with the
    tombstone rule applied to d1 in losers and to the final corpus."""
    from ..operators.dedup import minhash_det_pairs
    d = load_table(spark, sf_dir, "documents")
    tomb = (d.filter(F.col("doc_id") % _KEEP_DEL_MOD == _KEEP_DEL_RES)
            .select(F.col("doc_id").alias("_tid")))
    pairs = minhash_det_pairs(d, k=3, n_hashes=16, n_bands=4,
                              max_band_freq=50)  # pre-delete pair graph
    losers = (pairs.filter(F.col("n_equal") >= 12)
              .join(F.broadcast(tomb), pairs.d1 == F.col("_tid"),
                    "left_anti")                 # deleted keepers don't drop
              .select(F.col("d2").alias("doc_id"))
              .distinct())
    return (d.join(F.broadcast(tomb), d.doc_id == F.col("_tid"),
                   "left_anti")                  # deleted docs leave too
            .join(losers, "doc_id", "left_anti")
            .select("doc_id", "lang", "source"))


@register("dedup_simhash",
          oracle=_SIMHASH_ORACLE_TMPL.replace("{GUARD}", ""),
          tags=("dedup", "neardup", "approx"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(64) near-dup pairs with Hamming <= 6 via banded self-join
    + bit_count. Oracle-backed: the md5-based sketch is deterministic,
    so DuckDB recomputes it from the raw text (votes, packing, banding,
    Hamming) and must reproduce the exact pair set."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_pairs(d, max_hamming=6).orderBy("d1", "d2")


@register("dedup_embedding", oracle="""
SELECT a.vec_id AS id_a,
       b.vec_id AS id_b,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6)
         AS cos_sim
FROM embeddings a
JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.45
""", tags=("dedup", "embedding"))
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (>= 0.45) via the size-routed
    pair-scan operator: broadcast blocked-matmul under the budget,
    two-sided cogrouped blocks above it — exact results, no O(n²)
    shuffle and no unconditional driver-side matrix collect."""
    from .vectors import _emb_cells_estimate

    e = load_table(spark, sf_dir, "embeddings")
    return cosine_pairs_exact(e, threshold=0.45,
                              est_cells=_emb_cells_estimate(sf_dir))


_CLUSTER_ORACLE = """
WITH RECURSIVE
words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT DISTINCT doc_id,
              w[i] || '|' || w[i+1] || '|' || w[i+2] AS shingle
       FROM words, unnest(range(1, len(w) - 1)) t(i)),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
raw_pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_inter
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
pairs AS (SELECT d1, d2 FROM raw_pairs
          JOIN cnt ca ON ca.doc_id = d1
          JOIN cnt cb ON cb.doc_id = d2
          WHERE n_inter * 1.0 / (ca.n + cb.n - n_inter) >= 0.8),
edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
          UNION SELECT d2, d1 FROM pairs),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach AS (
  SELECT id AS src, id AS dst FROM nodes
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, CAST(MIN(dst) AS BIGINT) AS cluster_id
FROM reach GROUP BY src
"""


@register("dedup_cluster", oracle=_CLUSTER_ORACLE,
          tags=("dedup", "neardup", "iterative"))
def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: 0.8-Jaccard pairs → connected components →
    (doc, cluster representative). The Spark side runs the one
    connected-components operator (driver union-find under the driver
    budget, large-star/small-star contraction past it); the oracle
    computes the same components with a recursive transitive-closure
    CTE — an iterative algorithm checked against recursive SQL."""
    from ..operators.dedup import connected_components
    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, k=3, threshold=0.8).select("d1", "d2")
    return connected_components(pairs)


@register("dedup_cluster_star", oracle=_CLUSTER_ORACLE,
          tags=("dedup", "neardup", "iterative"))
def dedup_cluster_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clustering as ``dedup_cluster``, through the same operator
    and against the same recursive-CTE oracle. It once ran the star
    contraction while ``dedup_cluster`` ran min-label propagation;
    the two merged into one operator, and both names stay because the
    registry is append-only."""
    from ..operators.dedup import connected_components
    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, k=3, threshold=0.8).select("d1", "d2")
    return connected_components(pairs)


@register("dedup_substring_spans", oracle="""
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
grams AS (
  SELECT doc_id,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' '
           || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]
           AS gram
  FROM words, unnest(range(1, len(w) - 6)) t(i)
),
span_stats AS (
  SELECT gram,
         COUNT(*) AS n_occurrences,
         COUNT(DISTINCT doc_id) AS n_docs,
         CAST(MIN(doc_id) AS BIGINT) AS example_doc
  FROM grams
  GROUP BY gram
)
SELECT gram, n_occurrences, n_docs, example_doc
FROM span_stats
WHERE n_docs >= 2
ORDER BY n_occurrences DESC, gram
LIMIT 50
""", tags=("dedup", "substring"))
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication: 8-token spans appearing in >= 2
    distinct documents — the repeated-passage signal behind
    train-data substring dedup (boilerplate, licenses, templates leave
    long shared spans that document-level Jaccard misses when the rest
    of the doc differs). Sliding 8-gram generation is a pure column
    expression (transform over a sequence — no Python); the groupBy
    shuffles (gram, doc_id) pairs, cost proportional to corpus token
    count, and the output is bounded to the top-50 hottest spans. At
    100 TB the same plan runs with a frequency floor (HAVING n >= k)
    pushed into a partial-agg-friendly count."""
    from ..operators.dedup import gram_rows

    d = load_table(spark, sf_dir, "documents")
    grams = gram_rows(d, k=8)
    return (grams.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("n_occurrences"),
                 F.countDistinct("doc_id").alias("n_docs"),
                 F.min("doc_id").alias("example_doc"))
            .filter(F.col("n_docs") >= 2)
            .orderBy(F.col("n_occurrences").desc(), "gram")
            .limit(50))


@register("decontaminate_report", oracle="""
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
grams AS (
  SELECT doc_id,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' '
           || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]
           AS gram
  FROM words, unnest(range(1, len(w) - 6)) t(i)
),
eval_grams AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % 50 = 0
),
train_hits AS (
  SELECT g.doc_id, COUNT(DISTINCT g.gram) AS n_shared_grams
  FROM grams g JOIN eval_grams e ON g.gram = e.gram
  WHERE g.doc_id % 50 <> 0
  GROUP BY g.doc_id
),
doc_grams AS (
  SELECT doc_id, COUNT(DISTINCT gram) AS n_grams
  FROM grams WHERE doc_id % 50 <> 0 GROUP BY doc_id
)
SELECT t.doc_id,
       t.n_shared_grams,
       d.n_grams,
       ROUND(t.n_shared_grams * 1.0 / d.n_grams, 6) AS contamination
FROM train_hits t JOIN doc_grams d ON d.doc_id = t.doc_id
WHERE t.n_shared_grams >= 3
ORDER BY contamination DESC, t.doc_id
LIMIT 100
""", tags=("dedup", "decontamination"))
def decontaminate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the LLM-pipeline step that strips
    training documents overlapping an evaluation set: every 50th doc
    plays the held-out benchmark; training docs sharing >= 3 distinct
    8-token spans with it are reported with their contamination ratio
    (shared grams / own grams). The span join is an equality join on
    the gram (cost tracks collisions, never |train| x |eval|), and the
    eval gram set is DISTINCT-reduced before joining — at 100 TB it
    broadcasts (benchmarks are small; the corpus is not)."""
    from ..operators.dedup import gram_rows

    d = load_table(spark, sf_dir, "documents")
    # Codegen gram generation (see operators.dedup.gram_rows); the
    # three consumers below (eval set, hit join, per-doc totals) differ
    # only ABOVE the gram projection, so the window's doc_id exchange
    # is planned once and hit via ReusedExchange instead of three
    # interpreted re-evaluations of the old HOF form.
    grams = gram_rows(d, k=8)
    is_eval = F.col("doc_id") % 50 == 0
    eval_grams = grams.filter(is_eval).select("gram").distinct()
    train = grams.filter(~is_eval)
    hits = (train.join(F.broadcast(eval_grams), "gram")
            .groupBy("doc_id")
            .agg(F.countDistinct("gram").alias("n_shared_grams")))
    doc_grams = (train.groupBy("doc_id")
                 .agg(F.countDistinct("gram").alias("n_grams")))
    return (hits.join(doc_grams, "doc_id")
            .filter(F.col("n_shared_grams") >= 3)
            .select("doc_id", "n_shared_grams", "n_grams",
                    F.round(F.col("n_shared_grams") / F.col("n_grams"), 6)
                     .alias("contamination"))
            .orderBy(F.col("contamination").desc(), "doc_id")
            .limit(100))


_INCR_ORACLE = """
WITH batch AS (SELECT * FROM documents WHERE doc_id % 10 >= 8),
     corpus_md5 AS (SELECT DISTINCT md5(text) AS h
                    FROM documents WHERE doc_id % 10 < 8)
SELECT doc_id, lang, source FROM (
  SELECT b.doc_id, b.lang, b.source,
         row_number() OVER (PARTITION BY md5(b.text)
                            ORDER BY b.doc_id) AS rn
  FROM batch b LEFT JOIN corpus_md5 ON md5(b.text) = h
  WHERE h IS NULL
) WHERE rn = 1
"""


@register("dedup_incremental", oracle=_INCR_ORACLE,
          tags=("dedup", "incremental"))
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — accept only NEW content from a fresh crawl
    batch: docs already in the corpus index (deterministic 80/20 split
    on doc_id) are rejected by content hash, then a keep-first pass
    drops within-batch copies. This is the steady-state pipeline op:
    the corpus is never re-clustered, each batch anti-joins the index.
    Shape: hash projection on both sides, LEFT ANTI on the corpus hash
    set, one window on the batch side only (the corpus never flows
    through the window)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    corpus_h = (d.filter(F.col("doc_id") % 10 < 8)
                .select(F.md5("text").alias("_h")).distinct())
    batch = (d.filter(F.col("doc_id") % 10 >= 8)
             .withColumn("_h", F.md5("text")))
    novel = batch.join(corpus_h, "_h", "left_anti")
    w = Window.partitionBy("_h").orderBy("doc_id")
    return (novel.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("doc_id", "lang", "source"))


@register("dedup_incremental_bloom", oracle=_INCR_ORACLE,
          tags=("dedup", "incremental", "bloom"))
def dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same accepted set as ``dedup_incremental``, produced the way a
    100 TB deployment would: a Bloom filter of the corpus hashes
    (mergeable bit arrays, one distributed pass, OR'd on the driver —
    see operators/bloom.py) rides a broadcast to split the batch into
    definite-new rows (filter miss — skip the join entirely) and
    maybe-duplicate rows (~1% fpp) that alone pay the exact
    verification anti-join. The filter is advisory: correctness comes
    from the verification join, so the oracle is identical. The only
    driver-side materialization is the bit array itself (corpus-count
    scalar + m/8 bytes), never corpus rows."""
    from pyspark.sql import Window

    from ..operators.bloom import bloom_maybe_contains, build_bloom

    d = load_table(spark, sf_dir, "documents")
    corpus_h = (d.filter(F.col("doc_id") % 10 < 8)
                .select(F.md5("text").alias("_h")).distinct())
    n_est = corpus_h.count()
    bits, m, k = build_bloom(corpus_h, "_h", n_est)
    batch = (d.filter(F.col("doc_id") % 10 >= 8)
             .withColumn("_h", F.md5("text")))
    probed = bloom_maybe_contains(batch, "_h", bits, m, k)
    definite_new = probed.filter(~F.col("_maybe")).drop("_maybe")
    verified_new = (probed.filter(F.col("_maybe")).drop("_maybe")
                    .join(corpus_h, "_h", "left_anti"))
    novel = definite_new.unionByName(verified_new)
    w = Window.partitionBy("_h").orderBy("doc_id")
    return (novel.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("doc_id", "lang", "source"))


PARA_CHUNK = 12  #: words per pseudo-paragraph (corpus text is one line)

_PARA_ORACLE = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
ch AS (
  SELECT doc_id, i AS chunk_id,
         array_to_string(ws[i * {PARA_CHUNK} + 1 : i * {PARA_CHUNK} + {PARA_CHUNK}], ' ') AS chunk
  FROM w, unnest(range(0, CAST(ceil(len(ws) / {PARA_CHUNK}.0) AS BIGINT))) t(i)
),
keep AS (
  SELECT * FROM ch
  QUALIFY row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_id) = 1
)
SELECT doc_id,
       COUNT(*) AS n_chunks_kept,
       string_agg(chunk, ' ' ORDER BY chunk_id) AS clean_text
FROM keep
GROUP BY doc_id
"""


@register("dedup_paragraph", oracle=_PARA_ORACLE, tags=("dedup",))
def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style duplicated-paragraph removal: split every document
    into ``PARA_CHUNK``-word chunks (the corpus has no newlines, so
    fixed word windows stand in for paragraphs), keep each distinct
    chunk only at its first (doc_id, chunk_id) occurrence corpus-wide,
    and reassemble the surviving chunks into a cleaned text. Documents
    whose every chunk already appeared elsewhere vanish — exactly how
    boilerplate and mirrored pages die in a web-corpus pipeline.

    Chunking is pure HOF (sequence/slice/array_join inside one
    projection — no word-level explode, so the pre-shuffle width is
    docs x chunks, not docs x words). The only shuffle partitions by
    chunk hash; a pathological stop-phrase chunk would skew it, and the
    same broadcast left-anti hot-list guard as ngram_jaccard_pairs
    (operators/dedup.py max_doc_freq) applies unchanged at scale."""
    d = load_table(spark, sf_dir, "documents")
    chunks = F.expr(f"""
        transform(
          sequence(0, int(ceil(size(split(text, ' ')) / {PARA_CHUNK}.0)) - 1),
          i -> struct(
            cast(i AS bigint) AS chunk_id,
            array_join(slice(split(text, ' '), i * {PARA_CHUNK} + 1,
                             {PARA_CHUNK}), ' ') AS chunk))
    """)
    e = (d.select("doc_id", F.explode(chunks).alias("c"))
         .select("doc_id", F.col("c.chunk_id"), F.col("c.chunk")))
    w = Window.partitionBy("chunk").orderBy("doc_id", "chunk_id")
    kept = (e.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1))
    return (kept.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_chunks_kept"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.struct("chunk_id", "chunk"))),
                         lambda s: s.chunk), " ").alias("clean_text")))


@register("dedup_candidate_recall", oracle=None,
          tags=("dedup", "neardup", "quality"))
def dedup_candidate_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of each approximate near-dup candidate generator
    against the exact 3-gram Jaccard >= 0.8 pair set — the dedup analog
    of vec_ann_recall: before MinHash-LSH or SimHash replaces the exact
    shingle join at 100 TB, this is the number that says what fraction
    of true near-duplicates the banded candidates still reach.

    Rows-only by design (the candidate sets depend on engine hash
    internals); tests assert recall == 1.0 for MinHash at these dials
    and report SimHash alongside. All three pair sets are bucketed
    candidate joins — computing the report costs no all-pairs work."""
    from ..operators.ckpt import truncated_checkpoint
    from ..operators.dedup import minhash_lsh_pairs, simhash_pairs

    d = load_table(spark, sf_dir, "documents")
    # The exact-truth pair set is consumed four times (per method: one
    # semi join + the n_true aggregate) — checkpoint it once
    # (eager=False: the first report's action materializes it) so the
    # exact shingle join runs ONE time per query (r12, guide §1.2).
    truth = truncated_checkpoint(
        ngram_jaccard_pairs(d, k=3, threshold=0.8).select("d1", "d2"),
        eager=False)
    methods = {
        "minhash_lsh": minhash_lsh_pairs(d, k=3, jaccard_dist=0.5)
                       .select("d1", "d2"),
        "simhash": simhash_pairs(d, max_hamming=6).select("d1", "d2"),
    }
    reports = []
    for name, cand in methods.items():
        hit = truth.join(cand, ["d1", "d2"], "left_semi")
        reports.append(
            truth.agg(F.count(F.lit(1)).alias("n_true")).crossJoin(
                hit.agg(F.count(F.lit(1)).alias("n_hit")))
            .select(F.lit(name).alias("method"), "n_true", "n_hit",
                    F.when(F.col("n_true") > 0,
                           F.round(F.col("n_hit") / F.col("n_true"), 4))
                     .otherwise(F.lit(None).cast("double"))
                     .alias("recall")))
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.orderBy("method")


# Sign-random-projection LSH oracle: DuckDB recomputes the ENTIRE
# pipeline from the raw vectors — the md5-parity +/-1 hyperplanes, the
# exact integer quantized projections (floor(x*2^20) int64 dot), the
# banded bucket packing, the bucket-equality candidate join, and the
# exact-cosine residual filter. Any divergence in plane derivation,
# quantization, sign convention, banding, or the residual threshold
# breaks the value-hash match. Constants: dim=64, 3 bits x 12 bands
# = 36 planes, residual cosine >= 0.45 (same threshold as
# dedup_embedding so the recall row below is directly comparable).
_SIGNLSH_BUCK = """
qv AS (SELECT vec_id,
              list_transform(CAST(embedding AS DOUBLE[]),
                             x -> CAST(floor(x * 1048576.0) AS BIGINT)) AS q
       FROM embeddings),
comp AS (SELECT vec_id, j, q[j + 1] AS val
         FROM qv, unnest(range(0, 64)) t(j)),
planes AS (SELECT p, j,
                  CASE WHEN CAST('0x' || substr(md5(CAST(p AS VARCHAR)
                                 || ':' || CAST(j AS VARCHAR)), 1, 2)
                            AS UBIGINT) % 2 = 0
                       THEN 1 ELSE -1 END AS c
           FROM range(0, 36) tp(p) CROSS JOIN range(0, 64) tj(j)),
proj AS (SELECT comp.vec_id, planes.p,
                SUM(comp.val * planes.c) AS s
         FROM comp JOIN planes ON comp.j = planes.j
         GROUP BY 1, 2),
buck AS (SELECT vec_id, CAST(p // 3 AS INT) AS band,
                SUM(CASE WHEN s >= 0
                         THEN (1 << CAST(p % 3 AS INT)) ELSE 0 END) AS bucket
         FROM proj GROUP BY 1, 2)
"""

_SIGNLSH_CAND = _SIGNLSH_BUCK + """,
cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM buck a JOIN buck b
           ON a.band = b.band AND a.bucket = b.bucket
              AND a.vec_id < b.vec_id)
"""

_SIGNLSH_PAIRS_ORACLE = f"""
WITH {_SIGNLSH_CAND}
SELECT c.id_a, c.id_b,
       ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                    CAST(eb.embedding AS DOUBLE[])), 6)
         AS cos_sim
FROM cand c
JOIN embeddings ea ON ea.vec_id = c.id_a
JOIN embeddings eb ON eb.vec_id = c.id_b
WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                             CAST(eb.embedding AS DOUBLE[])) >= 0.45
ORDER BY 1, 2
"""


@register("dedup_embedding_lsh", oracle=_SIGNLSH_PAIRS_ORACLE,
          tags=("dedup", "embedding", "approx"))
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via sign-random-projection LSH — the
    sub-quadratic candidate path for cosine dedup, ORACLE-BACKED end to
    end (the md5-derived hyperplanes and exact-integer sign arithmetic
    make the sketch engine-replayable; DuckDB recomputes planes,
    projections, bands, candidates, and the residual filter from raw
    vectors). Candidates come from a bucket-equality self-join — cost
    tracks colliding pairs, never n²; the exact cosine runs only on
    candidates. 3 bits x 12 bands targets the fixture's 0.45-0.55
    near-dup regime (per-plane collision 1 - theta/pi); dedups at
    higher thresholds dial bits up for sharper selectivity."""
    from ..operators.dedup import signlsh_pairs
    e = load_table(spark, sf_dir, "embeddings")
    return (signlsh_pairs(e, threshold=0.45, dim=64,
                          bits_per_band=3, n_bands=12)
            .orderBy("id_a", "id_b"))


_SIGNLSH_RECALL_ORACLE = f"""
WITH {_SIGNLSH_CAND},
lsh AS (SELECT c.id_a, c.id_b
        FROM cand c
        JOIN embeddings ea ON ea.vec_id = c.id_a
        JOIN embeddings eb ON eb.vec_id = c.id_b
        WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                     CAST(eb.embedding AS DOUBLE[]))
              >= 0.45),
exact AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[]))
                >= 0.45)
SELECT CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
       CAST((SELECT COUNT(*) FROM lsh) AS BIGINT) AS n_lsh,
       CAST((SELECT COUNT(*) FROM exact e
             JOIN lsh l ON e.id_a = l.id_a AND e.id_b = l.id_b)
            AS BIGINT) AS n_hit,
       ROUND((SELECT COUNT(*) FROM exact e
              JOIN lsh l ON e.id_a = l.id_a AND e.id_b = l.id_b) * 1.0
             / NULLIF((SELECT COUNT(*) FROM exact), 0), 4) AS recall
"""


@register("dedup_embedding_lsh_recall", oracle=_SIGNLSH_RECALL_ORACLE,
          tags=("dedup", "embedding", "recall"))
def dedup_embedding_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible, ORACLE-CHECKED recall of the sign-LSH candidate
    path against the exact cosine pair set (both pipelines are
    SQL-expressible, so even the recall arithmetic is cross-engine
    verified — stronger than the rows-only recall rows the
    engine-private sketches get)."""
    from ..operators.dedup import signlsh_pairs
    e = load_table(spark, sf_dir, "embeddings")
    from .vectors import _emb_cells_estimate
    exact = (cosine_pairs_exact(e, threshold=0.45,
                                est_cells=_emb_cells_estimate(sf_dir))
             .select("id_a", "id_b"))
    lsh = (signlsh_pairs(e, threshold=0.45, dim=64,
                         bits_per_band=3, n_bands=12)
           .select("id_a", "id_b"))
    hit = exact.join(lsh, ["id_a", "id_b"], "left_semi")
    return (exact.agg(F.count(F.lit(1)).alias("n_exact"))
            .crossJoin(lsh.agg(F.count(F.lit(1)).alias("n_lsh")))
            .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit")))
            .select(F.col("n_exact").cast("long").alias("n_exact"),
                    F.col("n_lsh").cast("long").alias("n_lsh"),
                    F.col("n_hit").cast("long").alias("n_hit"),
                    F.when(F.col("n_exact") > 0,
                           F.round(F.col("n_hit") / F.col("n_exact"), 4))
                     .otherwise(F.lit(None).cast("double"))
                     .alias("recall")))


def _empty_pairs(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], "id_a long, id_b long, cos_sim double")


@register("dedup_semantic_ivf", oracle=None,
          tags=("dedup", "embedding", "approx", "scale"))
def dedup_semantic_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via IVF cell bucketing — the
    low-threshold scale path (sign-LSH banding loses selectivity as the
    threshold drops; k-means cells concentrate true neighbors instead).
    Multi-assignment (each vector in its 2 nearest cells) recovers
    boundary pairs; within-cell scan is an exact chunked float64
    matmul. Rows-only by design (the coarse quantizer is
    engine-private); dedup_semantic_recall is the registered
    driver-visible check against the exact pair set."""
    from ..operators.dedup import semantic_pairs_ivf
    e = load_table(spark, sf_dir, "embeddings")
    if not e.head(1):
        return _empty_pairs(spark)
    return (semantic_pairs_ivf(e, threshold=0.45)
            .orderBy("id_a", "id_b"))


def _semantic_ivf_det_oracle_sql() -> str:
    """Det-k-means chain (queries/scale.py generator, same dials as
    vec_ann_ivf_det's generator; k=8, 4 Lloyd rounds) + the near-dup pair
    tail: multi-assign each vector to its 3 nearest cells, candidates =
    same-cell pairs (a < b), exact cosine >= 0.45 on candidates."""
    from .scale import _ivf_det_chain_sql

    return _ivf_det_chain_sql(k=8, iters=4) + """,
passign AS (SELECT vec_id, bucket FROM ranked WHERE rn <= 3),
cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM passign a JOIN passign b
           ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
SELECT c.id_a, c.id_b,
       ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                    CAST(eb.embedding AS DOUBLE[])), 6)
         AS cos_sim
FROM cand c
JOIN embeddings ea ON ea.vec_id = c.id_a
JOIN embeddings eb ON eb.vec_id = c.id_b
WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                             CAST(eb.embedding AS DOUBLE[])) >= 0.45
ORDER BY id_a, id_b
"""


@register("dedup_semantic_ivf_det", oracle=_semantic_ivf_det_oracle_sql(),
          tags=("dedup", "embedding", "approx", "scale"))
def dedup_semantic_ivf_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed semantic near-dup pairs with the coarse quantizer
    ORACLE-BACKED — dedup_semantic_ivf's deterministic twin, the same
    relationship dedup_minhash_det has to dedup_minhash: the float
    spark.ml k-means stays registered as the production face
    (adaptive cell count), while this twin runs the integer-grid
    md5-seeded Lloyd fit (operators/det_ann.py::_ivf_det_fit_ranked,
    shared with vec_ann_ivf_det) so DuckDB replays the ENTIRE pipeline — all 4
    Lloyd rounds, the 3-nearest-cell multi-assignment, the same-cell
    candidate join, and the exact-cosine >= 0.45 residual (dials
    k=8/assign=3: the 0.45-threshold boundary pairs this isotropic
    fixture plants are IVF's adversarial case — see vec_ann_ivf's
    docstring — and deeper assignment is the recall lever; measured
    pair recall 1.0 / 0.93 at sf0.001 / sf0.01, pinned >= 0.9 in
    tests).

    Scale shape matches the production twin: candidates are
    cell-equality joins (cost tracks co-located pairs, never n²);
    multi-assignment recovers boundary pairs. Static k=8 pinned for
    the oracle — the adaptive-cell dial lives on the float twin, same
    split as vec_ann_lsh (bits=3 oracle) vs vec_ann_lsh_adaptive."""
    from ..operators.det_ann import _ivf_det_fit_ranked

    e = load_table(spark, sf_dir, "embeddings")
    if not e.head(1):
        return _empty_pairs(spark)
    q, cent, ranked = _ivf_det_fit_ranked(e, k=8, iters=4, max_rn=3)
    asg = ranked.select("vec_id", "bucket")
    a = asg.select(F.col("vec_id").alias("id_a"), "bucket")
    b = asg.select(F.col("vec_id").alias("id_b"), "bucket")
    cand = (a.join(b, "bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    from .vectors import _emb_cells_estimate
    return (_cosine_residual(cand, e, e, 0.45, "id_a", "id_b",
                             "vec_id", "embedding",
                             est_cells=_emb_cells_estimate(sf_dir))
            .orderBy("id_a", "id_b"))


@register("dedup_semantic_recall", oracle=None,
          tags=("dedup", "embedding", "recall"))
def dedup_semantic_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the IVF-bucketed semantic dedup against the exact
    cosine pair set (same 0.45 threshold). Registered so the driver
    sees the measured number every round; tests pin it >= 0.9."""
    from ..operators.dedup import semantic_pairs_ivf
    from .vectors import _emb_cells_estimate
    e = load_table(spark, sf_dir, "embeddings")
    if not e.head(1):
        return spark.createDataFrame(
            [], "n_exact long, n_ivf long, n_hit long, recall double")
    exact = (cosine_pairs_exact(e, threshold=0.45,
                                est_cells=_emb_cells_estimate(sf_dir))
             .select("id_a", "id_b"))
    ivf = (semantic_pairs_ivf(e, threshold=0.45)
           .select("id_a", "id_b"))
    hit = exact.join(ivf, ["id_a", "id_b"], "left_semi")
    return (exact.agg(F.count(F.lit(1)).alias("n_exact"))
            .crossJoin(ivf.agg(F.count(F.lit(1)).alias("n_ivf")))
            .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit")))
            .select(F.col("n_exact").cast("long").alias("n_exact"),
                    F.col("n_ivf").cast("long").alias("n_ivf"),
                    F.col("n_hit").cast("long").alias("n_hit"),
                    F.when(F.col("n_exact") > 0,
                           F.round(F.col("n_hit") / F.col("n_exact"), 4))
                     .otherwise(F.lit(None).cast("double"))
                     .alias("recall")))


_SIGNLSH_KEEP_ORACLE = f"""
WITH {_SIGNLSH_CAND},
losers AS (SELECT DISTINCT c.id_b
           FROM cand c
           JOIN embeddings ea ON ea.vec_id = c.id_a
           JOIN embeddings eb ON eb.vec_id = c.id_b
           WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                        CAST(eb.embedding AS DOUBLE[]))
                 >= 0.45)
SELECT e.vec_id, e.label
FROM embeddings e
WHERE e.vec_id NOT IN (SELECT id_b FROM losers)
"""


@register("dedup_embedding_lsh_keep", oracle=_SIGNLSH_KEEP_ORACLE,
          tags=("dedup", "embedding"))
def dedup_embedding_lsh_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The semantic-dedup SURVIVOR SET: every embedding except those
    whose sign-LSH pipeline pairs them at >= 0.45 cosine with a
    LOWER-id vector (keep-first, the same tie rule as
    dedup_minhash_keep). One left-anti join against the tiny loser set
    — the corpus shuffles only on the LSH bucket keys. Oracle-backed
    end to end (planes, candidates, residual filter, anti-join)."""
    from ..operators.dedup import signlsh_pairs
    e = load_table(spark, sf_dir, "embeddings")
    losers = (signlsh_pairs(e, threshold=0.45, dim=64,
                            bits_per_band=3, n_bands=12)
              .select(F.col("id_b").alias("vec_id"))
              .distinct())
    return (e.join(losers, "vec_id", "left_anti")
            .select("vec_id", "label"))


_SIGNLSH_INCR_ORACLE = "WITH " + _SIGNLSH_BUCK + """,
cand AS (SELECT DISTINCT n.vec_id AS new_id, c.vec_id AS corpus_id
         FROM buck n JOIN buck c
           ON n.band = c.band AND n.bucket = c.bucket
         WHERE n.vec_id % 10 >= 8 AND c.vec_id % 10 < 8)
SELECT d.new_id, d.corpus_id,
       ROUND(list_cosine_similarity(CAST(en.embedding AS DOUBLE[]),
                                    CAST(ec.embedding AS DOUBLE[])), 6)
         AS cos_sim
FROM cand d
JOIN embeddings en ON en.vec_id = d.new_id
JOIN embeddings ec ON ec.vec_id = d.corpus_id
WHERE list_cosine_similarity(CAST(en.embedding AS DOUBLE[]),
                             CAST(ec.embedding AS DOUBLE[])) >= 0.45
ORDER BY 1, 2
"""


@register("dedup_embedding_lsh_incremental", oracle=_SIGNLSH_INCR_ORACLE,
          tags=("dedup", "embedding", "incremental"))
def dedup_embedding_lsh_incremental(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Incremental SEMANTIC ingest — the embedding companion to
    dedup_minhash_incremental, same 80/20 crawl-batch split: each new
    vector's sign-LSH band buckets probe ONLY the corpus band index
    (new x corpus bucket join; new-new and corpus-corpus pairs never
    form), then the exact cosine runs on the collisions. Steady-state
    cost tracks the batch — the corpus index is write-once,
    append-per-batch. Oracle-backed end to end (DuckDB recomputes
    planes, buckets, the split, the probe join, and the residual)."""
    from ..operators.dedup import signlsh_pairs_between
    e = load_table(spark, sf_dir, "embeddings")
    new = e.filter(F.col("vec_id") % 10 >= 8)
    corpus = e.filter(F.col("vec_id") % 10 < 8)
    return (signlsh_pairs_between(new, corpus, threshold=0.45, dim=64,
                                  bits_per_band=3, n_bands=12)
            .orderBy("new_id", "corpus_id"))


_CURATION_ORACLE = f"""
WITH {_SIGNLSH_CAND},
losers AS (SELECT DISTINCT c.id_b
           FROM cand c
           JOIN embeddings ea ON ea.vec_id = c.id_a
           JOIN embeddings eb ON eb.vec_id = c.id_b
           WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                        CAST(eb.embedding AS DOUBLE[]))
                 >= 0.45),
surv AS (SELECT e.vec_id, e.label
         FROM embeddings e
         WHERE e.vec_id NOT IN (SELECT id_b FROM losers)),
sampled AS (SELECT vec_id, label FROM (
              SELECT vec_id, label,
                     row_number() OVER (
                       PARTITION BY label
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
              FROM surv)
            WHERE rn <= 10)
SELECT t.label,
       CAST(t.n_total AS BIGINT) AS n_total,
       CAST(COALESCE(s.n_surv, 0) AS BIGINT) AS n_survivors,
       CAST(COALESCE(p.n_samp, 0) AS BIGINT) AS n_sampled
FROM (SELECT CAST(label AS INT) AS label, COUNT(*) AS n_total
      FROM embeddings GROUP BY 1) t
LEFT JOIN (SELECT CAST(label AS INT) AS label, COUNT(*) AS n_surv
           FROM surv GROUP BY 1) s ON s.label = t.label
LEFT JOIN (SELECT CAST(label AS INT) AS label, COUNT(*) AS n_samp
           FROM sampled GROUP BY 1) p ON p.label = t.label
ORDER BY 1
"""


@register("pipeline_semantic_curation", oracle=_CURATION_ORACLE,
          tags=("dedup", "embedding", "pipeline", "mlprep"))
def pipeline_semantic_curation(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """The embedding-side curation funnel end to end, under ONE oracle —
    the vector counterpart of pipeline_pretrain: (1) semantic dedup
    (sign-LSH keep-first at cosine 0.45), (2) cluster-capped diversity
    sampling (<= 10 per cluster by md5 rank) over the SURVIVORS,
    (3) the per-cluster funnel report n_total -> n_survivors ->
    n_sampled. Every stage is the registered operator itself, not a
    re-implementation, so this is the composition a corpus build would
    run — and DuckDB replays the full funnel (planes, candidates,
    residual, anti-join, capped window, report joins)."""
    from ..operators.dedup import signlsh_pairs
    e = load_table(spark, sf_dir, "embeddings")
    losers = (signlsh_pairs(e, threshold=0.45, dim=64,
                            bits_per_band=3, n_bands=12)
              .select(F.col("id_b").alias("vec_id"))
              .distinct())
    surv = (e.join(losers, "vec_id", "left_anti")
            .select("vec_id", F.col("label").cast("int").alias("label")))
    w = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id")
    sampled = (surv.withColumn("_rn", F.row_number().over(w))
               .filter(F.col("_rn") <= 10)
               .select("vec_id", "label"))
    total = (e.groupBy(F.col("label").cast("int").alias("label"))
             .agg(F.count(F.lit(1)).alias("n_total")))
    n_surv = surv.groupBy("label").agg(F.count(F.lit(1)).alias("_ns"))
    n_samp = sampled.groupBy("label").agg(F.count(F.lit(1)).alias("_np"))
    return (total.join(n_surv, "label", "left")
            .join(n_samp, "label", "left")
            .select("label", "n_total",
                    F.coalesce("_ns", F.lit(0)).cast("long")
                     .alias("n_survivors"),
                    F.coalesce("_np", F.lit(0)).cast("long")
                     .alias("n_sampled"))
            .orderBy("label"))


_SIGNLSH_CLUSTER_ORACLE = f"""
WITH RECURSIVE {_SIGNLSH_CAND},
pairs AS (SELECT c.id_a, c.id_b
          FROM cand c
          JOIN embeddings ea ON ea.vec_id = c.id_a
          JOIN embeddings eb ON eb.vec_id = c.id_b
          WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                       CAST(eb.embedding AS DOUBLE[]))
                >= 0.45),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach AS (
  SELECT id AS src, id AS dst FROM nodes
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS vec_id, CAST(MIN(dst) AS BIGINT) AS cluster_id
FROM reach GROUP BY src
ORDER BY 1
"""


@register("dedup_embedding_lsh_cluster", oracle=_SIGNLSH_CLUSTER_ORACLE,
          tags=("dedup", "embedding", "iterative"))
def dedup_embedding_lsh_cluster(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Semantic near-dup CLUSTERING: connected components over the
    sign-LSH pair set (cosine >= 0.45), each member mapped to its
    component's canonical (minimum) id — the cluster-representative
    policy, vs keep-first's pairwise rule (they differ on chains:
    a-c, b-c with a<b<c keeps {a,b} under keep-first but canonicalizes
    all three to a here). Spark runs the connected-components
    operator; the oracle closes the same edges with a recursive
    transitive-closure CTE — the identical cross-check shape as
    dedup_cluster, now on the embedding side."""
    from ..operators.dedup import connected_components, signlsh_pairs
    e = load_table(spark, sf_dir, "embeddings")
    pairs = signlsh_pairs(e, threshold=0.45, dim=64,
                          bits_per_band=3, n_bands=12)
    return (connected_components(pairs, a_col="id_a", b_col="id_b")
            .select(F.col("doc_id").alias("vec_id"), "cluster_id")
            .orderBy("vec_id"))
