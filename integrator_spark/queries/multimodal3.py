"""Video near-dup dedup — the fourth modality of the dedup matrix
(text MinHash / image dHash / audio envelope hash / embedding
sign-LSH), and the first one where a DOCUMENT is a SEQUENCE of
signatures rather than a single code: a video is near-duplicate when
(almost) all of its frames match the other video's frames at a
consistent temporal alignment.

Pipeline: synthesize one REAL RIFF AVI container per document
(avih/strl headers + a 'movi' LIST of raw bottom-up 24bpp DIB '00db'
frame chunks — the uncompressed-video layout real AVI writers emit),
decode it back with an honest RIFF walk (header for frame count and
dims, movi scan for the frames), dHash every frame with the SAME
pixel kernel as the image family (``multimodal2._dib_dhash``), then:

- aligned face: frame-aligned MIH radius join (the new ``align_cols``
  dial of ``mih_radius_pairs_codes`` — only same-frame_idx codes
  compare), count matched frames per video pair, keep pairs with
  >= n_frames - 1 matches (the at-most-one-corrupted-frame rule);
- trimmed face: temporal-alignment search over offsets in {-1, 0, 1}
  (a trimmed copy is the same video missing its first frame), best
  offset wins, threshold against min(n_frames) - 1.

Fixture geometry: frame j of doc d paints pattern
P(d) XOR salt(j) XOR corruptions, where P(d) is the image family's
37-group pattern (intra-group distance <= 4, inter-group >= 15) and
salt(j) is a per-frame-index mask SHARED by all docs — it cancels in
every aligned comparison, so aligned frame distances equal the image
family's and radius 6 separates groups frame-by-frame. Corruptions
(frame 0 when doc_id % 5 == 0, frame 1 when doc_id % 7 == 0) flip
22-30 doc-dependent bits (distinct masks >= 18 apart), pushing that
one frame past any radius — which is exactly what the
n_frames - 1 tolerance absorbs, and what makes docs hit by BOTH
corruptions (doc_id % 35 == 0) drop below threshold: the rule bites.
Frame count 4 + (doc_id % 37) % 3 is group-constant, so the
equal-length precondition of the aligned face holds intra-group.

Everything is closed-form, so every face is oracle-expressible:
DuckDB recomputes the per-(doc, frame) codes from doc_id alone and
brute-force joins with bit_count(xor()) — a header misparse, a frame
mis-split, a salt drift, or an incomplete candidate join all fail the
hash.

Scale posture: synth and decode are Arrow-batched mapInPandas
(payloads never leave the executor; a real codec drops in front of
the dHash kernel behind the same signature); the dedup side is the
chunk-keyed MIH join over (frame_idx, chunk) buckets — bucket
collisions, never corpus^2 — and per-video state is n_frames x 8 B of
codes, so the dedup side of a 100 TB video corpus is GBs. Sampling
every k-th frame (multimodal_frame_sample) composes in front of this
unchanged when frame counts are large.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..registry import register
from .multimodal2 import (_CHUNK_BITS, _N_CHUNKS, _RADIUS, _bmp_from_pattern,
                          _dib_dhash, _pattern_bits)

_V_W, _V_H, _V_CELL = 32, 32, 4   # 8x8 grid -> 56-bit frame dHash
_V_FRAMES_MAX = 6                 # n_frames = 4 + (doc_id % 37) % 3


def _n_frames_base(doc_id: int) -> int:
    return 4 + (doc_id % 37) % 3


def _frame_pattern(doc_id: int, jj: int) -> int:
    """Closed-form 56-bit pattern of CONTENT frame ``jj`` of doc
    ``doc_id`` (base group pattern XOR shared frame salt XOR
    doc-dependent corruptions). The DuckDB oracles recompute this
    same form bit by bit."""
    p = _pattern_bits(doc_id)
    for k in range(56):
        b = ((jj + 7) * (k + 5) * (k + 9)) % 61 < 31
        if doc_id % 5 == 0 and jj == 0:
            b ^= (((doc_id % 41) + 2) * (k + 13)) % 67 < 33
        if doc_id % 7 == 0 and jj == 1:
            b ^= (((doc_id % 43) + 5) * (k + 17)) % 71 < 35
        if b:
            p ^= 1 << k
    return p


def _chunk(fourcc: bytes, data: bytes) -> bytes:
    return (fourcc + struct.pack("<I", len(data)) + data
            + (b"\x00" if len(data) % 2 else b""))


def _list(kind: bytes, data: bytes) -> bytes:
    return _chunk(b"LIST", kind + data)


def _avi_container(frames: list[bytes], w: int, h: int) -> bytes:
    """A REAL RIFF AVI: MainAVIHeader + one 'vids'/'DIB ' stream
    (AVISTREAMHEADER + BITMAPINFOHEADER strf) + a 'movi' LIST of raw
    DIB '00db' frame chunks. Uncompressed-DIB AVI is a documented
    layout any AVI reader parses; no codec is involved."""
    n, fsz = len(frames), len(frames[0])
    avih = struct.pack("<14I", 40000, fsz * 25, 0, 0, n, 0, 1, fsz,
                       w, h, 0, 0, 0, 0)
    strh = (b"vids" + b"DIB "
            + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, 25, 0, n,
                          fsz, 0, 0)
            + struct.pack("<4h", 0, 0, w, h))
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, fsz,
                       2835, 2835, 0, 0)
    hdrl = _list(b"hdrl", _chunk(b"avih", avih)
                 + _list(b"strl", _chunk(b"strh", strh)
                         + _chunk(b"strf", strf)))
    movi = _list(b"movi", b"".join(_chunk(b"00db", f) for f in frames))
    return (b"RIFF" + struct.pack("<I", 4 + len(hdrl) + len(movi))
            + b"AVI " + hdrl + movi)


def _avi_from_doc(doc_id: int, trim: bool) -> bytes:
    """Paint doc ``doc_id``'s video: content frames [start, n) where a
    trimmed doc (trim corpus only, doc_id % 11 == 3) starts at content
    frame 1 — the same video missing its first frame."""
    n = _n_frames_base(doc_id)
    start = 1 if (trim and doc_id % 11 == 3) else 0
    frames = [_bmp_from_pattern(_frame_pattern(doc_id, jj))[54:]
              for jj in range(start, n)]
    return _avi_container(frames, _V_W, _V_H)


def _walk_chunks(buf: bytes):
    off = 0
    while off + 8 <= len(buf):
        fcc = buf[off:off + 4]
        size = struct.unpack("<I", buf[off + 4:off + 8])[0]
        yield fcc, buf[off + 8:off + 8 + size]
        off += 8 + size + (size & 1)


def _decode_avi(payload: bytes) -> tuple[int, int, list[bytes]]:
    """Honest RIFF walk: verify the RIFF/'AVI ' magic, read
    (total_frames, width, height) off the avih MainAVIHeader, collect
    the '00db'/'00dc' frame chunks out of the 'movi' LIST, and check
    the two frame counts agree. Returns (w, h, frames)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI")
    n = w = h = None
    frames: list[bytes] = []
    for fcc, data in _walk_chunks(payload[12:]):
        if fcc != b"LIST":
            continue
        kind, body = data[:4], data[4:]
        if kind == b"hdrl":
            for f2, d2 in _walk_chunks(body):
                if f2 == b"avih":
                    vals = struct.unpack("<14I", d2)
                    n, w, h = vals[4], vals[8], vals[9]
        elif kind == b"movi":
            frames = [d2 for f2, d2 in _walk_chunks(body)
                      if f2 in (b"00db", b"00dc")]
    if n is None or len(frames) != n:
        raise ValueError("bad AVI: avih/movi frame-count mismatch")
    return w, h, frames


def _make_synth_videos(trim: bool):
    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame({
                "doc_id": ids,
                "payload": [_avi_from_doc(int(d), trim) for d in ids]})
    return synth


def _frame_codes_stage(batches: Iterator[pd.DataFrame]
                       ) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        ids, fidx, nfr, codes = [], [], [], []
        for d, p in zip(pdf["doc_id"].astype("int64"), pdf["payload"]):
            w, h, frames = _decode_avi(p)
            for j, fr in enumerate(frames):
                ids.append(int(d))
                fidx.append(j)
                nfr.append(len(frames))
                codes.append(_dib_dhash(fr, w, h, _V_CELL))
        yield pd.DataFrame({
            "doc_id": pd.Series(ids, dtype="int64"),
            "frame_idx": pd.Series(fidx, dtype="int32"),
            "n_frames": pd.Series(nfr, dtype="int32"),
            "code": pd.Series(codes, dtype="int64")})


def video_frame_codes(spark: SparkSession, sf_dir: str,
                      trim: bool = False) -> DataFrame:
    """documents -> (doc_id, frame_idx, n_frames, code): AVI synth and
    decode+dHash as two Arrow-batched mapInPandas stages,
    localCheckpoint'd for the same reason as image_dhash_codes — the
    MIH consumer reads codes three times, and n_frames x 8 B of codes
    per video is the thing to keep, not the paint+decode stages to
    re-run."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    avis = d.mapInPandas(_make_synth_videos(trim),
                         "doc_id long, payload binary")
    return avis.mapInPandas(
        _frame_codes_stage,
        "doc_id long, frame_idx int, n_frames int, code long"
    ).localCheckpoint(eager=False)


def _vcodes_cte(trim: bool) -> str:
    """Closed-form recompute of the per-(doc, frame) 56-bit codes —
    the shared CTE head of every oracle in this module. Booleans are
    XOR-chained with ``!=``; content index jj shifts by one for
    trimmed docs so corruption masks follow the CONTENT, exactly as
    the painted frames do."""
    trimmed = "(d.doc_id % 11 = 3)" if trim else "FALSE"
    nf = (f"(4 + (d.doc_id % 37) % 3"
          f" - (CASE WHEN {trimmed} THEN 1 ELSE 0 END))")
    jj = f"(f.j + (CASE WHEN {trimmed} THEN 1 ELSE 0 END))"
    base = ("(((((d.doc_id % 37) + 5) * (t.k + 11) * (t.k + 3)"
            " + ((d.doc_id % 37) + 11) * ((d.doc_id % 37) + 3)"
            " * (t.k + 5)) % 83) < 41)")
    flip = ("(((d.doc_id % 3) >= 1 AND t.k = (d.doc_id // 37) % 56)"
            " OR ((d.doc_id % 3) >= 2"
            " AND t.k = ((d.doc_id // 37) + 13) % 56))")
    salt = f"((({jj} + 7) * (t.k + 5) * (t.k + 9)) % 61 < 31)"
    corr0 = (f"((d.doc_id % 5 = 0) AND {jj} = 0"
             f" AND (((d.doc_id % 41) + 2) * (t.k + 13)) % 67 < 33)")
    corr1 = (f"((d.doc_id % 7 = 0) AND {jj} = 1"
             f" AND (((d.doc_id % 43) + 5) * (t.k + 17)) % 71 < 35)")
    bit = f"(((({base} != {flip}) != {salt}) != {corr0}) != {corr1})"
    return f"""
vcodes AS (
  SELECT d.doc_id, f.j AS frame_idx,
         CAST({nf} AS INT) AS n_frames,
         CAST(SUM(CASE WHEN {bit}
                  THEN (1::BIGINT << t.k) ELSE 0 END) AS BIGINT) AS code
  FROM documents d
  CROSS JOIN (SELECT unnest(range(0, {_V_FRAMES_MAX})) AS j) f
  CROSS JOIN (SELECT unnest(range(0, 56)) AS k) t
  WHERE f.j < {nf}
  GROUP BY d.doc_id, f.j)
"""


@register("multimodal_video_dedup", oracle=f"""
WITH {_vcodes_cte(False)}
SELECT a.doc_id, b.doc_id AS dup_id,
       CAST(a.n_frames AS INT) AS n_frames,
       CAST(COUNT(*) AS BIGINT) AS matched_frames
FROM vcodes a JOIN vcodes b
  ON a.frame_idx = b.frame_idx AND a.doc_id < b.doc_id
 AND a.n_frames = b.n_frames
WHERE bit_count(xor(a.code, b.code)) <= {_RADIUS}
GROUP BY 1, 2, 3
HAVING COUNT(*) >= MIN(a.n_frames) - 1
ORDER BY 1, 2
""", tags=("multimodal", "video", "dedup", "neardup"))
def multimodal_video_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO near-duplicate detection end to end: real AVI synth ->
    real RIFF decode -> per-frame 56-bit dHash -> FRAME-ALIGNED MIH
    radius join (``align_cols=['frame_idx']`` — only same-index frames
    compare, so the chunk keyspace is (frame_idx, chunk) and temporal
    structure rides the bucket key for free) -> per-pair matched-frame
    count -> keep equal-length pairs matching on >= n_frames - 1
    frames (tolerate one corrupted/re-encoded frame). Output:
    (doc_id, dup_id, n_frames, matched_frames). The oracle recomputes
    every frame code in closed form and brute-force joins, so the
    indexed plan must return the IDENTICAL pair set."""
    from ..operators.dedup import mih_radius_pairs_codes
    codes = video_frame_codes(spark, sf_dir)
    fp = mih_radius_pairs_codes(
        codes.select("doc_id", "frame_idx", "code"),
        n_chunks=_N_CHUNKS, chunk_bits=_CHUNK_BITS, radius=_RADIUS,
        align_cols=["frame_idx"])
    m = fp.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("matched_frames"))
    nf = codes.filter(F.col("frame_idx") == 0).select("doc_id",
                                                      "n_frames")
    a_nf = nf.select(F.col("doc_id").alias("id_a"),
                     F.col("n_frames").alias("nf_a"))
    b_nf = nf.select(F.col("doc_id").alias("id_b"),
                     F.col("n_frames").alias("nf_b"))
    return (m.join(a_nf, "id_a").join(b_nf, "id_b")
            .filter((F.col("nf_a") == F.col("nf_b"))
                    & (F.col("matched_frames") >= F.col("nf_a") - 1))
            .select(F.col("id_a").alias("doc_id"),
                    F.col("id_b").alias("dup_id"),
                    F.col("nf_a").cast("int").alias("n_frames"),
                    F.col("matched_frames").cast("long")
                    .alias("matched_frames"))
            .orderBy("doc_id", "dup_id"))


@register("multimodal_video_dedup_incremental", oracle=f"""
WITH {_vcodes_cte(False)}
SELECT n.doc_id AS new_id, c.doc_id AS corpus_id,
       CAST(n.n_frames AS INT) AS n_frames,
       CAST(COUNT(*) AS BIGINT) AS matched_frames
FROM vcodes n JOIN vcodes c
  ON n.frame_idx = c.frame_idx AND n.n_frames = c.n_frames
 AND n.doc_id % 10 >= 8 AND c.doc_id % 10 < 8
WHERE bit_count(xor(n.code, c.code)) <= {_RADIUS}
GROUP BY 1, 2, 3
HAVING COUNT(*) >= MIN(n.n_frames) - 1
ORDER BY 1, 2
""", tags=("multimodal", "video", "dedup", "incremental"))
def multimodal_video_dedup_incremental(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """Incremental video-dedup ingest — the 80/20 crawl-batch shape on
    the frame-aligned index: each new video's (frame_idx, chunk) keys
    probe ONLY the corpus chunk index (batch-batch and corpus-corpus
    pairs never form), exact popcount on collisions, then the same
    equal-length / n_frames - 1 rule. Steady-state cost tracks the
    batch; the corpus index is append-only."""
    from ..operators.dedup import mih_radius_pairs_codes
    codes = video_frame_codes(spark, sf_dir)
    nf = codes.filter(F.col("frame_idx") == 0).select("doc_id",
                                                      "n_frames")
    batch_ids = nf.filter(F.col("doc_id") % 10 >= 8).select("doc_id")
    fp = mih_radius_pairs_codes(
        codes.select("doc_id", "frame_idx", "code"),
        n_chunks=_N_CHUNKS, chunk_bits=_CHUNK_BITS, radius=_RADIUS,
        probe_ids=batch_ids, align_cols=["frame_idx"])
    m = fp.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("matched_frames"))
    a_nf = nf.select(F.col("doc_id").alias("id_a"),
                     F.col("n_frames").alias("nf_a"))
    b_nf = nf.select(F.col("doc_id").alias("id_b"),
                     F.col("n_frames").alias("nf_b"))
    return (m.join(a_nf, "id_a").join(b_nf, "id_b")
            .filter((F.col("nf_a") == F.col("nf_b"))
                    & (F.col("matched_frames") >= F.col("nf_a") - 1))
            .select(F.col("id_a").alias("new_id"),
                    F.col("id_b").alias("corpus_id"),
                    F.col("nf_a").cast("int").alias("n_frames"),
                    F.col("matched_frames").cast("long")
                    .alias("matched_frames"))
            .orderBy("new_id", "corpus_id"))


def _offset_radius_frame_pairs(codes: DataFrame,
                               max_off: int = 1) -> DataFrame:
    """Frame-level radius pairs with TEMPORAL TOLERANCE: the same MIH
    chunk inverted index as the aligned face, but candidates only
    need |frame_b - frame_a| <= max_off (the chunk-value equality
    stays the bucket key; the offset bound is a post-join filter on
    the bucket, so cost still tracks chunk collisions x (2*max_off+1),
    never corpus^2). Output: (id_a, fa, id_b, fb, hamming) exact."""
    from ..operators.dedup import chunk_rows
    idx = chunk_rows(codes, _N_CHUNKS, _CHUNK_BITS,
                     keep=["doc_id", "frame_idx"])
    b = idx.select(F.col("doc_id").alias("id_b"),
                   F.col("frame_idx").alias("fb"), "c", "chunk_val")
    cand = (idx.join(b, ["c", "chunk_val"])
            .filter((F.col("doc_id") < F.col("id_b"))
                    & (F.col("fb") - F.col("frame_idx"))
                    .between(-max_off, max_off))
            .select(F.col("doc_id").alias("id_a"),
                    F.col("frame_idx").alias("fa"), "id_b", "fb")
            .distinct())
    ca = codes.select(F.col("doc_id").alias("id_a"),
                      F.col("frame_idx").alias("fa"),
                      F.col("code").alias("_ca"))
    cb = codes.select(F.col("doc_id").alias("id_b"),
                      F.col("frame_idx").alias("fb"),
                      F.col("code").alias("_cb"))
    return (cand.join(ca, ["id_a", "fa"]).join(cb, ["id_b", "fb"])
            .withColumn("hamming",
                        F.bit_count(F.col("_ca").bitwiseXOR(F.col("_cb")))
                        .cast("int"))
            .filter(F.col("hamming") <= _RADIUS)
            .select("id_a", "fa", "id_b", "fb", "hamming"))


@register("multimodal_video_dedup_trimmed", oracle=f"""
WITH {_vcodes_cte(True)},
fm AS (
  SELECT a.doc_id, b.doc_id AS dup_id,
         b.frame_idx - a.frame_idx AS off,
         LEAST(a.n_frames, b.n_frames) AS min_nf,
         COUNT(*) AS m
  FROM vcodes a JOIN vcodes b
    ON a.doc_id < b.doc_id
   AND b.frame_idx - a.frame_idx BETWEEN -1 AND 1
  WHERE bit_count(xor(a.code, b.code)) <= {_RADIUS}
  GROUP BY 1, 2, 3, 4),
sel AS (
  SELECT doc_id, dup_id, off, m, min_nf,
         MAX(m) OVER (PARTITION BY doc_id, dup_id) AS mx
  FROM fm)
SELECT doc_id, dup_id,
       CAST(MIN(off) AS INT) AS best_off,
       CAST(mx AS BIGINT) AS matched_frames
FROM sel WHERE m = mx AND mx >= min_nf - 1
GROUP BY doc_id, dup_id, mx
ORDER BY 1, 2
""", tags=("multimodal", "video", "dedup", "neardup"))
def multimodal_video_dedup_trimmed(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """TRIM-TOLERANT video dedup — the alignment-search face: the
    corpus contains trimmed copies (doc_id % 11 == 3 videos are
    missing their first frame), so a strict frame_idx join misses them
    entirely. Candidates instead allow |frame offset| <= 1 through the
    chunk index, matched frames are counted PER OFFSET, the best
    offset wins (ties to the smallest, deterministic), and a pair
    survives at matched >= min(n_frames) - 1. A trimmed copy matches
    its full original at offset -1 on every shared frame — exactly the
    shifted-content geometry the fixture paints. Output:
    (doc_id, dup_id, best_off, matched_frames)."""
    codes = video_frame_codes(spark, sf_dir, trim=True)
    pairs = _offset_radius_frame_pairs(codes, max_off=1)
    fm = (pairs.withColumn("off", F.col("fb") - F.col("fa"))
          .groupBy("id_a", "id_b", "off")
          .agg(F.count(F.lit(1)).alias("m")))
    mx = fm.groupBy("id_a", "id_b").agg(
        F.max("m").alias("matched_frames"))
    best = (fm.join(mx, ["id_a", "id_b"])
            .filter(F.col("m") == F.col("matched_frames"))
            .groupBy("id_a", "id_b", "matched_frames")
            .agg(F.min("off").cast("int").alias("best_off")))
    nf = codes.filter(
        (F.col("frame_idx") == 0)).select("doc_id", "n_frames")
    a_nf = nf.select(F.col("doc_id").alias("id_a"),
                     F.col("n_frames").alias("nf_a"))
    b_nf = nf.select(F.col("doc_id").alias("id_b"),
                     F.col("n_frames").alias("nf_b"))
    return (best.join(a_nf, "id_a").join(b_nf, "id_b")
            .filter(F.col("matched_frames")
                    >= F.least("nf_a", "nf_b") - 1)
            .select(F.col("id_a").alias("doc_id"),
                    F.col("id_b").alias("dup_id"), "best_off",
                    F.col("matched_frames").cast("long")
                    .alias("matched_frames"))
            .orderBy("doc_id", "dup_id"))
