"""Structural streaming assertions that the oracle gate can't express:
micro-batch counts and watermark drop metrics (SURVEY.md §2.9)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from .conftest import TEST_SF_DIR


def test_late_data_dropped_across_micro_batches(spark):
    # stream_late_data must (a) run >= 2 non-empty micro-batches,
    # (b) drop exactly the staged late rows via the watermark, and
    # (c) still match its closed-form oracle (checked by test_oracle).
    from integrator_spark.io import load_table
    from integrator_spark.registry import get_queries
    from integrator_spark.streaming import jobs

    result = get_queries()["stream_late_data"](spark, TEST_SF_DIR)
    emitted = result.agg(F.sum("n_events")).collect()[0][0]

    e = load_table(spark, TEST_SF_DIR, "events")
    mx = e.agg(F.max("ts")).collect()[0][0]
    n_late = e.filter(
        (F.col("event_id") % jobs.LATE_MOD == 0)
        & (F.col("ts") < F.lit(mx) - F.expr(f"INTERVAL {jobs.LATE_HOURS} HOURS"))
    ).count()
    assert n_late > 0, "fixture must stage a non-empty late batch"

    progresses = jobs.LAST_RUN_PROGRESS
    fed = [p for p in progresses if p.numInputRows > 0]
    assert len(fed) >= 3, "late file must arrive in its own micro-batch"
    dropped = sum(op.numRowsDroppedByWatermark
                  for p in progresses for op in p.stateOperators)
    assert dropped == n_late
    # emitted rows cover only on-time rows in watermark-closed windows
    total = e.count()
    assert emitted < total - n_late          # open tail windows withheld
    assert emitted > 0


def test_stream_stateful_tws_gate_or_equivalence(spark):
    # Where the TWS protobuf worker exists, the port must equal the
    # applyInPandasWithState implementation exactly; where it doesn't
    # (this container), the gate must raise a clear NotImplementedError
    # rather than crash the JVM mid-query.
    import pytest

    from integrator_spark.registry import get_queries
    from integrator_spark.streaming.jobs import stream_stateful_tws, tws_available

    if not tws_available():
        with pytest.raises(NotImplementedError, match="protobuf"):
            stream_stateful_tws(spark, TEST_SF_DIR)
        return
    old = get_queries()["stream_stateful"](spark, TEST_SF_DIR)
    new = stream_stateful_tws(spark, TEST_SF_DIR)
    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert key(old) == key(new)


def test_stream_soak_restart_exactly_once(spark):
    # Rate-source soak with a mid-run checkpoint restart: the run's
    # invariants must hold — the committed union of both phases is
    # exactly {0..max} (no loss at the stop point, no dupes from the
    # replayed in-flight batch), phase 2 verifiably resumed from the
    # phase-1 checkpoint, and the volume target was reached.
    from integrator_spark.streaming.jobs import stream_soak

    row = stream_soak(spark, TEST_SF_DIR).collect()[0]
    assert row["contiguous"] == 1
    assert row["n_dupes"] == 0
    assert row["resumed_from_checkpoint"] == 1
    assert row["target_reached"] == 1


def test_stream_semantic_dedup_equals_batch_keep(spark):
    # The streamed (5 id-ordered micro-batches) survivor set must equal
    # the batch keep-first query byte for byte — the id-ordered arrival
    # + whole-batch seen-store append is exactly what makes the
    # incremental pipeline reproduce the batch contract.
    from integrator_spark.registry import all_specs
    sf = "/root/testdata/sf0.01"
    streamed = (all_specs()["stream_semantic_dedup"].fn(spark, sf)
                .collect())
    batch = (all_specs()["dedup_embedding_lsh_keep"].fn(spark, sf)
             .orderBy("vec_id").collect())
    assert [(r.vec_id, r.label) for r in streamed] \
        == [(r.vec_id, int(r.label)) for r in batch]


def test_semdedup_batch_replay_is_idempotent(spark, tmp_path):
    # Crash-replay contract (r7 advisor, medium): when a batch is
    # replayed, its OWN already-written seen/band partitions are on
    # disk — the probe must read only batch ids strictly below it, or
    # every replayed vector self-pairs (cos = 1), becomes a loser, and
    # the replayed output partition is rewritten EMPTY. Replay must
    # reproduce the original survivors byte-for-byte.
    from pyspark.sql import functions as F

    from integrator_spark.io import load_table
    from integrator_spark.streaming.jobs import _semdedup_process_batch

    e = load_table(spark, TEST_SF_DIR, "embeddings").filter(
        F.col("vec_id") < 60)
    b0 = e.filter(F.col("vec_id") < 30)
    b1 = e.filter(F.col("vec_id") >= 30)
    seen, bands, out = (str(tmp_path / d) for d in ("seen", "bands", "out"))
    _semdedup_process_batch(b0, 0, seen, bands, out)
    _semdedup_process_batch(b1, 1, seen, bands, out)

    def read_out():
        return sorted((r.vec_id, r.label)
                      for r in spark.read.parquet(out + "/batch=*")
                      .collect())

    want = read_out()
    assert len(want) > 0
    # Replay batch 1 with its own state partitions already present.
    _semdedup_process_batch(b1, 1, seen, bands, out)
    assert read_out() == want
    assert spark.read.parquet(out + "/batch=1").count() > 0


def test_semdedup_compaction_preserves_survivors(spark, tmp_path):
    # semdedup_compact_stores collapses prior batch partitions into one
    # (named batch=N-1, keeping the strictly-below probe protocol
    # valid); the next batch's survivors must be byte-identical to the
    # uncompacted path, and the parquet file count must drop.
    from pyspark.sql import functions as F

    from integrator_spark.io import load_table
    from integrator_spark.streaming.jobs import (
        _semdedup_process_batch,
        semdedup_compact_stores,
    )

    e = load_table(spark, TEST_SF_DIR, "embeddings").filter(
        F.col("vec_id") < 90)
    batches = [e.filter((F.col("vec_id") >= 30 * i)
                        & (F.col("vec_id") < 30 * (i + 1)))
               for i in range(3)]

    def count_files(*dirs):
        import os
        return sum(1 for d in dirs for _r, _d, fs in os.walk(d)
                   for f in fs if f.endswith(".parquet"))

    outs = {}
    for variant in ("raw", "compacted"):
        seen, bands, out = (str(tmp_path / variant / d)
                            for d in ("seen", "bands", "out"))
        _semdedup_process_batch(batches[0], 0, seen, bands, out)
        _semdedup_process_batch(batches[1], 1, seen, bands, out)
        if variant == "compacted":
            before = count_files(seen, bands)
            after = semdedup_compact_stores(spark, seen, bands,
                                            upto_batch=2, n_files=1)
            assert after < before
        _semdedup_process_batch(batches[2], 2, seen, bands, out)
        outs[variant] = sorted(
            (r.vec_id, r.label)
            for r in spark.read.parquet(out + "/batch=*").collect())
    assert outs["raw"] == outs["compacted"] and len(outs["raw"]) > 0


def test_semdedup_tiered_autocompaction_preserves_survivors(spark, tmp_path):
    # Round-9 in-stream tiered compaction (compact_every=N inside the
    # foreachBatch body): at every Nth batch only the newest tier of
    # raw partitions merges (since_batch=batch_id-N), older segments
    # untouched; a replayed compacting batch is a no-op. Survivors of
    # a 6-batch drain must be byte-identical to the no-compaction
    # control, and replaying the compacting batch must reproduce its
    # partition exactly.
    from pyspark.sql import functions as F

    from integrator_spark.io import load_table
    from integrator_spark.streaming.jobs import _semdedup_process_batch

    e = load_table(spark, TEST_SF_DIR, "embeddings").filter(
        F.col("vec_id") < 120)
    batches = [e.filter((F.col("vec_id") >= 20 * i)
                        & (F.col("vec_id") < 20 * (i + 1)))
               for i in range(6)]
    outs = {}
    for variant, ce in (("control", None), ("tiered", 2)):
        seen, bands, out = (str(tmp_path / variant / d)
                            for d in ("seen", "bands", "out"))
        for i, b in enumerate(batches):
            _semdedup_process_batch(b, i, seen, bands, out,
                                    compact_every=ce)
        outs[variant] = sorted(
            (r.vec_id, r.label)
            for r in spark.read.parquet(out + "/batch=*").collect())
    assert outs["control"] == outs["tiered"] and len(outs["control"]) > 0
    # Replay batch 4 (a compacting batch: 4 % 2 == 0) on the tiered
    # store — compaction must no-op and survivors stay identical.
    seen, bands, out = (str(tmp_path / "tiered" / d)
                        for d in ("seen", "bands", "out"))
    before = sorted((r.vec_id, r.label) for r in
                    spark.read.parquet(out + "/batch=4").collect())
    _semdedup_process_batch(batches[4], 4, seen, bands, out,
                            compact_every=2)
    after = sorted((r.vec_id, r.label) for r in
                   spark.read.parquet(out + "/batch=4").collect())
    assert after == before


def test_stream_custom_source_multi_batch(spark):
    """The rate-limited Python streaming source must drain over
    MULTIPLE micro-batches (shardsPerTrigger=2 over 6 shards → ≥3
    batches with input rows), and the streamed running aggregate must
    equal the batch aggregate over the same staged records."""
    from integrator_spark.io import load_table
    from integrator_spark.streaming import jobs

    sf = "/root/testdata/sf0.001"
    out = jobs.stream_custom_source(spark, sf)
    got = {(r.bucket, r.n_events, round(r.total_value, 6))
           for r in out.collect()}
    e = load_table(spark, sf, "events")
    from pyspark.sql import functions as F

    from integrator_spark.functions.num import dsum
    want = {(r.bucket, r.n_events, round(r.total_value, 6))
            for r in e.groupBy((F.col("user_id") % 8).cast("long")
                               .alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 dsum("value").alias("total_value")).collect()}
    assert got == want
    fed = [p for p in jobs.LAST_RUN_PROGRESS
           if p["numInputRows"] > 0]
    assert len(fed) >= 3, f"expected ≥3 rate-limited batches, got {fed}"


def test_binrec_stream_reader_offsets(tmp_path):
    """Offset math of the streaming reader, no session needed:
    partitions(start, end) slices sorted shard names; latestOffset
    honors shardsPerTrigger per call."""
    from integrator_spark.sources.binrec import BinRecStreamReader

    d = tmp_path / "shards"
    d.mkdir()
    for i in range(5):
        (d / f"s{i}.bin").write_bytes(b"")
    r = BinRecStreamReader({"path": str(d), "shardsPerTrigger": "2"})
    assert r.initialOffset() == {"shard": 0}
    assert r.latestOffset() == {"shard": 2}
    assert r.latestOffset() == {"shard": 4}
    assert r.latestOffset() == {"shard": 5}
    assert r.latestOffset() == {"shard": 5}
    parts = r.partitions({"shard": 2}, {"shard": 4})
    assert [p.path.rsplit("/", 1)[1] for p in parts] == ["s2.bin", "s3.bin"]
    unlimited = BinRecStreamReader({"path": str(d)})
    assert unlimited.latestOffset() == {"shard": 5}

    # Checkpoint restart: a FRESH instance learns the committed
    # position from the engine's partitions()/commit() replay, so
    # latestOffset can never move backwards past the restart offset
    # (ADVICE round 8 — the in-memory counter used to restart at 0).
    restarted = BinRecStreamReader({"path": str(d),
                                    "shardsPerTrigger": "2"})
    restarted.partitions({"shard": 3}, {"shard": 4})
    assert restarted.latestOffset() == {"shard": 5}, \
        "latestOffset fell behind the restart offset"
    committed = BinRecStreamReader({"path": str(d),
                                    "shardsPerTrigger": "1"})
    committed.commit({"shard": 4})
    assert committed.latestOffset() == {"shard": 5}


def test_stateful_streams_identical_under_rocksdb(spark):
    """Round-10 verdict item 4: the RocksDB state-store provider (the
    production posture for large streaming state) must be a pure
    conf swap — byte-identical output across the stateful operator
    family: merging session windows, watermark dedup, and
    applyInPandasWithState arbitrary state."""
    from integrator_spark.registry import get_queries

    qs = get_queries()
    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = ("org.apache.spark.sql.execution.streaming.state."
             "RocksDBStateStoreProvider")
    old = spark.conf.get(key)
    for name in ("stream_session", "stream_dedup", "stream_stateful"):
        want = sorted(map(tuple, qs[name](spark, TEST_SF_DIR).collect()))
        assert len(want) > 0, name
        spark.conf.set(key, rocks)
        try:
            got = sorted(map(tuple, qs[name](spark, TEST_SF_DIR).collect()))
        finally:
            spark.conf.set(key, old)
        assert got == want, f"{name}: RocksDB output diverged"
    # The registered twin itself matches the default-provider original
    # and leaves the session conf untouched.
    twin = sorted(map(tuple,
                      qs["stream_session_rocksdb"](spark, TEST_SF_DIR)
                      .collect()))
    base = sorted(map(tuple,
                      qs["stream_session"](spark, TEST_SF_DIR).collect()))
    assert twin == base
    assert spark.conf.get(key) == old


def test_binrec_clean_restart_progress_file(tmp_path):
    """Round-10 ADVICE (medium): after a CLEAN restart the engine's
    first call on the fresh reader is latestOffset() directly
    (measured: it even precedes initialOffset on brand-new queries),
    so an in-memory base of 0 would return an offset BEHIND the
    committed start — the backwards end gets logged and
    already-processed shards are re-read. The durable fix: commit()
    persists the floor to the optional progressFile and a fresh
    reader caps from it — never backwards, still rate-limited."""
    import os

    from integrator_spark.sources.binrec import BinRecStreamReader

    d = tmp_path / "shards"
    d.mkdir()
    for i in range(9):
        (d / f"s{i}.bin").write_bytes(b"")
    pf = str(tmp_path / "progress")

    # First query run: drains rate-limited, commits up to 4.
    r = BinRecStreamReader({"path": str(d), "shardsPerTrigger": "2",
                            "progressFile": pf})
    assert r.initialOffset() == {"shard": 0}
    assert r.latestOffset() == {"shard": 2}
    assert r.latestOffset() == {"shard": 4}
    r.commit({"shard": 4})
    assert os.path.exists(pf)

    # Clean restart: FRESH instance, engine calls latestOffset first.
    fresh = BinRecStreamReader({"path": str(d), "shardsPerTrigger": "2",
                                "progressFile": pf})
    got = fresh.latestOffset()
    assert got["shard"] >= 4, \
        f"latestOffset {got} behind the committed start 4 — duplicates"
    assert got == {"shard": 6}   # capped FROM the committed floor

    # Without the file a fresh query still caps correctly from 0.
    bare = BinRecStreamReader({"path": str(d), "shardsPerTrigger": "2"})
    assert bare.latestOffset() == {"shard": 2}
    # A corrupt progress file degrades to base 0, never crashes.
    (tmp_path / "bad").write_text("not-a-number")
    corrupt = BinRecStreamReader({"path": str(d), "shardsPerTrigger": "2",
                                  "progressFile": str(tmp_path / "bad")})
    assert corrupt.latestOffset() == {"shard": 2}


def test_semdedup_compaction_crash_recovery(spark, tmp_path):
    """Round-10 ADVICE (medium): a crash MID-DELETE inside
    semdedup_compact_stores used to lose state-store rows — some raw
    partitions already gone while the staged _compacting_* dir (the
    only complete copy) was ignored by probes AND deleted on the next
    attempt. Now a _COVERED.json manifest certifies the stage, and
    recovery promotes it when any covered raw is missing / discards it
    only when every covered raw still exists. Survivors after each
    crash window must equal the no-compaction control."""
    import json
    import os
    import shutil

    from pyspark.sql import functions as F

    from integrator_spark.io import load_table
    from integrator_spark.streaming.jobs import (
        _semdedup_process_batch,
        _semdedup_recover_staged,
    )

    e = load_table(spark, TEST_SF_DIR, "embeddings").filter(
        F.col("vec_id") < 90)
    batches = [e.filter((F.col("vec_id") >= 30 * i)
                        & (F.col("vec_id") < 30 * (i + 1)))
               for i in range(3)]

    def run(variant, crash=None):
        seen, bands, out = (str(tmp_path / variant / d)
                            for d in ("seen", "bands", "out"))
        _semdedup_process_batch(batches[0], 0, seen, bands, out)
        _semdedup_process_batch(batches[1], 1, seen, bands, out)
        if crash:
            for store in (seen, bands):
                prior = sorted(
                    os.path.join(store, f) for f in os.listdir(store)
                    if f.startswith("batch="))
                tmp = os.path.join(store, "_compacting_1")
                if crash == "mid_stage":
                    # Crash DURING the staged write: dir exists, no
                    # manifest yet → raws stay authoritative.
                    os.makedirs(tmp)
                    with open(os.path.join(tmp, "part-torn.parquet"),
                              "wb") as fh:
                        fh.write(b"\x00torn")
                else:
                    spark.read.parquet(*prior).coalesce(1) \
                        .write.parquet(tmp)
                    with open(os.path.join(tmp, "_COVERED.json"),
                              "w") as fh:
                        json.dump([os.path.basename(p) for p in prior],
                                  fh)
                    if crash == "mid_delete":
                        # Crash AFTER deleting one covered raw: the
                        # stage is the only complete copy → promote.
                        shutil.rmtree(prior[0])
                    # crash == "pre_delete": all raws intact → discard.
        _semdedup_process_batch(batches[2], 2, seen, bands, out)
        return sorted(
            (r.vec_id, r.label)
            for r in spark.read.parquet(out + "/batch=*").collect())

    control = run("control")
    assert len(control) > 0
    for crash in ("mid_stage", "pre_delete", "mid_delete"):
        assert run(crash, crash=crash) == control, crash
        for store in ("seen", "bands"):
            d = str(tmp_path / crash / store)
            leftover = [f for f in os.listdir(d)
                        if f.startswith("_compacting_")]
            assert leftover == [], (crash, store, leftover)

    # Unit check on the adjudicator: promotion rebuilds the covered
    # row set exactly (surviving covered raws are deleted as strict
    # subsets of the promoted segment).
    store = str(tmp_path / "unit")
    spark.range(10).write.parquet(os.path.join(store, "batch=0"))
    spark.range(10, 25).write.parquet(os.path.join(store, "batch=1"))
    tmp = os.path.join(store, "_compacting_1")
    spark.read.parquet(os.path.join(store, "batch=*")) \
        .coalesce(1).write.parquet(tmp)
    with open(os.path.join(tmp, "_COVERED.json"), "w") as fh:
        json.dump(["batch=0", "batch=1"], fh)
    shutil.rmtree(os.path.join(store, "batch=0"))
    _semdedup_recover_staged(store)
    assert sorted(os.listdir(store)) == ["batch=1"]
    got = sorted(r.id for r in
                 spark.read.parquet(os.path.join(store, "batch=1"))
                 .collect())
    assert got == list(range(25))


def test_stream_pattern_match_equals_batch_face(spark):
    """The streaming state-machine face must equal the batch
    (collected-sequence) face row-for-row — same users, same strict
    counts, same error runs, same funnel flag. This is the cross-face
    gate on top of the shared oracle."""
    from integrator_spark.registry import all_specs

    specs = all_specs()
    stream = sorted(tuple(r) for r in
                    specs["stream_pattern_match"].fn(
                        spark, TEST_SF_DIR).collect())
    batch = sorted(tuple(r) for r in
                   specs["events_pattern_match"].fn(
                       spark, TEST_SF_DIR).collect())
    assert stream == batch and len(stream) > 0


def test_pattern_fold_batch_split_invariance():
    """pattern_fold folded over ANY ordered split sequence equals the
    single-pass fold — the property that makes stream_pattern_match's
    emitted state independent of micro-batch boundaries. Fuzzed over
    random sequences and random split points, including splits inside
    a 'vcp' match and inside an error run (the two carried contexts)."""
    import random

    from integrator_spark.streaming.jobs import pattern_fold

    rng = random.Random(7)
    init = (0, 0, 0, 0, "", 0)
    for _ in range(300):
        seq = [rng.choice("vcpse") for _ in range(rng.randint(0, 60))]
        whole = pattern_fold(init, seq)
        cuts = sorted(rng.sample(range(len(seq) + 1),
                                 rng.randint(0, min(5, len(seq)))))
        st = init
        prev = 0
        for cut in cuts + [len(seq)]:
            st = pattern_fold(st, seq[prev:cut])
            prev = cut
        assert st == whole, (seq, cuts, st, whole)


def test_imgdedup_batch_replay_is_idempotent(spark, tmp_path):
    # Same crash-replay contract as the semantic face: a replayed
    # batch's own codes/chunks partitions are already on disk; probes
    # read strictly-below batch ids only, else every replayed image
    # self-pairs (hamming 0) and the output partition rewrites empty.
    from pyspark.sql import functions as F

    from integrator_spark.io import load_table
    from integrator_spark.streaming.jobs import _imgdedup_process_batch

    # split chosen so batch 1 holds BOTH kinds: docs 20-36 introduce
    # new pattern groups (survivors) and 37-56 rejoin batch-0 groups
    # (losers) — a replay that self-pairs would empty the partition.
    d = load_table(spark, TEST_SF_DIR, "documents").select(
        "doc_id").filter(F.col("doc_id") < 57)
    b0 = d.filter(F.col("doc_id") < 20)
    b1 = d.filter(F.col("doc_id") >= 20)
    codes, chunks, out = (str(tmp_path / p)
                          for p in ("codes", "chunks", "out"))
    _imgdedup_process_batch(b0, 0, codes, chunks, out)
    _imgdedup_process_batch(b1, 1, codes, chunks, out)

    def read_out():
        return sorted(r.doc_id for r in
                      spark.read.parquet(out + "/batch=*").collect())

    want = read_out()
    assert want == list(range(37))  # exactly one keeper per group
    _imgdedup_process_batch(b1, 1, codes, chunks, out)
    assert read_out() == want
    assert spark.read.parquet(out + "/batch=1").count() > 0


def test_urldedup_batch_replay_is_idempotent(spark, tmp_path):
    # Crawl-frontier crash-replay contract: a replayed batch's own
    # frontier partition is already on disk; probes read strictly-
    # below batch ids only, else every replayed doc's canonical URL
    # self-matches and the output partition rewrites empty.
    from pyspark.sql import functions as F

    from integrator_spark.io import load_table
    from integrator_spark.streaming.jobs import _urldedup_process_batch

    # batch 1 (docs 40-79) repeats every canonical class batch 0
    # introduced (classes are doc_id % 40), so ALL of batch 1 are
    # cross-batch losers — the case most sensitive to self-probing.
    d = load_table(spark, TEST_SF_DIR, "documents").select(
        "doc_id").filter(F.col("doc_id") < 80)
    b0 = d.filter(F.col("doc_id") < 40)
    b1 = d.filter(F.col("doc_id") >= 40)
    frontier, out = str(tmp_path / "frontier"), str(tmp_path / "out")
    _urldedup_process_batch(b0, 0, frontier, out)
    _urldedup_process_batch(b1, 1, frontier, out)

    def read_out():
        return sorted(r.doc_id for r in
                      spark.read.parquet(out + "/batch=*").collect())

    want = read_out()
    assert want == list(range(40))  # batch-0 firsts only
    _urldedup_process_batch(b1, 1, frontier, out)
    assert read_out() == want
    # frontier store carries batch 1's (identical) canon set
    assert spark.read.parquet(frontier + "/batch=1").count() == 40


def _recorded_state_partitions(name):
    """The state-partition count the last drain of ``name`` recorded in
    its checkpoint: the conf map of the first offset-log entry."""
    import json
    import os

    from integrator_spark.session import STATE_PARTITIONS_CONF
    from integrator_spark.streaming.jobs import LAST_STREAM_AUDITS

    ckpt = LAST_STREAM_AUDITS[name]["checkpoint"]
    with open(os.path.join(ckpt, "offsets", "0")) as fh:
        fh.readline()                       # log format version
        return json.loads(fh.readline())["conf"][STATE_PARTITIONS_CONF]


def test_fresh_checkpoint_sizes_state_to_the_cores(spark):
    """A new checkpoint records one state partition per core, also on a
    session that starts with Spark's default of 200 (as a driver-owned
    session does): ensure_runtime_confs sizes it before the first
    batch."""
    from integrator_spark.registry import get_queries
    from integrator_spark.session import STATE_PARTITIONS_CONF

    s = spark.newSession()
    s.conf.set(STATE_PARTITIONS_CONF, "200")
    assert get_queries()["stream_tumbling"](s, TEST_SF_DIR).count() > 0
    assert (_recorded_state_partitions("stream_tumbling")
            == str(spark.sparkContext.defaultParallelism))


def test_batch_shuffles_start_at_32_partitions(spark):
    """Per-core state partitions leave batch plans as they were: with
    AQE coalescing on, every batch Exchange starts from the 32 initial
    partitions, on our session and on a driver-owned one."""
    from integrator_spark.session import ensure_runtime_confs

    key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    for s in (spark, ensure_runtime_confs(spark.newSession())):
        assert s.conf.get(key) == "32"
        plan = (s.range(10).selectExpr("id % 3 AS k").groupBy("k").count()
                ._jdf.queryExecution().executedPlan().toString())
        assert re.search(r"hashpartitioning\(k#\d+L, 32\)", plan), plan


@pytest.mark.parametrize("name", ["stream_tumbling", "stream_dedup",
                                  "stream_join"])
def test_stream_result_independent_of_state_partitions(name, spark):
    """A stream's result must not depend on its state-partition count,
    which its checkpoint fixes at creation: each stateful drain runs in
    a fresh session at 3 and at 32 partitions (every drain gets a fresh
    checkpoint) and must return the same rows."""
    from integrator_spark.registry import get_queries
    from integrator_spark.session import (STATE_PARTITIONS_CONF,
                                          ensure_runtime_confs)
    from integrator_spark.testing import canonical_strings

    fn = get_queries()[name]
    runs = {}
    for n in ("3", "32"):
        s = ensure_runtime_confs(spark.newSession())
        s.conf.set(STATE_PARTITIONS_CONF, n)
        runs[n] = canonical_strings(fn(s, TEST_SF_DIR).toPandas())
        assert _recorded_state_partitions(name) == n
    assert runs["3"] and runs["3"] == runs["32"]
