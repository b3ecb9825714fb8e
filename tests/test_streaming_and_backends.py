"""Structured Streaming driver, checkpoint-store resume,
config ini surface, diagnostics."""

import os

from pyspark.sql import functions as F

from drain3_spark import fixtures as FX
from drain3_spark.config import EngineConfig
from drain3_spark.state.store import CheckpointStore
from drain3_spark.streaming import run_streaming


def test_streaming_equals_batch(spark, tmp_path):
    """Files arriving as a stream produce the same final cluster state,
    and the same per-clip cluster id, template and change type, as one
    batch run (batch/stream symmetry, SURVEY.md §2.B streaming row) on a
    corpus whose clusters merge templates across micro-batches."""
    import time

    clips = FX.gen_clips(spark, 90, n_ds=3, dur_lo=200, dur_hi=400).cache()
    src = str(tmp_path / "incoming")
    # the file source orders files by mtime: explicit increasing mtimes
    # keep one micro-batch per ds, in ds order
    base = time.time()
    for j, ds in enumerate(("2026-08-01", "2026-08-02", "2026-08-03")):
        path = f"{src}/f_{ds}"
        clips.filter(F.col("ds") == ds).coalesce(1) \
            .write.mode("overwrite").parquet(path)
        for root, _dirs, files in os.walk(path):
            for fn in files:
                os.utime(os.path.join(root, fn), (base + j, base + j))

    schema = clips.schema
    run = run_streaming(
        spark, f"{src}/f_*", schema,
        state_dir=str(tmp_path / "state"), out_dir=str(tmp_path / "out"),
        cfg=EngineConfig(), validate=True, max_files_per_trigger=1)
    store = run.store
    # availableNow run stopped + flushed inside run_streaming; the handle
    # still exposes query/processor for continuous callers
    assert not run.query.isActive and callable(run.processor.flush)
    hw, rows, counter, key = store.latest(spark)
    assert hw is not None and key.startswith("stream-")

    from drain3_spark.operators.mining import mine_templates
    batch = mine_templates(clips, EngineConfig(mining_salt=1))
    want = {(r.group_key, r.template, r.size) for r in batch.clusters.collect()}
    got = {(r[1], r[3], r[4]) for r in rows}
    assert got == want

    def per_clip(df):
        return {r.clip_id: (r.cluster_id, r.template_mined, r.change_type)
                for r in df.collect()}

    streamed = per_clip(spark.read.parquet(str(tmp_path / "out" / "assignments")))
    assert streamed == per_clip(batch.assignments)
    assert len(streamed) == 90
    assert "cluster_template_changed" in {v[2] for v in streamed.values()}
    # streamed violations exist per batch
    assert os.path.exists(str(tmp_path / "out" / "violations"))
    batch.unpersist()
    clips.unpersist()


def test_streaming_batches_report_no_drift(spark, tmp_path):
    """A micro-batch is validated with drift off under the default
    config: one batch of three ds partitions writes no drift_* rows."""
    clips = FX.gen_clips(spark, 60, n_ds=3, dur_lo=200, dur_hi=400)
    src = str(tmp_path / "incoming")
    clips.coalesce(1).write.mode("overwrite").parquet(f"{src}/f_all")
    out = str(tmp_path / "out")
    run_streaming(spark, f"{src}/f_*", clips.schema,
                  state_dir=str(tmp_path / "state"), out_dir=out)
    report = spark.read.parquet(f"{out}/partition_report").collect()
    assert {r.ds for r in report} == {"2026-08-01", "2026-08-02",
                                      "2026-08-03"}
    assert not [r for r in report if r.check.startswith("drift_")]


def test_config_ini_surface(tmp_path):
    """Reference-compatible ini loading (surface of
    tests/test_template_miner.py:18-23 over tests/drain3_test.ini)."""
    ini = tmp_path / "engine.ini"
    ini.write_text("""
[SNAPSHOT]
snapshot_interval_minutes = 10
compress_state = True

[DRAIN]
sim_th = 0.4
depth = 4
max_children = 100
max_clusters = 1024
extra_delimiters = ["_"]

[MASKING]
masking = [
    {"regex_pattern":"((?<=[^A-Za-z0-9])|^)(([0-9a-f]{2,}:){3,}([0-9a-f]{2,}))((?=[^A-Za-z0-9])|$)", "mask_with": "ID"},
    {"regex_pattern":"((?<=[^A-Za-z0-9])|^)(\\\\d{1,3}\\\\.\\\\d{1,3}\\\\.\\\\d{1,3}\\\\.\\\\d{1,3})((?=[^A-Za-z0-9])|$)", "mask_with": "IP"},
    {"regex_pattern":"((?<=[^A-Za-z0-9])|^)([0-9a-f]{6,} ?){3,}((?=[^A-Za-z0-9])|$)", "mask_with": "SEQ"},
    {"regex_pattern":"((?<=[^A-Za-z0-9])|^)([0-9A-F]{4} ?){4,}((?=[^A-Za-z0-9])|$)", "mask_with": "SEQ"},
    {"regex_pattern":"((?<=[^A-Za-z0-9])|^)(0x[a-f0-9A-F]+)((?=[^A-Za-z0-9])|$)", "mask_with": "HEX"},
    {"regex_pattern":"((?<=[^A-Za-z0-9])|^)([\\\\-\\\\+]?\\\\d+)((?=[^A-Za-z0-9])|$)", "mask_with": "NUM"},
    {"regex_pattern":"(?<=executed cmd )(\\".+?\\")", "mask_with": "CMD"}
    ]
mask_prefix = <:
mask_suffix = :>
""")
    cfg = EngineConfig.load_ini(str(ini))
    assert cfg.max_clusters == 1024
    assert list(cfg.extra_delimiters) == ["_"]
    assert len(cfg.masking) == 7
    assert cfg.mask_prefix == "<:" and cfg.mask_suffix == ":>"
    assert cfg.snapshot_interval_minutes == 10


def test_diagnostics(spark):
    from drain3_spark.diagnostics import cluster_tree_report, profile_report
    from drain3_spark.operators.mining import mine_templates
    from drain3_spark.validation.runner import ValidationConfig, ValidationEngine
    clips = FX.gen_clips(spark, 60, dur_lo=200, dur_hi=400).cache()
    res = mine_templates(clips, EngineConfig())
    rep = cluster_tree_report(res.clusters).collect()
    assert rep and rep[0].total_size >= rep[-1].total_size
    assert all(len(r.top_clusters) <= 5 for r in rep)

    report = ValidationEngine(ValidationConfig(with_drift=False)).validate(clips)
    prof = profile_report(report.metrics).collect()
    assert abs(sum(r.rows_share for r in prof) - 1.0) < 1e-6
    report.violations.unpersist()
    res.unpersist()
    clips.unpersist()


def test_stream_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying a batch whose state commit
    already happened must be a no-op (no double-counted cluster sizes)."""
    from drain3_spark.streaming import make_batch_processor
    from drain3_spark.validation.runner import ValidationConfig, ValidationEngine

    clips = FX.gen_clips(spark, 60, n_ds=1, dur_lo=200, dur_hi=400).cache()
    store = CheckpointStore(str(tmp_path / "state"))
    proc = make_batch_processor(
        store, EngineConfig(snapshot_interval_minutes=0),
        ValidationEngine(ValidationConfig(with_audio=False, with_drift=False)),
        str(tmp_path / "out"), validate=False)

    proc(clips, 0)
    hw1, rows1, counter1, key1 = store.latest(spark)
    assert key1 == "stream-0"
    # crash between commit and stream checkpoint -> restart re-delivers
    # batch 0 to a FRESH processor (foreachBatch restart semantics)
    proc2 = make_batch_processor(
        store, EngineConfig(snapshot_interval_minutes=0),
        ValidationEngine(ValidationConfig(with_audio=False, with_drift=False)),
        str(tmp_path / "out"), validate=False)
    proc2(clips, 0)
    hw2, rows2, counter2, key2 = store.latest(spark)
    assert (hw2, counter2, key2) == (hw1, counter1, key1)
    assert sorted(rows2) == sorted(rows1)  # sizes NOT double-counted
    proc2(clips, 1)  # a genuinely new batch still commits
    hw3, _, _, key3 = store.latest(spark)
    assert hw3 == hw1 + 1 and key3 == "stream-1"
    clips.unpersist()


def test_stream_snapshot_cadence_skips_no_delta(spark, tmp_path):
    """A micro-batch with no cluster change (sizes only) must not write
    a new snapshot (reference template_miner.py:124-132); its increments
    survive in memory and reach the next commit."""
    from drain3_spark.streaming import make_batch_processor
    from drain3_spark.validation.runner import ValidationConfig, ValidationEngine

    def batch(i, lines):
        rows = [(f"2026-08-0{i+1}", f"clip-{i:02d}{j:08d}", t)
                for j, t in enumerate(lines)]
        return spark.createDataFrame(rows, "ds string, clip_id string, transcript string")

    store = CheckpointStore(str(tmp_path / "state"))
    proc = make_batch_processor(
        store, EngineConfig(snapshot_interval_minutes=60),
        ValidationEngine(ValidationConfig(with_audio=False, with_drift=False)),
        str(tmp_path / "out"), validate=False)

    proc(batch(0, ["alpha beta", "gamma delta run"]), 0)   # creates -> commit
    assert store.committed_batches() == [0]
    proc(batch(1, ["alpha beta", "alpha beta"]), 1)        # sizes only -> skip
    assert store.committed_batches() == [0]
    proc(batch(2, ["omega new thing appears"]), 2)         # change -> commit
    assert store.committed_batches() == [0, 1]
    _, rows, counter, _ = store.latest(spark)
    sizes = {r[3]: r[4] for r in rows}
    # the skipped batch's size increments reached the next snapshot
    assert sizes["alpha beta"] == 3
    assert counter == 3


def test_flush_keys_last_processed_batch(spark, tmp_path):
    """flush() must commit cadence-deferred state under the LAST
    PROCESSED batch's key: after a crash between a skip-commit batch's
    foreachBatch and its stream-checkpoint commit, restart re-delivers
    that batch and the replay guard must recognize the flushed state
    (a synthetic key would re-mine the batch onto already-flushed state
    and double-count cluster sizes)."""
    from drain3_spark.streaming import make_batch_processor
    from drain3_spark.validation.runner import ValidationConfig, ValidationEngine

    def batch(i, lines):
        rows = [(f"2026-08-0{i+1}", f"clip-{i:02d}{j:08d}", t)
                for j, t in enumerate(lines)]
        return spark.createDataFrame(rows, "ds string, clip_id string, transcript string")

    def make_proc():
        return make_batch_processor(
            store, EngineConfig(snapshot_interval_minutes=60),
            ValidationEngine(ValidationConfig(with_audio=False, with_drift=False)),
            str(tmp_path / "out"), validate=False)

    store = CheckpointStore(str(tmp_path / "state"))
    proc = make_proc()
    proc(batch(0, ["alpha beta", "gamma delta run"]), 0)   # creates -> commit
    proc(batch(1, ["alpha beta", "alpha beta"]), 1)        # sizes only -> skip
    proc.flush(spark)                                      # shutdown flush
    _, rows, _, key = store.latest(spark)
    assert key == "stream-1"
    sizes = {r[3]: r[4] for r in rows}
    assert sizes["alpha beta"] == 3

    # restart: stream checkpoint never committed batch 1 -> re-delivery
    proc2 = make_proc()
    proc2(batch(1, ["alpha beta", "alpha beta"]), 1)
    _, rows2, _, _ = store.latest(spark)
    sizes2 = {r[3]: r[4] for r in rows2}
    assert sizes2["alpha beta"] == 3   # NOT double-counted


def test_counter_monotonic_under_lru_eviction(spark):
    """Cluster ids are never reused after LRU eviction: the persisted
    counter is prior + created, not max(live ids)
    (reference drain3/drain.py:201-202)."""
    from drain3_spark.operators.mining import mine_templates

    rows = []
    # three formats with distinct token counts; format A arrives first and
    # is never touched again -> with max_clusters=2 it is the LRU victim
    for i in range(6):
        rows.append(("2026-08-01", f"clip-{i:06d}", "alpha start"))
    for i in range(6, 12):
        rows.append(("2026-08-01", f"clip-{i:06d}", "beta job running fine"))
    for i in range(12, 18):
        rows.append(("2026-08-01", f"clip-{i:06d}", "gamma cache flush done now ok"))
    df = spark.createDataFrame(rows, "ds string, clip_id string, transcript string")
    cfg = EngineConfig(max_clusters=2)
    m1 = mine_templates(df, cfg)
    live = {int(r.cluster_id) for r in m1.clusters.collect()}
    assert live == {2, 3}           # cluster 1 (alpha) evicted
    assert m1.updated_counter() == 3  # but the counter remembers it
    # next batch: a brand-new format must get id 4, not reuse 3
    df2 = spark.createDataFrame(
        [("2026-08-02", "clip-900000", "delta io wait high seen here today")],
        "ds string, clip_id string, transcript string")
    m2 = mine_templates(df2, cfg,
                        prior_clusters=[tuple(r) for r in m1.clusters.collect()],
                        prior_counter=m1.updated_counter())
    ids2 = {int(r.cluster_id) for r in m2.clusters.collect()}
    assert 4 in ids2 and 3 not in ids2 - live
    assert m2.updated_counter() == 4
    m1.unpersist(); m2.unpersist()


def test_stream_ids_match_batch_on_documents_corpus(spark, tmp_path):
    """Corpus-level pin for q33: its documents subset streamed through
    run_streaming (per-ds files, ds-ordered arrival, two files per
    micro-batch) carries EXACTLY the batch miner's cluster ids and
    templates for every clip."""
    import os

    import pytest
    sf = "/root/testdata/sf0.001"
    if not os.path.exists(f"{sf}/documents.parquet"):
        pytest.skip("driver testdata not present")
    import __spark_entry__ as entry
    from drain3_spark.operators.mining import mine_templates

    clips = entry._q33_stream(spark, sf, str(tmp_path)).cache()
    got = {r.clip_id: (r.cluster_id, r.template_mined)
           for r in spark.read.parquet(
               str(tmp_path / "out" / "assignments")).collect()}

    res = mine_templates(clips, EngineConfig(mining_salt=1))
    want = {r.clip_id: (r.cluster_id, r.template_mined)
            for r in res.assignments.collect()}
    assert got == want
    assert len(got) == clips.count() >= 500
    res.unpersist()
    clips.unpersist()


def test_streaming_cross_batch_uniqueness(spark, tmp_path):
    """A clip_id arriving again in a LATER micro-batch is flagged
    against the persisted seen-id index (the per-batch engine only sees
    within-batch duplicates); the index write is batch-partitioned so
    replay overwrites idempotently."""
    clips = FX.gen_clips(spark, 60, n_ds=2, dur_lo=200, dur_hi=400).cache()
    b1 = clips.filter(F.col("ds") == "2026-08-01")
    # batch 2 = its own ds PLUS three clips replayed from batch 1
    dup_ids = [r.clip_id for r in b1.select("clip_id").limit(3).collect()]
    b2 = clips.filter(F.col("ds") == "2026-08-02").unionByName(
        b1.filter(F.col("clip_id").isin(dup_ids)))

    src = str(tmp_path / "incoming")
    b1.coalesce(1).write.mode("overwrite").parquet(f"{src}/f_a")
    b2.coalesce(1).write.mode("overwrite").parquet(f"{src}/f_b")
    os.utime(f"{src}/f_a", (1, 1))     # deterministic arrival order

    run_streaming(
        spark, f"{src}/f_*", clips.schema,
        state_dir=str(tmp_path / "state"), out_dir=str(tmp_path / "out"),
        cfg=EngineConfig(), validate=True, max_files_per_trigger=1)

    viol = spark.read.option("basePath", str(tmp_path / "out" / "violations")) \
        .parquet(str(tmp_path / "out" / "violations"))
    cross = viol.filter(F.col("check") == "uniqueness_cross_batch").collect()
    assert {r.clip_id for r in cross} == set(dup_ids)
    assert all(r.detail == "first_seen_batch=0" for r in cross)
    # within-batch engine rows unaffected; no cross rows in batch 0
    b0 = spark.read.parquet(str(tmp_path / "out" / "violations" / "batch=0"))
    assert b0.filter(F.col("check") == "uniqueness_cross_batch").count() == 0
    # seen index holds each batch's distinct ids, batch-partitioned
    seen = spark.read.option("basePath", str(tmp_path / "out" / "seen_ids")) \
        .parquet(str(tmp_path / "out" / "seen_ids"))
    assert seen.filter(F.col("batch") == 0).count() == b1.count()
    clips.unpersist()


def test_streaming_seen_index_compaction(spark, tmp_path):
    """Every K batches the seen-id delta partitions fold into ONE
    snapshot: batch N+K reads the compacted snapshot (the subsumed
    ``batch=`` partitions are GONE from disk, so a duplicate of a
    batch-0 clip can only have been caught via the snapshot), and the
    listing stays O(K) instead of O(batches)."""
    clips = FX.gen_clips(spark, 100, n_ds=5, dur_lo=200, dur_hi=400).cache()
    ds_list = sorted(r.ds for r in clips.select("ds").distinct().collect())
    assert len(ds_list) == 5
    b0 = clips.filter(F.col("ds") == ds_list[0])
    dup_ids = [r.clip_id for r in b0.select("clip_id").limit(2).collect()]

    src = str(tmp_path / "incoming")
    for i, ds in enumerate(ds_list):
        b = clips.filter(F.col("ds") == ds)
        if i == 3:  # batch 3 replays two batch-0 clips AFTER compaction@2
            b = b.unionByName(b0.filter(F.col("clip_id").isin(dup_ids)))
        b.coalesce(1).write.mode("overwrite").parquet(f"{src}/f_{i}")
        os.utime(f"{src}/f_{i}", (i + 1, i + 1))  # deterministic order

    run_streaming(
        spark, f"{src}/f_*", clips.schema,
        state_dir=str(tmp_path / "state"), out_dir=str(tmp_path / "out"),
        cfg=EngineConfig(), validate=True, max_files_per_trigger=1,
        seen_compact_every=2)

    seen_dir = str(tmp_path / "out" / "seen_ids")
    # compaction ran at batch 2 (covers 0,1) and batch 4 (covers 0-3):
    # only the newest snapshot and the current batch's delta survive
    entries = {d for d in os.listdir(seen_dir) if not d.startswith(".")}
    assert entries == {"_snapshot", "batch=4"}
    assert os.listdir(f"{seen_dir}/_snapshot") == ["hw=4"]
    snap = spark.read.parquet(f"{seen_dir}/_snapshot/hw=4")
    assert set(snap.columns) == {"clip_id", "ds", "batch"}
    # the snapshot holds every id from batches 0-3 with its first batch
    want_ids = {r.clip_id for r in
                clips.filter(F.col("ds") != ds_list[4]).collect()}
    assert {r.clip_id for r in snap.collect()} == want_ids
    assert snap.filter(F.col("batch") == 0).count() == b0.count()

    # the batch-3 duplicates were flagged against the snapshot (their
    # batch=0 delta partition was deleted at compaction@2)
    viol = spark.read.option("basePath", str(tmp_path / "out" / "violations")) \
        .parquet(str(tmp_path / "out" / "violations"))
    cross = viol.filter(F.col("check") == "uniqueness_cross_batch").collect()
    assert {r.clip_id for r in cross} == set(dup_ids)
    assert all(r.detail == "first_seen_batch=0" for r in cross)
    clips.unpersist()


def test_streaming_seen_index_written_without_validation(spark, tmp_path):
    """A batch processed with validate=False still records its clip_ids:
    a later VALIDATED batch that replays one of them is flagged (the
    index is maintenance, not a validation artifact — ADVICE round 5)."""
    from drain3_spark.streaming import make_batch_processor
    from drain3_spark.validation.runner import ValidationConfig, ValidationEngine

    clips = FX.gen_clips(spark, 40, n_ds=2, dur_lo=200, dur_hi=400).cache()
    ds_list = sorted(r.ds for r in clips.select("ds").distinct().collect())
    b0 = clips.filter(F.col("ds") == ds_list[0])
    dup_id = b0.select("clip_id").limit(1).collect()[0].clip_id
    b1 = clips.filter(F.col("ds") == ds_list[1]).unionByName(
        b0.filter(F.col("clip_id") == dup_id))

    out = str(tmp_path / "out")
    store = CheckpointStore(str(tmp_path / "state"))
    engine = ValidationEngine(ValidationConfig())

    # batch 0 unvalidated, batch 1 validated
    p0 = make_batch_processor(store, EngineConfig(), engine, out,
                              validate=False)
    p0(b0, 0)
    p1 = make_batch_processor(CheckpointStore(str(tmp_path / "state2")),
                              EngineConfig(), engine, out, validate=True)
    p1(b1, 1)

    viol = spark.read.parquet(f"{out}/violations/batch=1")
    cross = viol.filter(F.col("check") == "uniqueness_cross_batch").collect()
    assert [r.clip_id for r in cross] == [dup_id]
    assert cross[0].detail == "first_seen_batch=0"
    clips.unpersist()


def test_windowed_counts_drop_late_rows(spark, tmp_path):
    """Event-time windowed counts under a watermark: closed windows
    emit exactly once (append mode), a row arriving LATER than the
    watermark delay is dropped instead of reopening its finalized
    window, and still-open windows emit nothing."""
    import os
    import time as _time

    from drain3_spark.streaming import run_windowed_counts

    src = str(tmp_path / "src")
    T0 = "2026-08-01 10:"

    def write_file(name, rows, mtime):
        path = f"{src}/{name}"
        (spark.createDataFrame(rows, "event_ts timestamp, codec string,"
                                     " clip_id string")
         .coalesce(1).write.mode("overwrite").parquet(path))
        for root, _d, files in os.walk(path):
            for fn in files:
                os.utime(os.path.join(root, fn), (mtime, mtime))

    import datetime as dt

    def ts(minute, sec=0):
        return dt.datetime(2026, 8, 1, 10 + minute // 60, minute % 60, sec)

    base = _time.time() - 60
    # batch 1: three on-time rows in [10:00,10:10) + one at 10:21.
    # The watermark advances one batch behind the data (it is updated
    # at batch commit from that batch's max event time), so the first
    # window closes and is emitted during batch 2.
    write_file("f_1", [(ts(1), "pcm_s16le", "a"),
                       (ts(4), "pcm_s16le", "b"),
                       (ts(8), "pcm_s16le", "c"),
                       (ts(21), "mulaw", "d")], base)
    # batch 2: two on-time rows in [10:20,10:30)
    write_file("f_2", [(ts(25), "mulaw", "e"),
                       (ts(25, 30), "mulaw", "f")], base + 1)
    # batch 3: a LATE row at 10:05 — the effective watermark is now at
    # least 10:16 (batch 1's max minus the 5-minute delay), its window
    # is closed and already emitted, so the row must be DROPPED — plus
    # a row at 10:50 advancing the watermark further
    write_file("f_3", [(ts(5), "pcm_s16le", "LATE"),
                       (ts(50), "pcm_s16le", "g")], base + 2)
    # batch 4: one row at 11:10 pushes the watermark past 11:00 so the
    # [10:20,10:30) and [10:50,11:00) windows flush; its own window is
    # still open when the stream drains
    write_file("f_4", [(ts(70), "pcm_s16le", "h")], base + 3)

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    run_windowed_counts(spark, f"{src}/f_*",
                        "event_ts timestamp, codec string, clip_id string",
                        out, ckpt, window_dur="10 minutes",
                        watermark="5 minutes", max_files_per_trigger=1)

    got = {(r.window_start.minute, r.category): r.n
           for r in spark.read.parquet(out).collect()}
    # first window excludes the late row; the 10:20 window holds both
    # batch-2 rows plus batch-1's 10:21 row; 11:10's window is still
    # open when the stream drains, so it is absent
    assert got == {(0, "pcm_s16le"): 3, (20, "mulaw"): 3,
                   (50, "pcm_s16le"): 1}, got
