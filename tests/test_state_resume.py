"""Checkpoint/resume semantics (SURVEY.md C10; relational mirror of the
reference snapshot round-trip, tests/test_template_miner.py:25-61)."""

import pytest

from drain3_spark import fixtures as FX
from drain3_spark.config import EngineConfig
from drain3_spark.jobs import run_incremental
from drain3_spark.state.store import CheckpointStore


def test_store_roundtrip(spark, tmp_path):
    store = CheckpointStore(str(tmp_path / "state"))
    assert store.latest(spark) == (None, [], 0, "")
    clips = FX.gen_clips(spark, 30, dur_lo=200, dur_hi=400)
    from drain3_spark.operators.mining import mine_templates
    mined = mine_templates(clips, EngineConfig())
    store.commit(0, mined.clusters, counter=5, batch_key="2026-08-01")
    hw, rows, counter, key = store.latest(spark)
    assert hw == 0 and counter == 5 and key == "2026-08-01"
    assert sorted(r[0] for r in rows) == sorted(
        r.cluster_id for r in mined.clusters.collect())
    mined.unpersist()


def test_resume_equals_uninterrupted(spark, tmp_path):
    clips = FX.gen_clips(spark, 120, dirty=False, n_ds=3,
                         dur_lo=200, dur_hi=400).cache()

    # snapshot_interval_minutes=0 -> every batch commits (periodic always
    # due), making resume points exact; change-driven skipping is the
    # default cadence and has its own test
    cfg = EngineConfig(snapshot_interval_minutes=0)
    full = run_incremental(spark, clips, str(tmp_path / "full"), cfg=cfg,
                           validate=False)
    assert [b.ds for b in full] == ["2026-08-01", "2026-08-02", "2026-08-03"]

    # interrupted run: first two batches, then a "new process" resumes
    part_dir = str(tmp_path / "part")
    two_ds = clips.filter(clips.ds != "2026-08-03")
    first = run_incremental(spark, two_ds, part_dir, cfg=cfg, validate=False)
    assert len(first) == 2
    resumed = run_incremental(spark, clips, part_dir, cfg=cfg, validate=False)
    assert [b.ds for b in resumed] == ["2026-08-03"]

    final_full = {tuple(r) for r in full[-1].clusters}
    final_resumed = {tuple(r) for r in resumed[-1].clusters}
    assert final_full == final_resumed
    assert full[-1].counter == resumed[-1].counter

    # re-running once more is a no-op (idempotence)
    assert run_incremental(spark, clips, part_dir, cfg=cfg, validate=False) == []
    clips.unpersist()


def test_incremental_outputs_and_lineage(spark, tmp_path):
    """run_incremental writes assignments/violations/lineage per batch and
    the corpus-level orphan + drift reports (SURVEY.md C9/C12)."""
    from drain3_spark import fixtures as FX
    from drain3_spark.validation.runner import ValidationConfig

    n = 300
    clips = FX.gen_clips(spark, n, dirty=True, n_ds=3, dur_lo=200, dur_hi=500)
    ref = FX.gen_transcripts_ref(spark, n, dirty=True, n_ds=3,
                                 dur_lo=200, dur_hi=500)
    out = str(tmp_path / "out")
    results = run_incremental(spark, clips, str(tmp_path / "state"),
                              vcfg=ValidationConfig(drift_alpha=0.01),
                              transcripts_ref=ref, out_dir=out)
    assert len(results) == 3
    lineage = spark.read.option("basePath", f"{out}/lineage") \
        .parquet(f"{out}/lineage/ds=*").collect()
    assert {r.ds for r in lineage} == {"2026-08-01", "2026-08-02", "2026-08-03"}
    assert all(r.rows_mined > 0 and r.templates_seen > 0 for r in lineage)
    # stage wall times ride on every lineage row (profiler analog)
    assert all(r.mine_sec > 0 and r.validate_sec > 0
               and r.total_sec >= r.mine_sec and r.rows_per_sec > 0
               for r in lineage)
    # drift report exists and only the shifted partition fails
    drift = spark.read.parquet(f"{out}/drift_report_corpus").collect()
    fails = {(r.ds, r.check) for r in drift if not r.passed}
    assert all(ds == "2026-08-03" for ds, _ in fails)
    assert fails, "shifted partition must fail at least one drift check"


def test_incremental_corpus_drift_equals_validate(spark, tmp_path):
    """run_incremental's corpus drift report is validate()'s drift
    report: same statistics, same rows, same details."""
    from drain3_spark.validation.runner import (ValidationConfig,
                                                ValidationEngine)

    n = 300
    clips = FX.gen_clips(spark, n, dirty=True, n_ds=3, dur_lo=200,
                         dur_hi=500).cache()
    vcfg = ValidationConfig(drift_alpha=0.01, with_audio=False)
    out = str(tmp_path / "out")
    run_incremental(spark, clips, str(tmp_path / "state"), vcfg=vcfg,
                    out_dir=out)
    got = {tuple(r) for r in
           spark.read.parquet(f"{out}/drift_report_corpus").collect()}

    report = ValidationEngine(vcfg).validate(clips)
    want = {tuple(r) for r in report.partition_report.collect()
            if r.check.startswith("drift_")}
    assert want and got == want
    report.violations.unpersist()
    clips.unpersist()


def test_incremental_snapshot_cadence(spark, tmp_path):
    """A ds batch with no cluster delta writes no new snapshot; resume
    from the last commit still converges to the uninterrupted result
    (reference template_miner.py:124-132 change-driven cadence)."""
    from drain3_spark.config import EngineConfig
    from drain3_spark.jobs import run_incremental

    rows = []
    for j in range(4):
        rows.append(("2026-08-01", f"clip-1-{j:06d}", "alpha beta gamma"))
    for j in range(4):  # ds2 repeats ds1's template exactly -> no delta
        rows.append(("2026-08-02", f"clip-2-{j:06d}", "alpha beta gamma"))
    rows.append(("2026-08-03", "clip-3-000000", "something new here"))
    clips = spark.createDataFrame(
        rows, "ds string, clip_id string, transcript string")

    cfg = EngineConfig(snapshot_interval_minutes=60)
    res = run_incremental(spark, clips, str(tmp_path / "st"), cfg=cfg,
                          validate=False)
    assert [b.committed for b in res] == [True, False, True]
    store_batches = sorted(
        int(n.rsplit("_", 1)[1]) for n in
        __import__("os").listdir(str(tmp_path / "st")) if n.startswith("_committed_"))
    assert store_batches == [0, 2]  # ds2 never snapshotted
    # final state carries ds2's size increments through the ds3 commit
    final = {r[3]: r[4] for r in res[-1].clusters}
    assert final["alpha beta gamma"] == 8
