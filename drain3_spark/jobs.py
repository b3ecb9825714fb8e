"""Batch / incremental engine drivers (reference A21,
examples/drain_bigfile_demo.py + drain_stdin_demo.py recast).

``run_incremental`` processes ds partitions in order as micro-batches —
mining templates through the checkpointed state store and validating
each partition — and is resumable: partitions at or below the store's
high-watermark are skipped (idempotent re-run after a crash).  This is
the ``foreachBatch`` shape of Structured Streaming with an explicit
state table, chosen as the EXACT path for snapshot fidelity and
batch/stream symmetry (SURVEY.md §2.B streaming row).  The
``applyInPandasWithState`` alternative — per-group mining state in
Spark's own state store, no driver round-trip per micro-batch — lives in
``streaming_stateful.py`` with documented group-local ids.
"""

from __future__ import annotations

import time as _time
from dataclasses import dataclass
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from drain3_spark.config import EngineConfig
from drain3_spark.operators.mining import mine_templates
from drain3_spark.state.store import CheckpointStore
from drain3_spark.util import local_df
from drain3_spark.validation.runner import (ValidationConfig, ValidationEngine,
                                            ValidationReport)


@dataclass
class BatchResult:
    batch_id: int
    ds: str
    clusters: List[tuple]
    counter: int
    report: Optional[ValidationReport]
    assignments_count: int
    new_clusters: int
    committed: bool = True   # False = snapshot skipped (no cluster delta)


def run_incremental(spark: SparkSession,
                    clips: DataFrame,
                    state_dir: str,
                    cfg: Optional[EngineConfig] = None,
                    vcfg: Optional[ValidationConfig] = None,
                    transcripts_ref: Optional[DataFrame] = None,
                    validate: bool = True,
                    out_dir: Optional[str] = None,
                    profiler=None) -> List[BatchResult]:
    """Mine + validate each ds partition as one committed micro-batch.

    ``profiler`` (an EngineProfiler) accumulates per-stage sections
    across all batches; lineage rows always carry per-batch wall times
    (mine/validate/total), the timing the reference profiler attaches to
    its mining stats (drain3/simple_profiler.py:101-119)."""
    cfg = cfg or EngineConfig()
    engine = ValidationEngine(vcfg or ValidationConfig())
    store = CheckpointStore(state_dir)
    hw, prior, counter, _ = store.latest(spark)

    all_ds = sorted(r["ds"] for r in clips.select("ds").distinct().collect())
    results: List[BatchResult] = []
    for idx, ds in enumerate(all_ds):
        if hw is not None and idx <= hw:
            continue  # already committed — resume point
        batch = clips.filter(F.col("ds") == ds)
        t_batch = _time.monotonic()
        mined = mine_templates(batch, cfg, prior_clusters=prior,
                               prior_counter=counter)
        clusters_df = mined.clusters
        if out_dir:
            mined.assignments.write.mode("overwrite").parquet(
                f"{out_dir}/assignments/ds={ds}")
        rows = [tuple(r) for r in clusters_df.collect()]
        # one aggregation feeds rows_mined AND the cluster-delta signal
        agg = mined.assignments.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("change_type") != "none").cast("long")).alias("nc")
        ).first()
        n_assign, n_changes = int(agg["n"]), int(agg["nc"] or 0)
        mine_sec = _time.monotonic() - t_batch

        report = None
        validate_sec = None
        if validate:
            t_val = _time.monotonic()
            # orphan detection is corpus-level and handled after the loop
            from dataclasses import replace as _replace
            batch_engine = ValidationEngine(_replace(engine.cfg, with_drift=False))
            report = batch_engine.validate(batch, transcripts_ref,
                                           include_orphans=False,
                                           profiler=profiler)
            if out_dir:
                report.violations.write.mode("overwrite").parquet(
                    f"{out_dir}/violations/ds={ds}")
                report.partition_report.write.mode("overwrite").parquet(
                    f"{out_dir}/partition_report/ds={ds}")
                report.metrics.write.mode("overwrite").parquet(
                    f"{out_dir}/metrics/ds={ds}")
            validate_sec = _time.monotonic() - t_val
        # monotonic counter: prior + clusters created this batch — NOT
        # max(live ids), which would reuse the ids of LRU-evicted
        # clusters (reference drain3/drain.py:201-202 never reuses ids)
        counter = mined.updated_counter()
        new_clusters = len(rows) - len(prior)
        if out_dir:
            # per-partition lineage with stage wall times (SURVEY.md C12;
            # reference profiler analog drain3/simple_profiler.py:101-119)
            total_sec = _time.monotonic() - t_batch
            lineage = local_df(spark,
                [(ds, idx, n_assign, len(rows), new_clusters,
                  int(report.violations.count()) if report is not None else None,
                  round(mine_sec, 3),
                  round(validate_sec, 3) if validate_sec is not None else None,
                  round(total_sec, 3),
                  round(n_assign / total_sec, 1) if total_sec > 0 else None)],
                "ds string, batch_id long, rows_mined long, templates_seen long, "
                "clusters_created long, violations long, mine_sec double, "
                "validate_sec double, total_sec double, rows_per_sec double")
            lineage.write.mode("overwrite").parquet(f"{out_dir}/lineage/ds={ds}")
        # snapshot cadence (reference template_miner.py:124-132): write
        # state when the batch CHANGED a cluster (created / template
        # changed), else only when the periodic interval elapsed — pure
        # size increments don't force a snapshot.  Skipped batches stay
        # above the high-watermark, so a crash replays them onto the
        # last committed state (deterministic => same result).
        last_save = store.latest_commit_time()
        periodic_due = (last_save is None or
                        _time.time() - last_save
                        >= cfg.snapshot_interval_minutes * 60)
        committed = n_changes > 0 or periodic_due
        if committed:
            store.commit(idx, clusters_df, counter, batch_key=ds)
        mined.unpersist()
        if report is not None:
            report.violations.unpersist()
        prior = rows
        results.append(BatchResult(idx, ds, rows, counter, report,
                                   n_assign, new_clusters, committed))

    # corpus-level passes, rewritten (not appended) every invocation so a
    # resume replaces any partial-corpus result:
    # - orphan refs need the full clip universe (anti-join)
    # - drift compares ds partitions against the baseline partition, which
    #   a single-ds micro-batch cannot do
    if validate and out_dir:
        if transcripts_ref is not None:
            from drain3_spark.validation.checks import corpus_orphan_violations
            corpus_orphan_violations(clips, transcripts_ref) \
                .write.mode("overwrite").parquet(f"{out_dir}/violations_corpus")
        vcfg_obj = engine.cfg
        if vcfg_obj.with_drift:
            from drain3_spark.validation.drift import chisq_drift, ks_drift
            from drain3_spark.validation.runner import PARTITION_REPORT_SCHEMA
            drift_rows = []
            for rec in (ks_drift(clips, "dur_ms", vcfg_obj.drift_baseline_ds,
                                 vcfg_obj.drift_alpha)
                        + chisq_drift(clips, "codec", vcfg_obj.drift_baseline_ds,
                                      vcfg_obj.drift_alpha)
                        + chisq_drift(clips, "sr_hz", vcfg_obj.drift_baseline_ds,
                                      vcfg_obj.drift_alpha)):
                drift_rows.append((rec["ds"], rec["check"], bool(rec["passed"]),
                                   0 if rec["passed"] else int(rec["rows"]),
                                   int(rec["rows"]),
                                   f"stat={rec['statistic']:.6f} "
                                   f"thr={rec['threshold']:.6f} "
                                   f"baseline={rec['baseline_ds']}"))
            local_df(spark, drift_rows, PARTITION_REPORT_SCHEMA) \
                .write.mode("overwrite").parquet(f"{out_dir}/drift_report_corpus")
    return results
