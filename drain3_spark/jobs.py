"""Batch / incremental engine drivers (reference A21,
examples/drain_bigfile_demo.py + drain_stdin_demo.py recast) and
:class:`MicroBatchStep`, the one committed micro-batch step that both
``run_incremental`` and ``streaming.make_batch_processor`` run: they
differ only in the batch key, the commit id, the replay guard and the
outputs.

``run_incremental`` processes ds partitions in order as micro-batches —
mining templates through the checkpointed state store and validating
each partition — and is resumable: partitions at or below the store's
high-watermark are skipped (idempotent re-run after a crash).  This is
the ``foreachBatch`` shape of Structured Streaming with an explicit
state table, chosen for snapshot fidelity and batch/stream symmetry
(SURVEY.md §2.B streaming row); ``streaming.run_streaming`` runs the
same step over a live stream.
"""

from __future__ import annotations

import time as _time
from dataclasses import dataclass, replace
from typing import List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession, functions as F

from drain3_spark.config import EngineConfig
from drain3_spark.operators.mining import (CLUSTER_SCHEMA, MiningResult,
                                           mine_templates)
from drain3_spark.state.store import CheckpointStore
from drain3_spark.util import local_df
from drain3_spark.validation.runner import (PARTITION_REPORT_SCHEMA,
                                            ValidationConfig, ValidationEngine,
                                            ValidationReport, drift_pass)


@dataclass
class MinedBatch:
    """One batch mined against the carried state, not yet committed."""
    result: MiningResult
    rows: List[tuple]        # cluster rows after the batch
    counter: int
    n_rows: int              # rows mined
    n_changes: int           # rows whose change_type is not "none"
    new_clusters: int


class MicroBatchStep:
    """Mining state carried across committed micro-batches.

    The state is read from ``store`` once, on construction; ``hw`` and
    ``key`` are the id and batch key of the latest commit.  Between
    commits the state lives here, the way the reference miner object
    lives across messages, so a cadence-deferred batch's increments
    reach the next commit; only a crash loses them, exactly the
    reference's un-snapshotted-messages window.

    Crash safety: a driver writes ALL of a batch's outputs before it
    calls :meth:`commit`.  The marker written by ``store.commit`` is then
    the single point after which the batch counts as done, so a crash
    before it replays the batch onto the last committed state (the
    mining is deterministic, the outputs are overwritten), and a crash
    after it finds every output already on disk."""

    def __init__(self, spark: SparkSession, store: CheckpointStore,
                 cfg: EngineConfig) -> None:
        self.spark, self.store, self.cfg = spark, store, cfg
        self.hw, self.rows, self.counter, self.key = store.latest(spark)
        self._deferred: Optional[Tuple[int, str]] = None

    def mine(self, batch: DataFrame,
             order_cols: Sequence[str] = ("ds", "clip_id")) -> MinedBatch:
        result = mine_templates(batch, self.cfg, order_cols=order_cols,
                                prior_clusters=self.rows,
                                prior_counter=self.counter)
        rows = [tuple(r) for r in result.clusters.collect()]
        # one aggregation feeds rows_mined AND the cluster-delta signal
        agg = result.assignments.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("change_type") != "none").cast("long")).alias("nc")
        ).first()
        # monotonic counter: prior + clusters created this batch — NOT
        # max(live ids), which would reuse the ids of LRU-evicted
        # clusters (reference drain3/drain.py:201-202 never reuses ids)
        return MinedBatch(result, rows, result.updated_counter(),
                          int(agg["n"]), int(agg["nc"] or 0),
                          len(rows) - len(self.rows))

    def commit(self, mined: MinedBatch, commit_id: int, key: str) -> bool:
        """Commit ``mined`` as batch ``commit_id`` under ``key``, or defer
        it; either way it becomes the carried state.  Returns whether it
        was committed.  Call it only once the batch's outputs are written
        (see the class docstring).

        Snapshot cadence (reference template_miner.py:124-132): commit
        when the batch CHANGED a cluster (created / template changed),
        else only when the periodic interval elapsed — pure size
        increments don't force a snapshot."""
        last_save = self.store.latest_commit_time()
        periodic_due = (last_save is None or
                        _time.time() - last_save
                        >= self.cfg.snapshot_interval_minutes * 60)
        committed = mined.n_changes > 0 or periodic_due
        if committed:
            self.store.commit(commit_id, mined.result.clusters, mined.counter,
                              batch_key=key)
            self.hw, self.key, self._deferred = commit_id, key, None
        else:
            self._deferred = (commit_id, key)
        self.rows, self.counter = mined.rows, mined.counter
        mined.result.unpersist()
        return committed

    def flush(self) -> None:
        """Commit cadence-deferred state (the analog of the reference's
        final save before exit) under the LAST processed batch's id and
        key, so a driver's replay guard recognizes that batch as done."""
        if self._deferred is None:
            return
        commit_id, key = self._deferred
        self.store.commit(commit_id,
                          local_df(self.spark, self.rows, CLUSTER_SCHEMA),
                          self.counter, batch_key=key)
        self.hw, self.key, self._deferred = commit_id, key, None


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

    Raises ``ValueError`` when the input's partitions do not line up with
    the committed state: the partition at the high-watermark's ordinal
    must be the committed batch key.  Deferred state is committed before
    returning, so a repeated call on the same input processes nothing.

    ``profiler`` (an EngineProfiler) accumulates per-stage sections
    across all batches; lineage rows always carry per-batch wall times
    (mine/validate/total), the timing the reference profiler attaches to
    its mining stats (drain3/simple_profiler.py:101-119)."""
    cfg = cfg or EngineConfig()
    vcfg = vcfg or ValidationConfig()
    # drift is corpus-level and handled after the loop
    batch_engine = ValidationEngine(replace(vcfg, with_drift=False))
    step = MicroBatchStep(spark, CheckpointStore(state_dir), cfg)
    hw = step.hw

    all_ds = sorted(r["ds"] for r in clips.select("ds").distinct().collect())
    if hw is not None and not (hw < len(all_ds) and all_ds[hw] == step.key):
        raise ValueError(
            f"{state_dir} committed ds {step.key!r} as batch {hw}, but the "
            f"input's partitions at or below it are "
            f"{[ds for ds in all_ds if ds <= step.key]}: a partition before "
            f"the committed one was added or removed")
    results: List[BatchResult] = []
    for idx, ds in enumerate(all_ds):
        if hw is not None and idx <= hw:
            continue  # already committed — resume point
        batch = clips.filter(F.col("ds") == ds)
        t_batch = _time.monotonic()
        mined = step.mine(batch)
        if out_dir:
            mined.result.assignments.write.mode("overwrite").parquet(
                f"{out_dir}/assignments/ds={ds}")
        mine_sec = _time.monotonic() - t_batch

        report = None
        validate_sec = None
        if validate:
            t_val = _time.monotonic()
            # orphan detection is corpus-level and handled after the loop
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
        if out_dir:
            # per-partition lineage with stage wall times (SURVEY.md C12;
            # reference profiler analog drain3/simple_profiler.py:101-119)
            total_sec = _time.monotonic() - t_batch
            lineage = local_df(spark,
                [(ds, idx, mined.n_rows, len(mined.rows), mined.new_clusters,
                  int(report.violations.count()) if report is not None else None,
                  round(mine_sec, 3),
                  round(validate_sec, 3) if validate_sec is not None else None,
                  round(total_sec, 3),
                  round(mined.n_rows / total_sec, 1) if total_sec > 0 else None)],
                "ds string, batch_id long, rows_mined long, templates_seen long, "
                "clusters_created long, violations long, mine_sec double, "
                "validate_sec double, total_sec double, rows_per_sec double")
            lineage.write.mode("overwrite").parquet(f"{out_dir}/lineage/ds={ds}")
        committed = step.commit(mined, idx, ds)
        if report is not None:
            report.violations.unpersist()
        results.append(BatchResult(idx, ds, mined.rows, mined.counter, report,
                                   mined.n_rows, mined.new_clusters, committed))
    step.flush()

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
        if vcfg.with_drift:
            # the same drift pass, rows and details as validate()'s
            local_df(spark, drift_pass(clips, vcfg).report_rows,
                     PARTITION_REPORT_SCHEMA) \
                .write.mode("overwrite").parquet(f"{out_dir}/drift_report_corpus")
    return results
