"""Structured Streaming driver (reference A21,
examples/drain_stdin_demo.py recast as readStream + foreachBatch).

Micro-batches arrive from any streaming source (file source here —
new parquet files landing under a directory; Kafka in production);
every micro-batch is mined through the checkpointed cluster state and
validated with drift off (streaming drift is event-time windowed, see
:func:`windowed_category_counts`), mirroring the reference's one-at-a-time
``add_log_message`` loop at micro-batch granularity
(drain3/template_miner.py:134-162).

Every micro-batch goes through ``jobs.MicroBatchStep``, the same step
``jobs.run_incremental`` runs per ``ds``: mining against the carried
state, the snapshot cadence of the reference (commit on cluster change,
else when ``snapshot_interval_minutes`` elapsed,
drain3/template_miner.py:124-132) and the atomic commit.  What is
streaming's own is the batch key ``stream-<id>``, the commit id (one
past the last commit), the replay guard for re-delivered batches, the
seen-id index behind the cross-batch uniqueness check, and the per-batch
outputs.  Late data: the reference has no event time (arrival order IS
processing order, drain3/drain.py:188); the stream preserves that by
processing batches in arrival order with the batch id as the order
prefix.
"""

from __future__ import annotations

from dataclasses import replace
from typing import NamedTuple, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from drain3_spark.config import EngineConfig
from drain3_spark.jobs import MicroBatchStep
from drain3_spark.state.store import CheckpointStore
from drain3_spark.validation.runner import ValidationConfig, ValidationEngine


def _latest_snapshot_hw(seen_dir: str, batch_id: int) -> Optional[int]:
    """High watermark of the newest compacted seen-id snapshot usable at
    ``batch_id`` (a snapshot ``hw=B`` covers batches < B, so any
    ``B <= batch_id`` is a valid prior)."""
    import os
    snap_root = f"{seen_dir}/_snapshot"
    if not os.path.isdir(snap_root):
        return None
    hws = [int(d.split("=")[1]) for d in os.listdir(snap_root)
           if d.startswith("hw=") and int(d.split("=")[1]) <= batch_id]
    return max(hws) if hws else None


def _read_prior_seen(spark: SparkSession, seen_dir: str,
                     batch_id: int) -> Optional[DataFrame]:
    """Seen-id rows from batches BEFORE ``batch_id`` (None if no prior
    batch has committed ids): the newest compacted snapshot (covering
    batches < its high watermark) plus the per-batch delta partitions
    after it — so the listing and the scan stay O(K), not O(batches),
    under the every-K compaction cadence.  Local-FS directory listing
    here; on a cluster the index would be a partitioned catalog table
    and this is a partition-pruned scan."""
    import os
    if not os.path.isdir(seen_dir):
        return None
    hw = _latest_snapshot_hw(seen_dir, batch_id)
    lo = hw if hw is not None else 0
    parts = [d for d in os.listdir(seen_dir)
             if d.startswith("batch=") and lo <= int(d.split("=")[1]) < batch_id]
    dfs = []
    if hw is not None:
        # snapshot rows carry `batch` as a data column
        dfs.append(spark.read.parquet(f"{seen_dir}/_snapshot/hw={hw}"))
    if parts:
        dfs.append(spark.read.option("basePath", seen_dir)
                   .parquet(*[f"{seen_dir}/{d}" for d in parts])
                   .select("clip_id", "ds", "batch"))
    if not dfs:
        return None
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def _compact_seen(spark: SparkSession, seen_dir: str, batch_id: int,
                  prior: DataFrame) -> None:
    """Fold all seen-id rows from batches < ``batch_id`` into ONE
    snapshot ``_snapshot/hw={batch_id}``, then drop the subsumed delta
    partitions and older snapshots.  Idempotent under at-least-once
    replay: the snapshot path is keyed by the high watermark, the write
    is mode=overwrite, and a replayed compaction re-reads exactly the
    (already-compacted) same rows.  The snapshot excludes the CURRENT
    batch, so a replay of ``batch_id`` never cross-matches against its
    own ids."""
    import os
    import shutil
    (prior.select("clip_id", "ds", "batch")
     .write.mode("overwrite").parquet(f"{seen_dir}/_snapshot/hw={batch_id}"))
    for d in os.listdir(seen_dir):
        if d.startswith("batch=") and int(d.split("=")[1]) < batch_id:
            shutil.rmtree(f"{seen_dir}/{d}", ignore_errors=True)
    snap_root = f"{seen_dir}/_snapshot"
    for d in os.listdir(snap_root):
        if d.startswith("hw=") and int(d.split("=")[1]) < batch_id:
            shutil.rmtree(f"{snap_root}/{d}", ignore_errors=True)


def make_batch_processor(store: CheckpointStore,
                         cfg: EngineConfig,
                         engine: ValidationEngine,
                         out_dir: str,
                         order_cols=("ds", "clip_id"),
                         validate: bool = True,
                         seen_compact_every: int = 16):
    """foreachBatch callback: mine + validate + commit one micro-batch
    through one :class:`~drain3_spark.jobs.MicroBatchStep`.

    Idempotent under at-least-once replay: ``foreachBatch`` may re-deliver
    a batch whose state commit already happened (crash between
    ``store.commit`` and the stream checkpoint's own commit).  A batch
    whose key equals the latest committed ``batch_key`` is skipped —
    replaying it onto the already-updated state would double-count
    cluster sizes.  The reference's analog is restoring the latest
    snapshot on init (drain3/template_miner.py:80-122): state already
    containing a message's effect is never re-fed that message.

    ``process_batch.flush(spark)`` commits cadence-deferred state at
    query shutdown, keyed by the LAST processed batch: if the query
    stopped after foreachBatch completed a skip-commit batch but before
    the stream checkpoint committed it, restart re-delivers that batch
    and the replay guard recognizes it."""
    step: Optional[MicroBatchStep] = None  # loaded on the first batch

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal step
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if step is None:
            loaded = MicroBatchStep(spark, store, cfg)
            if loaded.key == f"stream-{batch_id}":
                return  # at-least-once replay of an already-committed batch
            step = loaded
        mined = step.mine(batch_df, order_cols=order_cols)
        mined.result.assignments.write.mode("overwrite").parquet(
            f"{out_dir}/assignments/batch={batch_id}")
        # cross-batch uniqueness index: the per-batch engine can only
        # see duplicates WITHIN a micro-batch; a clip_id that already
        # arrived in an earlier batch is caught against the persisted
        # seen-id index (the streaming analog of the dedup family's
        # stored band/embedding indexes — tiny (clip_id, ds) rows,
        # partitioned by batch so at-least-once replay overwrites its
        # own partition idempotently).  Maintained for EVERY batch,
        # validated or not — a validate=False batch's ids must still be
        # on record when a later batch duplicates them.  Every
        # ``seen_compact_every`` batches the delta partitions are
        # folded into one snapshot so the listing and the prior scan
        # stay O(K), not O(batches).
        seen_dir = f"{out_dir}/seen_ids"
        prior_seen = _read_prior_seen(spark, seen_dir, batch_id)
        (batch_df.select("clip_id", "ds").distinct()
         .write.mode("overwrite")
         .parquet(f"{seen_dir}/batch={batch_id}"))
        if (seen_compact_every and prior_seen is not None
                and batch_id > 0 and batch_id % seen_compact_every == 0):
            _compact_seen(spark, seen_dir, batch_id, prior_seen)
            prior_seen = _read_prior_seen(spark, seen_dir, batch_id)
        if validate:
            report = engine.validate(batch_df, include_orphans=False)
            violations = report.violations
            if prior_seen is not None:
                from drain3_spark.fixtures import CHECK_UNIQUENESS_CROSS
                cross = (batch_df.select("clip_id", "ds").distinct()
                         .join(prior_seen.select("clip_id",
                                                 F.col("batch").alias("_b")),
                               "clip_id")
                         .groupBy("clip_id", "ds")
                         .agg(F.min("_b").alias("_first"))
                         .select("clip_id", "ds",
                                 F.lit(CHECK_UNIQUENESS_CROSS).alias("check"),
                                 F.concat(F.lit("first_seen_batch="),
                                          F.col("_first").cast("string"))
                                 .alias("detail")))
                violations = violations.unionByName(cross)
            violations.write.mode("overwrite").parquet(
                f"{out_dir}/violations/batch={batch_id}")
            report.partition_report.write.mode("overwrite").parquet(
                f"{out_dir}/partition_report/batch={batch_id}")
            report.violations.unpersist()
        step.commit(mined, step.hw + 1 if step.hw is not None else 0,
                    f"stream-{batch_id}")

    def flush(spark: SparkSession) -> None:
        if step is not None:
            step.flush()

    process_batch.flush = flush
    return process_batch


class StreamingRun(NamedTuple):
    """Handle returned by :func:`run_streaming`.

    ``query`` is the live ``StreamingQuery`` when the stream is still
    running (``once=False`` with no ``timeout_sec``) — the caller owns
    shutdown: ``run.query.stop()`` then ``run.processor.flush(spark)``
    to commit any cadence-deferred state.  For runs that stopped inside
    ``run_streaming`` the flush has already happened and ``query`` is
    the stopped handle."""
    store: "CheckpointStore"
    query: object
    processor: object

    def stop_and_flush(self, spark: SparkSession) -> None:
        """Stop a still-running query and commit deferred state (no-op on
        an already-stopped, already-flushed run)."""
        if self.query.isActive:
            self.query.stop()
            self.query.awaitTermination()
            self.processor.flush(spark)


def run_streaming(spark: SparkSession,
                  source_dir: str,
                  schema,
                  state_dir: str,
                  out_dir: str,
                  cfg: Optional[EngineConfig] = None,
                  vcfg: Optional[ValidationConfig] = None,
                  order_cols=("ds", "clip_id"),
                  validate: bool = True,
                  max_files_per_trigger: int = 8,
                  timeout_sec: Optional[float] = None,
                  once: bool = True,
                  seen_compact_every: int = 16):
    """Stream clips files through mine+validate with checkpointed state.

    ``once=True`` processes all available input then stops (the batch
    replay shape used in tests); otherwise the query runs until
    ``timeout_sec``, or — with no timeout — stays live, and the returned
    :class:`StreamingRun` carries the query + processor so the caller
    can shut down and flush (``run.stop_and_flush(spark)``).
    """
    cfg = cfg or EngineConfig()
    # a micro-batch is no drift baseline; windowed_category_counts is
    # the stream's drift input
    engine = ValidationEngine(replace(vcfg or ValidationConfig(),
                                      with_drift=False))
    store = CheckpointStore(state_dir)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(source_dir))

    process_batch = make_batch_processor(store, cfg, engine, out_dir,
                                         order_cols=order_cols,
                                         validate=validate,
                                         seen_compact_every=seen_compact_every)

    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", f"{state_dir}/_stream_checkpoint"))
    if once:
        query = writer.trigger(availableNow=True).start()
        query.awaitTermination(timeout_sec or 600)
        query.stop()
    else:
        query = writer.start()
        if timeout_sec:
            query.awaitTermination(timeout_sec)
            query.stop()
    # snapshot any cadence-deferred state before handing the store back —
    # but ONLY once the query has stopped: flushing while the streaming
    # thread is live would race process_batch over the shared step and
    # the store (both could commit the same next id).  A still-
    # running query (once=False, no timeout) keeps ownership; the caller
    # shuts it down via the returned handle (StreamingRun.stop_and_flush).
    if not query.isActive:
        process_batch.flush(spark)
    return StreamingRun(store=store, query=query, processor=process_batch)


# ----------------------------------------------- event-time windowed drift

def windowed_category_counts(stream_df: DataFrame,
                             ts_col: str = "event_ts",
                             category_col: str = "codec",
                             window_dur: str = "10 minutes",
                             watermark: str = "5 minutes") -> DataFrame:
    """Event-time windowed category frequencies with LATE-DATA handling —
    the streaming form of the chi-square drift check's contingency
    input (the ``(ds, codec)`` histogram in ``drift.chisq_drift``),
    keyed by tumbling event-time windows instead of the batch ``ds``
    partition.

    ``withWatermark(ts_col, watermark)`` bounds the aggregation state:
    a window finalizes once the watermark (max observed event time
    minus the delay) passes its end, late rows beyond the delay are
    DROPPED rather than corrupting closed windows, and in ``append``
    output mode each window emits exactly once, when it closes — so a
    downstream drift consumer (``drift.chisq_drift`` over the emitted
    rows, window standing in for ``ds``) sees immutable finalized
    histograms.  State size is O(open windows x categories) however
    long the stream runs — the property that makes this safe on an
    unbounded 100-TB ingest feed, where an unwatermarked groupBy would
    accumulate state forever.

    Works on both streaming and batch DataFrames (the batch form is the
    replay/backfill path — same plan, no state)."""
    return (stream_df
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window_dur).alias("w"),
                     F.col(category_col).alias("category"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "category", "n"))


def run_windowed_counts(spark: SparkSession,
                        source_dir: str,
                        schema,
                        out_dir: str,
                        checkpoint_dir: str,
                        ts_col: str = "event_ts",
                        category_col: str = "codec",
                        window_dur: str = "10 minutes",
                        watermark: str = "5 minutes",
                        max_files_per_trigger: int = 1,
                        timeout_sec: float = 600.0):
    """Drive :func:`windowed_category_counts` over a file-source stream
    in APPEND mode (finalized windows only) to parquet.  One file per
    trigger keeps micro-batch arrival order equal to file mtime order,
    so watermark advancement — and therefore which late rows are
    dropped — is deterministic for a given directory layout (the same
    discipline as the q33 mining stream's mtime-ordered files)."""
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(source_dir))
    counts = windowed_category_counts(stream, ts_col, category_col,
                                      window_dur, watermark)
    query = (counts.writeStream
             .outputMode("append")
             .format("parquet")
             .option("path", out_dir)
             .option("checkpointLocation", checkpoint_dir)
             .trigger(availableNow=True)
             .start())
    query.awaitTermination(timeout_sec)
    query.stop()
    return out_dir
