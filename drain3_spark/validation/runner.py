"""Validation engine runner (SURVEY.md C9, C12).

Runs the full check family over a clips table and emits:

* ``violations`` — one row per violating clip (exact-match contract
  with the golden fixtures), schema (clip_id, ds, check, detail);
* ``partition_report`` — one row per (ds, check) with pass/fail and
  counts, the per-partition verdict surface demanded by
  BASELINE.json north_rule;
* ``metrics`` — per-partition lineage counters (rows scanned,
  violations, templates seen, clusters created), mirroring the
  reference profiler's report (drain3/simple_profiler.py:101-119).

Pass structure (scan count matters at 100 TB):
  A. row-local checks: one narrow pass, no shuffle
  B. uniqueness: one hash aggregation
  C. referential + equality: one full-outer join
  D. audio decode: one column-pruned pass over ``bytes``, its own
     persisted job (Python workers beside the JVM branches of one job
     thrash); A-C stay lazy and run once, in the action that first
     reads the violations.  The A-D union is cached coalesced to one
     partition per core (``defaultParallelism``), so each read of it
     runs one task per core, not one per child partition
  E. drift: one bounded aggregation, the (ds, dur bucket, codec, sr_hz)
     cube, collected to the driver; rows_scanned, the KS and chi-square
     statistics and the histograms fold from it (:func:`drift_pass`,
     also the corpus drift of ``jobs.run_incremental``)
  F. (optional) template mining / match anomaly via operators.mining
"""

from __future__ import annotations

from contextlib import nullcontext
from dataclasses import dataclass
from typing import Dict, List, NamedTuple, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, functions as F, types as T

from drain3_spark.fixtures import (CHECK_AUDIO_DECODE, CHECK_CONTAINER_META,
                                   CHECK_DUR_BOUNDS, CHECK_LOUDNESS,
                                   CHECK_NULL_TRANSCRIPT, CHECK_REF_MISSING,
                                   CHECK_SPEECH_RATE, CHECK_SPEECH_RATIO,
                                   CHECK_SR_DOMAIN, CHECK_TRANSCRIPT_EQ,
                                   CHECK_UNIQUENESS, VIOLATION_SCHEMA)
from drain3_spark.validation import checks as C
from drain3_spark.validation.audio import audio_and_container_violations
from drain3_spark.validation.drift import chisq_drift, ks_drift
from drain3_spark.util import local_df

PARTITION_REPORT_SCHEMA = T.StructType([
    T.StructField("ds", T.StringType()),
    T.StructField("check", T.StringType()),
    T.StructField("passed", T.BooleanType()),
    T.StructField("violation_count", T.LongType()),
    T.StructField("rows_scanned", T.LongType()),
    T.StructField("detail", T.StringType()),
])

# drift-cube duration bucketing: the cube is COLLECTED to the driver, so
# its dur axis must stay bounded however wide the data's duration domain
# grows.  Bucket width max(1, (hi-lo)//DRIFT_MAX_BUCKETS); KS on the
# bucket grid is the standard large-N approximation — D error is at most
# one bucket's mass.
DRIFT_MAX_BUCKETS = 256


@dataclass
class ValidationConfig:
    dur_bounds: Tuple[int, int] = (100, 5000)
    sr_domain: Sequence[int] = (8000, 16000, 22050, 44100, 48000)
    snr_min: float = 30.0
    drift_baseline_ds: Optional[str] = None
    drift_alpha: float = 0.05
    with_audio: bool = True
    with_drift: bool = True
    # container-vs-column metadata consistency for self-describing
    # (wav*) payloads — header-only parse, no sample decode; a no-op
    # scan on corpora with no container codecs
    check_container_meta: bool = True
    # transcript-vs-duration consistency: chars/sec outside these bounds
    # flags a mismatched pair.  None (default) disables the check — the
    # bound is corpus-specific (read speech vs spontaneous vs machine),
    # so the engine never guesses one
    speech_rate_bounds: Optional[Tuple[float, float]] = None
    # BS.1770 integrated-loudness bounds (LUFS) and minimum energy-VAD
    # speech coverage — opt-in content checks computed from the SAME
    # decoded PCM as the SNR check (no extra bytes scan).  None (the
    # default) disables each: both bounds are corpus-specific
    loudness_bounds: Optional[Tuple[float, float]] = None
    min_speech_ratio: Optional[float] = None
    # declared-schema conformance (SURVEY.md C1): when set, validate()
    # reports column presence/type drift as table-level rows
    expected_schema: Optional[T.StructType] = None


@dataclass
class ValidationReport:
    violations: DataFrame
    partition_report: DataFrame
    metrics: DataFrame
    # (ds, column, value, n) frequency histograms for the drift columns
    # (north-star column stats: sr_hz/codec frequency histograms); built
    # from the same shared cube, no extra scan
    histograms: Optional[DataFrame] = None


class DriftPass(NamedTuple):
    rows_scanned: Dict[str, int]     # ds -> rows, out-of-domain included
    report_rows: List[tuple]         # PARTITION_REPORT_SCHEMA rows
    histograms: List[tuple]          # (ds, column, value, n)


def drift_pass(clips: DataFrame, cfg: ValidationConfig,
               profiler=None) -> DriftPass:
    """The one drift pass: ONE aggregation feeds rows_scanned AND all
    three drift statistics AND the histograms.

    The (ds, dur bucket, codec, sr_hz) cube is BOUNDED by construction —
    dur_ms is bucketed to at most ~DRIFT_MAX_BUCKETS in-domain values
    per ds (codec and sr_hz are small domains), so the driver collect
    stays a few hundred rows per ds at ANY duration cardinality (an
    unbucketed cube scales linearly with distinct dur values × ds
    count).  Out-of-domain durations get a NULL bucket: the same cube
    still counts them for rows_scanned and the categorical histograms,
    but they never leak into the KS histogram.  Everything after the
    collect is driver-side numpy.

    Drift measures distribution SHIFT over in-domain values:
    out-of-domain rows are the row-local checks' findings, and a single
    such row would make chi-square infinite (category with zero baseline
    expectation) — double-flagging the partition for what is a per-row
    defect."""
    sec = (profiler.section if profiler is not None
           else (lambda name: nullcontext()))
    lo, hi = cfg.dur_bounds
    width = max(1, (hi - lo) // DRIFT_MAX_BUCKETS)
    dur_b = F.when(
        F.col("dur_ms").between(int(lo), int(hi)),
        (F.floor(F.col("dur_ms") / F.lit(width))
         * F.lit(width)).cast("long")).alias("dur_ms")
    with sec("drift_cube"):
        cube = (clips.groupBy("ds", dur_b, "codec", "sr_hz")
                .agg(F.count(F.lit(1)).alias("n")).collect())
    if profiler is not None:
        profiler.add_samples("drift_cube", sum(int(r["n"]) for r in cube))

    with sec("drift_stats"):
        rows_scanned: Dict[str, int] = {}
        hist: Dict[tuple, int] = {}
        for r in cube:
            rows_scanned[r["ds"]] = rows_scanned.get(r["ds"], 0) + int(r["n"])
            for col in ("dur_ms", "codec", "sr_hz"):
                if col == "dur_ms" and r[col] is None:
                    continue   # out-of-domain duration: not a histogram value
                key = (r["ds"], col, str(r[col]))
                hist[key] = hist.get(key, 0) + int(r["n"])

        sr_dom = {int(s) for s in cfg.sr_domain}
        # ks_drift / chisq_drift are looked up in this module's globals
        # on each call, so a wrapper installed on the module sees them
        recs = [("D", rec) for rec in ks_drift(
            None, "dur_ms", cfg.drift_baseline_ds, cfg.drift_alpha,
            hist=[(r["ds"], r["dur_ms"], r["n"]) for r in cube
                  if r["dur_ms"] is not None])]
        for cat in ("codec", "sr_hz"):
            recs += [("chi2", rec) for rec in chisq_drift(
                None, cat, cfg.drift_baseline_ds, cfg.drift_alpha,
                hist=[(r["ds"], r[cat], r["n"]) for r in cube
                      if cat != "sr_hz" or r["sr_hz"] in sr_dom])]
        report_rows = [
            (rec["ds"], rec["check"], bool(rec["passed"]),
             0 if rec["passed"] else int(rec["rows"]), int(rec["rows"]),
             f"{stat}={rec['statistic']:.6f} thr={rec['threshold']:.6f} "
             f"baseline={rec['baseline_ds']}")
            for stat, rec in recs]
    return DriftPass(rows_scanned, report_rows,
                     [k + (n,) for k, n in sorted(hist.items())])


def _report_checks(cfg: ValidationConfig, with_ref: bool) -> List[str]:
    """The per-partition checks :meth:`ValidationEngine.violations`
    runs under ``cfg`` (``with_ref``: a transcripts reference is given),
    read from the same config fields.  Every one gets a report row per
    ``ds``, passing when it found nothing there."""
    names = [CHECK_NULL_TRANSCRIPT, CHECK_DUR_BOUNDS, CHECK_SR_DOMAIN,
             CHECK_UNIQUENESS]
    if cfg.speech_rate_bounds is not None:
        names.append(CHECK_SPEECH_RATE)
    if with_ref:
        names += [CHECK_REF_MISSING, CHECK_TRANSCRIPT_EQ]
    if cfg.with_audio:
        names.append(CHECK_AUDIO_DECODE)
        if cfg.check_container_meta:
            names.append(CHECK_CONTAINER_META)
        if cfg.loudness_bounds is not None:
            names.append(CHECK_LOUDNESS)
        if cfg.min_speech_ratio is not None:
            names.append(CHECK_SPEECH_RATIO)
    return sorted(names)


class ValidationEngine:
    def __init__(self, config: ValidationConfig | None = None) -> None:
        self.cfg = config or ValidationConfig()

    def violations(self, clips: DataFrame,
                   transcripts_ref: Optional[DataFrame] = None,
                   include_orphans: bool = True,
                   profiler=None) -> DataFrame:
        """Union of all check findings.

        The JVM-side checks stay lazy: the returned frame computes them
        once, in the action that first reads it.  The Arrow-UDF audio
        pass runs first as its OWN persisted job, which the returned
        frame reads from the cache.  Scheduling Python-worker tasks and
        JVM scan branches inside one union job thrashes badly under high
        local parallelism (measured 4x worse at local[32] on 1M clips);
        at cluster scale the separation also keeps executor python
        memory bounded per stage.

        With a ``profiler``, the JVM checks carry the ``checks_jvm``
        in-job counter (credited by the action that reads them) and the
        audio job is timed and counted in section ``audio_decode``
        (A17, drain3/simple_profiler.py)."""
        cfg = self.cfg
        v = C.row_local_violations(clips, cfg.dur_bounds, cfg.sr_domain)
        if cfg.speech_rate_bounds is not None:
            v = v.unionByName(
                C.speech_rate_violations(clips, cfg.speech_rate_bounds))
        v = v.unionByName(C.uniqueness_violations(clips))
        if transcripts_ref is not None:
            v = v.unionByName(C.referential_and_equality_violations(
                clips, transcripts_ref, include_orphans=include_orphans))
        if profiler is not None:
            v = profiler.observe("checks_jvm", v)
        if not cfg.with_audio:
            return v
        # SNR decode + (when enabled) container metadata, loudness and
        # speech ratio in ONE bytes scan — a separate container pass
        # doubled the engine's payload I/O (measured +51% per 4M-clip
        # validation iteration)
        a = audio_and_container_violations(
            clips, cfg.snr_min, cfg.dur_bounds, cfg.sr_domain,
            check_container=cfg.check_container_meta,
            loudness_bounds=cfg.loudness_bounds,
            min_speech_ratio=cfg.min_speech_ratio)
        if profiler is not None:
            a = profiler.observe("audio_decode", a)
        a = a.persist()
        with profiler.section("audio_decode") if profiler else nullcontext():
            a.count()
        return v.unionByName(a)

    def validate(self, clips: DataFrame,
                 transcripts_ref: Optional[DataFrame] = None,
                 include_orphans: bool = True,
                 profiler=None) -> ValidationReport:
        cfg = self.cfg
        spark = clips.sparkSession
        # the drift pass reads only the metadata columns of clips and is
        # independent of every check — run it on its own thread so its
        # cube job back-fills while the audio job runs (guide §2.6); it
        # is awaited once the checks are done (or have failed)
        drift_future = drift_pool = None
        if cfg.with_drift:
            from concurrent.futures import ThreadPoolExecutor
            drift_pool = ThreadPoolExecutor(max_workers=1)
            drift_future = drift_pool.submit(drift_pass, clips, cfg, profiler)
        try:
            violations = self.violations(clips, transcripts_ref,
                                         include_orphans=include_orphans,
                                         profiler=profiler)
            schema_rows: List[tuple] = []
            if cfg.expected_schema is not None:
                with (profiler.section("schema_check") if profiler
                      else nullcontext()):
                    schema_rows = [tuple(r) for r in C.schema_violations(
                        clips, cfg.expected_schema).collect()]
                if schema_rows:
                    violations = violations.unionByName(
                        local_df(spark, schema_rows, VIOLATION_SCHEMA))
            # one cached partition per core: the union concatenates its
            # children's partitions (row-local scan, uniqueness,
            # referential, audio cache), AQE does not coalesce a cached
            # plan, and every later read (collect, report) would run one
            # task per child partition.  coalesce, not repartition: an
            # Exchange would still run every upstream task
            violations = (violations
                          .coalesce(spark.sparkContext.defaultParallelism)
                          .persist())
            if profiler is not None:
                # the JVM checks' one job: it fills the violations cache
                # and credits the checks_jvm in-job counter
                with profiler.section("checks_jvm"):
                    violations.count()
        except BaseException as err:
            # the check error wins; the drift job is cancelled if it has
            # not started, else awaited and its own failure noted — never
            # left running unobserved behind the propagating error
            if drift_future is not None and not drift_future.cancel():
                drift_err = drift_future.exception()
                if drift_err is not None:
                    err.add_note(f"drift cube also failed: {drift_err!r}")
            raise
        finally:
            if drift_pool is not None:
                drift_pool.shutdown(wait=True)

        if cfg.with_drift:
            drift = drift_future.result()
            # local_df (Arrow-backed): a list-based createDataFrame here
            # is python-RDD-backed and the cross join below re-evaluates
            # it through python workers on EVERY downstream action —
            # measured ~9s per report action for a 7x7-row product at
            # local[32]; the Arrow local relation costs ~0.2s
            rows_per_ds = local_df(spark, sorted(drift.rows_scanned.items()),
                                   "ds string, rows_scanned long")
        else:
            rows_per_ds = clips.groupBy("ds").agg(
                F.count(F.lit(1)).alias("rows_scanned"))
        per_check = (violations.filter(F.col("ds").isNotNull())
                     .groupBy("ds", "check")
                     .agg(F.count(F.lit(1)).alias("violation_count")))
        # every (ds, check) pair appears, pass=true when count is 0
        checks = _report_checks(cfg, transcripts_ref is not None)
        all_checks = local_df(spark, [(c,) for c in checks], "check string")
        grid = rows_per_ds.crossJoin(all_checks)
        report = (grid.join(per_check, ["ds", "check"], "left")
                  .withColumn("violation_count",
                              F.coalesce("violation_count", F.lit(0)))
                  .withColumn("passed", F.col("violation_count") == 0)
                  .withColumn("detail", F.lit(None).cast("string"))
                  .select("ds", "check", "passed", "violation_count",
                          "rows_scanned", "detail"))

        histograms = None
        if cfg.with_drift:
            if drift.report_rows:
                report = report.unionByName(
                    local_df(spark, drift.report_rows, PARTITION_REPORT_SCHEMA))
            # per-ds frequency histograms, folded from the same cube
            histograms = local_df(spark, drift.histograms,
                                  "ds string, column string, value string, n long")
        if cfg.expected_schema is not None:
            # table-level schema verdict (C1): one row, ds='__table__'
            report = report.unionByName(local_df(spark,
                [("__table__", "schema", len(schema_rows) == 0,
                  len(schema_rows), None,
                  "; ".join(r[3] for r in schema_rows) or None)],
                PARTITION_REPORT_SCHEMA))

        metrics = (report.filter(F.col("ds") != "__table__").groupBy("ds").agg(
            F.max("rows_scanned").alias("rows_scanned"),
            F.sum("violation_count").alias("violations"),
            F.count(F.lit(1)).alias("checks_run"),
            F.sum(F.when(~F.col("passed"), 1).otherwise(0)).alias("checks_failed")))

        return ValidationReport(violations=violations,
                                partition_report=report,
                                metrics=metrics,
                                histograms=histograms)
