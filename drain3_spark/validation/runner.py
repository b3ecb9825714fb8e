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
  D. audio decode: one column-pruned pass over ``bytes``
  E. drift: two aggregations (value histogram + contingency),
     statistics on the tiny aggregated tables
  F. (optional) template mining / match anomaly via operators.mining
"""

from __future__ import annotations

from contextlib import nullcontext
from dataclasses import dataclass
from typing import List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, functions as F, types as T

from drain3_spark.fixtures import VIOLATION_SCHEMA
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
    # drift-cube duration bucketing: the cube is COLLECTED to the
    # driver, so its dur axis must stay bounded however wide the data's
    # duration domain grows.  None = auto width
    # max(1, (hi-lo)//drift_max_buckets); 1 = exact values (the bounded
    # sandbox domains).  KS on the bucket grid is the standard large-N
    # approximation — D error is at most one bucket's mass.
    drift_dur_bucket_ms: Optional[int] = None
    drift_max_buckets: int = 256
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


class ValidationEngine:
    def __init__(self, config: ValidationConfig | None = None) -> None:
        self.cfg = config or ValidationConfig()

    def violations(self, clips: DataFrame,
                   transcripts_ref: Optional[DataFrame] = None,
                   include_orphans: bool = True,
                   materialize: bool = True,
                   profiler=None) -> DataFrame:
        """Union of all check findings.

        ``materialize=True`` (default) runs the JVM-side checks and the
        Arrow-UDF audio pass as SEPARATE jobs (each persisted) and
        unions the cached results.  Scheduling Python-worker tasks and
        JVM scan branches inside one union-job thrashes badly under
        high local parallelism (measured 4x worse at local[32] on 1M
        clips); at cluster scale the separation also keeps executor
        python memory bounded per stage."""
        cfg = self.cfg
        v = C.row_local_violations(clips, cfg.dur_bounds, cfg.sr_domain)
        if cfg.speech_rate_bounds is not None:
            v = v.unionByName(
                C.speech_rate_violations(clips, cfg.speech_rate_bounds))
        v = v.unionByName(C.uniqueness_violations(clips))
        if transcripts_ref is not None:
            v = v.unionByName(C.referential_and_equality_violations(
                clips, transcripts_ref, include_orphans=include_orphans))
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
        if materialize:
            # profiler sections time each job; sample counts are in-job
            # Observation counters (A17, drain3/simple_profiler.py)
            if profiler is not None:
                v = profiler.observe("checks_jvm", v)
                a = profiler.observe("audio_decode", a)
            v = v.persist()
            a = a.persist()
            # the JVM check job and the Arrow audio job are independent
            # and resource-complementary (JVM codegen vs python workers)
            # — run them as two CONCURRENT jobs (guide §2.6) so each
            # fills the other's task tail.  This is job-level overlap,
            # not the one-union-job interleaving that thrashed (the
            # scheduler still runs each stage's tasks as a unit).
            from concurrent.futures import ThreadPoolExecutor

            def _count(df, name):
                with profiler.section(name) if profiler else nullcontext():
                    df.count()
            with ThreadPoolExecutor(max_workers=2) as pool:
                fv = pool.submit(_count, v, "checks_jvm")
                fa = pool.submit(_count, a, "audio_decode")
                fv.result()
                fa.result()
        return v.unionByName(a)

    def validate(self, clips: DataFrame,
                 transcripts_ref: Optional[DataFrame] = None,
                 include_orphans: bool = True,
                 profiler=None) -> ValidationReport:
        cfg = self.cfg
        spark = clips.sparkSession
        prof_sec = (profiler.section if profiler is not None
                    else (lambda name: nullcontext()))
        # the drift cube reads only the metadata columns of clips and is
        # independent of every check — launch its aggregation as a
        # concurrent job (guide §2.6) so it back-fills while the check
        # and audio jobs materialize; it is awaited once those are done
        # (or have failed) and harvested where the rows are first needed
        cube_future = cube_pool = None
        if cfg.with_drift:
            from concurrent.futures import ThreadPoolExecutor
            lo, hi = cfg.dur_bounds
            dur_w = cfg.drift_dur_bucket_ms or max(
                1, (hi - lo) // cfg.drift_max_buckets)
            dur_b = F.when(
                F.col("dur_ms").between(int(lo), int(hi)),
                (F.floor(F.col("dur_ms") / F.lit(dur_w))
                 * F.lit(dur_w)).cast("long")).alias("dur_ms")

            def _cube():
                with prof_sec("drift_cube"):
                    return (clips.groupBy("ds", dur_b, "codec", "sr_hz")
                            .agg(F.count(F.lit(1)).alias("n")).collect())
            cube_pool = ThreadPoolExecutor(max_workers=1)
            cube_future = cube_pool.submit(_cube)
        try:
            violations = self.violations(clips, transcripts_ref,
                                         include_orphans=include_orphans,
                                         profiler=profiler)
            schema_rows: List[tuple] = []
            if cfg.expected_schema is not None:
                with prof_sec("schema_check"):
                    schema_rows = [tuple(r) for r in C.schema_violations(
                        clips, cfg.expected_schema).collect()]
                if schema_rows:
                    violations = violations.unionByName(
                        local_df(spark, schema_rows, VIOLATION_SCHEMA))
        except BaseException as err:
            # the check error wins; the cube job is cancelled if it has
            # not started, else awaited and its own failure noted — never
            # left running unobserved behind the propagating error
            if cube_future is not None and not cube_future.cancel():
                cube_err = cube_future.exception()
                if cube_err is not None:
                    err.add_note(f"drift cube also failed: {cube_err!r}")
            raise
        finally:
            if cube_pool is not None:
                cube_pool.shutdown(wait=True)
        violations = violations.persist()

        # ONE aggregation pass feeds rows_scanned AND all three drift
        # statistics: the (ds, dur_bucket, codec, sr_hz) cube is
        # BOUNDED by construction — dur_ms is bucketed to at most
        # ~drift_max_buckets in-domain values per ds (codec and sr_hz
        # are small domains), so the driver collect stays a few hundred
        # rows per ds at ANY duration cardinality (the 100x design
        # review: an unbucketed cube scaled linearly with distinct
        # dur values × ds count).  Everything downstream is driver-side
        # numpy.
        hist_rows = None
        if cfg.with_drift:
            # the cube was aggregated concurrently with the check jobs
            # (launched above); out-of-domain durations did NOT leak
            # into the KS histogram via the last partial bucket: only
            # in-domain values are bucketed, the rest carry a NULL
            # bucket so the same cube still counts them for
            # rows_scanned and the categorical histograms
            hist_rows = cube_future.result()
            if profiler is not None:
                profiler.add_samples("drift_cube",
                                     sum(int(r["n"]) for r in hist_rows))
            per_ds_counts: dict = {}
            for r in hist_rows:
                per_ds_counts[r["ds"]] = per_ds_counts.get(r["ds"], 0) + int(r["n"])
            # local_df (Arrow-backed): a list-based createDataFrame here
            # is python-RDD-backed and the cross join below re-evaluates
            # it through python workers on EVERY downstream action —
            # measured ~9s per report action for a 7x7-row product at
            # local[32]; the Arrow local relation costs ~0.2s
            rows_per_ds = local_df(spark, sorted(per_ds_counts.items()),
                                   "ds string, rows_scanned long")
        else:
            rows_per_ds = clips.groupBy("ds").agg(
                F.count(F.lit(1)).alias("rows_scanned"))
        per_check = (violations.filter(F.col("ds").isNotNull())
                     .groupBy("ds", "check")
                     .agg(F.count(F.lit(1)).alias("violation_count")))
        # every (ds, check) pair appears, pass=true when count is 0
        from drain3_spark.fixtures import (CHECK_AUDIO_DECODE, CHECK_DUR_BOUNDS,
                                           CHECK_NULL_TRANSCRIPT, CHECK_REF_MISSING,
                                           CHECK_SR_DOMAIN, CHECK_TRANSCRIPT_EQ,
                                           CHECK_UNIQUENESS)
        check_names = [CHECK_NULL_TRANSCRIPT, CHECK_DUR_BOUNDS, CHECK_SR_DOMAIN,
                       CHECK_UNIQUENESS]
        if transcripts_ref is not None:
            check_names += [CHECK_REF_MISSING, CHECK_TRANSCRIPT_EQ]
        if cfg.with_audio:
            check_names.append(CHECK_AUDIO_DECODE)
        all_checks = local_df(spark, [(c,) for c in sorted(check_names)],
                              "check string")
        grid = rows_per_ds.crossJoin(all_checks)
        report = (grid.join(per_check, ["ds", "check"], "left")
                  .withColumn("violation_count",
                              F.coalesce("violation_count", F.lit(0)))
                  .withColumn("passed", F.col("violation_count") == 0)
                  .withColumn("detail", F.lit(None).cast("string"))
                  .select("ds", "check", "passed", "violation_count",
                          "rows_scanned", "detail"))

        drift_rows: List[tuple] = []
        histograms = None
        if cfg.with_drift:
            # drift measures distribution SHIFT over in-domain values:
            # out-of-domain rows are the row-local checks' findings, and
            # a single such row would make chi-square infinite (category
            # with zero baseline expectation) — double-flagging the
            # partition for what is a per-row defect
            if profiler is not None:
                profiler.start_section("drift_stats")
            sr_dom = {int(s) for s in cfg.sr_domain}
            # the cube bucketed only in-domain durations (out-of-domain
            # rows carry a NULL bucket), so non-null is the whole filter
            ks_hist = [(r["ds"], r["dur_ms"], r["n"]) for r in hist_rows
                       if r["dur_ms"] is not None]
            for rec in ks_drift(None, "dur_ms", cfg.drift_baseline_ds,
                                cfg.drift_alpha, hist=ks_hist):
                drift_rows.append((rec["ds"], rec["check"], bool(rec["passed"]),
                                   0 if rec["passed"] else int(rec["rows"]),
                                   int(rec["rows"]),
                                   f"D={rec['statistic']:.6f} thr={rec['threshold']:.6f} "
                                   f"baseline={rec['baseline_ds']}"))
            # chi-square drift over BOTH categorical columns from the
            # same cube (north-star: sr_hz/codec frequency histograms)
            for cat in ("codec", "sr_hz"):
                chisq_hist = [(r["ds"], r[cat], r["n"]) for r in hist_rows
                              if cat != "sr_hz" or r["sr_hz"] in sr_dom]
                for rec in chisq_drift(None, cat, cfg.drift_baseline_ds,
                                       cfg.drift_alpha, hist=chisq_hist):
                    drift_rows.append((rec["ds"], rec["check"], bool(rec["passed"]),
                                       0 if rec["passed"] else int(rec["rows"]),
                                       int(rec["rows"]),
                                       f"chi2={rec['statistic']:.6f} "
                                       f"thr={rec['threshold']:.6f} "
                                       f"baseline={rec['baseline_ds']}"))
            # per-ds frequency histograms, folded from the cube rows
            hist_out: dict = {}
            for r in hist_rows:
                for col in ("dur_ms", "codec", "sr_hz"):
                    if col == "dur_ms" and r[col] is None:
                        # out-of-domain duration (NULL bucket): a
                        # row-local defect, not a histogram value
                        continue
                    key = (r["ds"], col, str(r[col]))
                    hist_out[key] = hist_out.get(key, 0) + int(r["n"])
            histograms = local_df(
                spark,
                [(ds, col, val, n) for (ds, col, val), n in sorted(hist_out.items())],
                "ds string, column string, value string, n long")
            if profiler is not None:
                profiler.end_section("drift_stats")
        if drift_rows:
            report = report.unionByName(
                local_df(spark, drift_rows, PARTITION_REPORT_SCHEMA))
        if schema_rows is not None and cfg.expected_schema is not None:
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
