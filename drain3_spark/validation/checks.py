"""Row- and table-level validation checks (SURVEY.md C1-C4, C9).

Design for 100 TB: the row-local checks (null / bounds / domain) run in
ONE narrow pass — per-row flag structs exploded into violation rows, no
shuffle.  Uniqueness is one hash aggregation on the key.  Referential
integrity and transcript equality share ONE full-outer join on clip_id.
The audio payload check (validation.audio) is the only pass that reads
``bytes``; every other pass prunes it at the parquet scan.

Violation detail strings are the exact-match contract shared with
drain3_spark.fixtures (golden expectations).
"""

from __future__ import annotations

from typing import Sequence, Tuple

from pyspark.sql import Column, DataFrame, functions as F, types as T

from drain3_spark.fixtures import (CHECK_DUR_BOUNDS, CHECK_NULL_TRANSCRIPT,
                                   CHECK_REF_MISSING, CHECK_REF_ORPHAN,
                                   CHECK_SR_DOMAIN, CHECK_TRANSCRIPT_EQ,
                                   CHECK_UNIQUENESS, VIOLATION_SCHEMA)


def _violation(clip_id: Column, ds: Column, check: str, detail: Column) -> Column:
    return F.struct(clip_id.alias("clip_id"), ds.alias("ds"),
                    F.lit(check).alias("check"), detail.alias("detail"))


def row_local_violations(clips: DataFrame,
                         dur_bounds: Tuple[int, int] = (100, 5000),
                         sr_domain: Sequence[int] = (8000, 16000, 22050, 44100, 48000),
                         ) -> DataFrame:
    """Null / bounds / domain checks in one narrow pass (no shuffle).

    Reference precedent: the miner's implicit per-row contract
    (drain3/drain.py:188 takes exactly one non-null str)."""
    lo, hi = dur_bounds
    cid, ds = F.col("clip_id"), F.col("ds")
    checks = F.array(
        F.when(F.col("transcript").isNull() | (F.col("transcript") == ""),
               _violation(cid, ds, CHECK_NULL_TRANSCRIPT,
                          F.lit("transcript is null or empty"))),
        F.when((F.col("dur_ms") < lo) | (F.col("dur_ms") > hi),
               _violation(cid, ds, CHECK_DUR_BOUNDS,
                          F.concat(F.lit("dur_ms="), F.col("dur_ms").cast("string"),
                                   F.lit(f" outside [{lo}, {hi}]")))),
        F.when(~F.col("sr_hz").isin(*[int(s) for s in sr_domain]),
               _violation(cid, ds, CHECK_SR_DOMAIN,
                          F.concat(F.lit("sr_hz="), F.col("sr_hz").cast("string"),
                                   F.lit(" not in domain")))),
    )
    return (clips
            .select(F.explode(F.filter(checks, lambda c: c.isNotNull())).alias("v"))
            .select("v.*"))


def speech_rate_violations(clips: DataFrame,
                           rate_bounds: Tuple[float, float]) -> DataFrame:
    """Transcript-vs-duration consistency: characters per second of
    audio outside ``rate_bounds`` flags a mismatched pair (a transcript
    pasted onto the wrong clip, or a truncated/padded payload whose
    dur_ms no longer matches its words — defects the per-column checks
    cannot see because each column is individually healthy).  Human
    speech runs ~8-25 chars/sec; machine-read corpora trend higher.
    One narrow pass, no shuffle, transcript+dur_ms columns only."""
    from drain3_spark.fixtures import CHECK_SPEECH_RATE
    lo, hi = float(rate_bounds[0]), float(rate_bounds[1])
    rate = (F.length("transcript") * 1000.0
            / F.greatest(F.col("dur_ms"), F.lit(1)))
    bad = (F.col("transcript").isNotNull() & (F.col("dur_ms") > 0)
           & ((rate < lo) | (rate > hi)))
    return (clips.filter(bad)
            .select(F.col("clip_id"), F.col("ds"),
                    F.lit(CHECK_SPEECH_RATE).alias("check"),
                    F.concat(F.lit("chars_per_sec="),
                             F.round(rate, 2).cast("string"),
                             F.lit(f" outside [{lo}, {hi}]")).alias("detail")))


def uniqueness_violations(clips: DataFrame, key: str = "clip_id") -> DataFrame:
    """Duplicate-key rows via one hash aggregation
    (reference precedent: unique sequential cluster ids,
    drain3/drain.py:201-202)."""
    return (clips
            .groupBy(key, "ds")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > 1)
            .select(F.col(key).alias("clip_id"), "ds",
                    F.lit(CHECK_UNIQUENESS).alias("check"),
                    F.concat(F.lit("count="), F.col("_n").cast("string")).alias("detail")))


def referential_and_equality_violations(clips: DataFrame,
                                        transcripts_ref: DataFrame,
                                        include_orphans: bool = True) -> DataFrame:
    """Missing-ref / orphan-ref / transcript-equality from ONE full-outer
    join on clip_id (reference precedent for the anti-join shape: stale
    cluster-id cleanup, drain3/drain.py:345-351).

    A clip with a null transcript is the null check's finding, not an
    equality mismatch.

    ``include_orphans=False`` when ``clips`` is one micro-batch of a
    larger corpus: a ref row without a clip in *this batch* may match a
    clip in another partition, so orphan detection is a whole-corpus
    pass (drain3_spark.jobs runs it once against the full input)."""
    left = clips.select("clip_id", "ds", "transcript").alias("c")
    right = transcripts_ref.select(
        F.col("clip_id").alias("r_clip_id"),
        F.col("transcript_ref").alias("transcript_ref")).alias("r")
    how = "full_outer" if include_orphans else "left"
    j = left.join(right, F.col("c.clip_id") == F.col("r.r_clip_id"), how)

    # one physical join: the three findings are conditional structs over
    # the joined row, exploded in the same stage (a union of filters
    # would re-execute the join once per branch)
    c_id, r_id = F.col("c.clip_id"), F.col("r.r_clip_id")
    findings = [
        F.when(c_id.isNotNull() & r_id.isNull(),
               _violation(c_id, F.col("c.ds"), CHECK_REF_MISSING,
                          F.lit("no transcript_ref row"))),
        F.when(c_id.isNotNull() & r_id.isNotNull()
               & F.col("c.transcript").isNotNull()
               & (F.col("c.transcript") != F.col("r.transcript_ref")),
               _violation(c_id, F.col("c.ds"), CHECK_TRANSCRIPT_EQ,
                          F.lit("transcript != transcript_ref"))),
    ]
    if include_orphans:
        findings.append(
            F.when(c_id.isNull(),
                   _violation(r_id, F.lit(None).cast("string"), CHECK_REF_ORPHAN,
                              F.lit("transcript_ref row without clip"))))
    return (j.select(F.explode(F.filter(F.array(*findings),
                                        lambda v: v.isNotNull())).alias("v"))
            .select("v.*")
            .distinct())


CHECK_TEMPLATE_ANOMALY = "template_anomaly"


def template_anomaly_violations(assignments: DataFrame, clusters: DataFrame,
                                min_cluster_size: int = 5,
                                id_col: str = "clip_id") -> DataFrame:
    """Cluster-level anomaly signal (SURVEY.md C5): clips whose mined
    cluster stayed rare (final size < threshold) are violation
    candidates — the validation reading of the reference's
    ``sim < sim_th -> new cluster`` novelty signal
    (drain3/drain.py:147-148, change_type at :206).

    One broadcast join of assignments against the (small) cluster table."""
    rare = clusters.filter(F.col("size") < min_cluster_size) \
        .select("cluster_id", F.col("size").alias("_csize"))
    return (assignments
            .join(F.broadcast(rare), "cluster_id")
            .select(F.col(id_col).alias("clip_id"),
                    F.col("ds"),
                    F.lit(CHECK_TEMPLATE_ANOMALY).alias("check"),
                    F.concat(F.lit("rare template cluster "),
                             F.col("cluster_id").cast("string"),
                             F.lit(" size="),
                             F.col("_csize").cast("string")).alias("detail")))


def corpus_orphan_violations(clips: DataFrame,
                             transcripts_ref: DataFrame) -> DataFrame:
    """Orphan transcript_ref rows vs the FULL clips corpus — one
    left-anti join.  Corpus-level by definition (a ref row may match a
    clip in any partition), so the incremental driver runs this once per
    invocation, not per micro-batch."""
    return (transcripts_ref
            .join(clips.select("clip_id"), "clip_id", "left_anti")
            .select("clip_id",
                    F.lit(None).cast("string").alias("ds"),
                    F.lit(CHECK_REF_ORPHAN).alias("check"),
                    F.lit("transcript_ref row without clip").alias("detail")))


def schema_violations(clips: DataFrame, expected: T.StructType) -> DataFrame:
    """Declared-schema conformance (SURVEY.md C1): column presence, type,
    and nullability drift reported as table-level violation rows
    (clip_id null)."""
    spark = clips.sparkSession
    actual = {f.name: f for f in clips.schema.fields}
    problems = []
    for f in expected.fields:
        a = actual.get(f.name)
        if a is None:
            problems.append((None, None, "schema", f"missing column {f.name}"))
        elif a.dataType.simpleString() != f.dataType.simpleString():
            problems.append((None, None, "schema",
                             f"column {f.name}: {a.dataType.simpleString()} "
                             f"!= {f.dataType.simpleString()}"))
    for name in actual:
        if name not in {f.name for f in expected.fields}:
            problems.append((None, None, "schema", f"unexpected column {name}"))
    from drain3_spark.util import local_df
    return local_df(spark, problems, VIOLATION_SCHEMA)


def column_percentiles(df: DataFrame, value_col: str,
                       group_cols=("ds",),
                       percentiles=(0.5, 0.9, 0.99)) -> DataFrame:
    """EXACT percentiles per group (linear interpolation — the same
    definition as ANSI ``percentile_cont``), extending SURVEY.md C2's
    column stats with distribution shape: a null-rate/min/max pass
    misses a duration column whose p99 silently doubled.

    Uses Spark's exact ``percentile`` aggregate (sort-based within the
    hash aggregation, one shuffle on the group key).  At 10^12 rows per
    group, swap for ``approx_percentile`` with a bounded error — same
    call shape, sketch-mergeable, no sort."""
    aggs = [F.round(F.percentile(value_col, F.lit(p)), 6)
            .alias(f"p{int(p * 100)}") for p in percentiles]
    return df.groupBy(*group_cols).agg(*aggs)
