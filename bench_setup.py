"""Shared setup of the legacy harnesses ``bench.py`` and
``bench_extra.py``: the session prewarm and the three generated inputs
(the 1M-edge connected-components graph, the 50k-clip audio corpus and
the 200k-clip validation tables).  Both harnesses import it, so their
isolated numbers are charged the same worker-import cost and time the
same inputs."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

# 800 long chains of 1024 nodes + 256 dense star blobs of 801 nodes
CC_EDGES = 800 * 1023 + 256 * 800
CC_COMPONENTS = 800 + 256


def prewarm(spark, cpus: int) -> None:
    """Warm up the JVM/codegen path and the python worker pool so the
    first timed query isn't charged session/worker initialization."""
    spark.range(1000000).selectExpr("sum(id)").collect()
    from pyspark.sql.functions import pandas_udf

    def _warm_fn(x):
        # import EVERY module a timed Arrow stage will touch: the
        # per-worker import storm (numpy/pandas/pyarrow + the engine's
        # DSP/codec modules, ~seconds x 32 workers under contention)
        # must land here, in the untimed prewarm, not inside the first
        # audio query's clock
        import numpy, pandas  # noqa
        import drain3_spark.audio.codecs  # noqa
        import drain3_spark.audio.flac  # noqa
        import drain3_spark.audio.wav  # noqa
        import drain3_spark.audio.synth  # noqa
        import drain3_spark.fixtures  # noqa
        import drain3_spark.pipeline.audio_fp  # noqa
        import drain3_spark.pipeline.audio_quality  # noqa
        import drain3_spark.pipeline.audio_sim  # noqa
        import drain3_spark.pipeline.dedup  # noqa
        import drain3_spark.pipeline.multimodal  # noqa
        import drain3_spark.pipeline.similarity  # noqa
        import drain3_spark.pipeline.text  # noqa
        import drain3_spark.core.kernel  # noqa
        import drain3_spark.operators.mining  # noqa
        return x
    warm = pandas_udf(_warm_fn, "long")
    spark.range(0, cpus * 4, numPartitions=cpus * 4).select(warm("id")).count()


def cc_graph(spark, cpus: int):
    """The largest pair graph the engine builds, ``CC_EDGES`` >= 1M
    edges held by one worker: 800 long chains of 1024 nodes (the worst
    diameter per edge) + 256 dense star blobs (the shape near-dup
    components actually take); ``CC_COMPONENTS`` components."""
    chains = (spark.range(800 * 1023)
              .select(((F.col("id") / 1023).cast("long") * 100000
                       + F.pmod(F.col("id"), 1023)).alias("id_a"))
              .withColumn("id_b", F.col("id_a") + 1))
    blobs = (spark.range(256 * 800)
             .select((F.lit(1_000_000_000)
                      + (F.col("id") / 800).cast("long") * 10000).alias("id_a"),
                     (F.lit(1_000_000_000)
                      + (F.col("id") / 800).cast("long") * 10000
                      + F.pmod(F.col("id"), 800) + 1).alias("id_b")))
    return chains.unionByName(blobs).repartition(cpus)


def audio_clips(spark, cpus: int):
    """``(clips, n)``: the clean audio corpus of
    ``$SPARK_GRAFT_BENCH_AUDIO_CLIPS`` (default 50k) 20-60 ms clips,
    generated once to parquet (generation is never timed)."""
    from drain3_spark import fixtures as FX
    n = int(os.environ.get("SPARK_GRAFT_BENCH_AUDIO_CLIPS", "50000"))
    path = f"/tmp/drain3_spark_bench_audio_v1/clips_{n}"
    if not os.path.exists(path + "/_SUCCESS"):
        FX.write_clips(FX.gen_clips(spark, n, dirty=False, dur_lo=20,
                                    dur_hi=60, partitions=cpus * 2), path)
    return spark.read.parquet(path), n


def validation_tables(spark, cpus: int):
    """``(clips, ref, n)``: the dirty clips table and its transcript
    reference of ``$SPARK_GRAFT_BENCH_CLIPS`` (default 200k) rows,
    generated once to parquet (generation is never timed)."""
    from drain3_spark import fixtures as FX
    n = int(os.environ.get("SPARK_GRAFT_BENCH_CLIPS", "200000"))
    work = "/tmp/drain3_spark_bench_clips_v2"  # v2: fixture adds sr-flip on the drift partition
    clips_path = f"{work}/clips_{n}"
    ref_path = f"{work}/ref_{n}"
    if not os.path.exists(clips_path + "/_SUCCESS"):
        FX.write_clips(FX.gen_clips(spark, n, dirty=True, dur_lo=20,
                                    dur_hi=60, partitions=cpus * 2), clips_path)
        FX.gen_transcripts_ref(spark, n, dirty=True, dur_lo=20, dur_hi=60,
                               partitions=cpus * 2) \
            .write.mode("overwrite").parquet(ref_path)
    return spark.read.parquet(clips_path), spark.read.parquet(ref_path), n
