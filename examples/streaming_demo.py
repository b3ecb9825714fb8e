"""Streaming demo (reference examples/drain_stdin_demo.py:49-75 recast):
clip files land in a directory; Structured Streaming mines + validates
each micro-batch through the checkpointed state, then an 'online
matcher' loads the latest snapshot and classifies fresh transcripts.

Run:  python examples/streaming_demo.py
"""
import os
import shutil
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F

from drain3_spark import fixtures as FX
from drain3_spark.config import EngineConfig
from drain3_spark.core.kernel import TemplateBank
from drain3_spark.session import get_spark
from drain3_spark.streaming import run_streaming


def main():
    spark = get_spark("streaming_demo")
    work = "/tmp/drain3_spark_stream_demo"
    shutil.rmtree(work, ignore_errors=True)

    clips = FX.gen_clips(spark, 3000, n_ds=3, dur_lo=100, dur_hi=300).cache()
    for ds in [r.ds for r in clips.select("ds").distinct().collect()]:
        clips.filter(F.col("ds") == ds).coalesce(1) \
            .write.mode("overwrite").parquet(f"{work}/incoming/f_{ds}")
    print("3 clip files landed; starting the stream (availableNow)...")

    store = run_streaming(spark, f"{work}/incoming/f_*", clips.schema,
                          state_dir=f"{work}/state", out_dir=f"{work}/out",
                          cfg=EngineConfig(), max_files_per_trigger=1).store
    _, rows, counter, key = store.latest(spark)
    # the cadence defers batches without a cluster change, so snapshots
    # can be fewer than the micro-batches processed
    n_batches = sum(d.startswith("batch=")
                    for d in os.listdir(f"{work}/out/assignments"))
    print(f"stream drained: {n_batches} micro-batches processed, "
          f"{len(store.committed_batches())} state snapshots committed "
          f"(last {key}), {len(rows)} template clusters, counter={counter}")

    from drain3_spark.operators.mining import cluster_tuples_to_state
    bank = TemplateBank.from_state(cluster_tuples_to_state(sorted(rows)),
                                   counter=counter)
    for probe in ("user u7 logged in from 10.1.2.3",
                  "cache flush completed",
                  "an entirely novel line shape"):
        hit = bank.match(probe, "fallback")
        print(f"  online match {probe!r} -> "
              f"{'cluster ' + str(hit.cid) if hit else 'NO MATCH (violation candidate)'}")


if __name__ == "__main__":
    main()
