"""Optimization-round measurement harness (guide §1) — NOT the graded
bench.  ``bench.py`` stays frozen; this file exists so individual
queries can be isolated, repeated, and their plans captured without
touching the driver's timing methodology.

Usage::

    python bench_extra.py [--repeats N] [--explain-dir DIR] [--noop] [query ...]

* With no query names: runs every headline entry once in bench order.
* ``--repeats N``: per-query best-of-N (fresh DataFrame each repeat).
* ``--explain-dir plans/r08``: writes ``<query>_<tag>.txt`` with
  ``explain("formatted")`` output per query (tag via ``--tag``).
* ``--noop``: times a noop sink write (computes every column) instead
  of the frozen bench's ``.count()``.

Prints one JSON line with per-query best/median seconds.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--repeats", type=int, default=1)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--tag", default="plan")
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--cc", action="store_true",
                    help="also run the cc_graph_1m section")
    ap.add_argument("--validate", action="store_true",
                    help="also run the validate_clips section")
    ap.add_argument("--audio50k", action="store_true",
                    help="also run the audio_embed/neardup 50k sections")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    import bench_setup as BS
    from drain3_spark.session import get_spark

    spark = get_spark("drain3_spark_bench_extra", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 16))
    BS.prewarm(spark, cpus)

    qs = dict(entry.queries(), **entry.extra_bench_queries())
    names = args.queries or [n for n in qs
                             if n not in ("q33_streaming_mining",
                                          "q50_streaming_window",
                                          "q2_top_customers")]
    timings: dict[str, list[float]] = {}

    def run_one(name: str) -> None:
        samples = []
        for i in range(args.repeats):
            spark.sparkContext.setJobDescription(f"{name} rep{i}")
            # construction INSIDE the clock: operators that materialize
            # shared subtrees eagerly (scope.share, mine_templates'
            # fold) do their heavy work at DataFrame-build time, and
            # the frozen bench times construction+count together
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            samples.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        timings[name] = samples
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            df = qs[name](spark, sf_dir)
            with open(os.path.join(args.explain_dir,
                                   f"{name}_{args.tag}.txt"), "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))

    for name in names:
        if name in qs:
            run_one(name)

    if args.cc:
        from drain3_spark.pipeline.dedup import connected_components
        graph = BS.cc_graph(spark, cpus)
        samples = []
        stats: dict = {}
        for i in range(args.repeats):
            spark.sparkContext.setJobDescription(f"cc_graph_1m rep{i}")
            stats = {}
            t0 = time.time()
            labels = connected_components(graph, stats=stats)
            n = labels.select(F.countDistinct("group_id")).collect()[0][0]
            samples.append(round(time.time() - t0, 3))
            assert n == BS.CC_COMPONENTS, n
        timings["cc_graph_1m"] = samples
        timings["cc_iter_secs"] = [round(s, 3) for s in stats.get("iter_secs", [])]

    if args.validate:
        from drain3_spark.validation.runner import (ValidationConfig,
                                                    ValidationEngine)
        from drain3_spark.config import EngineConfig
        from drain3_spark.operators.mining import mine_templates
        clips, ref, _ = BS.validation_tables(spark, cpus)
        engine = ValidationEngine(ValidationConfig(drift_alpha=0.01,
                                                   dur_bounds=(10, 5000)))
        samples = []
        for i in range(max(2, args.repeats)):
            spark.sparkContext.setJobDescription(f"validate_clips rep{i}")
            t0 = time.time()
            report = engine.validate(clips, ref)
            report.violations.count()
            report.partition_report.count()
            report.violations.unpersist()
            mined = mine_templates(clips, EngineConfig(mining_mode="scalable",
                                                       mining_salt=32))
            mined.clusters.count()
            mined.unpersist()
            samples.append(round(time.time() - t0, 3))
        timings["validate_clips"] = samples

    if args.audio50k:
        from drain3_spark.pipeline.audio_sim import (audio_embeddings,
                                                     audio_near_dup_pairs)
        aclips, _ = BS.audio_clips(spark, cpus)
        for nm, fn in (("audio_embed_50k",
                        lambda: audio_embeddings(aclips).count()),
                       ("audio_neardup_50k",
                        lambda: audio_near_dup_pairs(
                            aclips, threshold=0.999, method="blas").count())):
            samples = []
            for i in range(args.repeats):
                spark.sparkContext.setJobDescription(f"{nm} rep{i}")
                t0 = time.time()
                fn()
                samples.append(round(time.time() - t0, 3))
            timings[nm] = samples

    out = {
        "samples": timings,
        "best": {k: min(v) for k, v in timings.items() if v},
        "median": {k: round(statistics.median(v), 3)
                   for k, v in timings.items() if v},
        "total_best": round(sum(min(v) for k, v in timings.items()
                                if v and k != "cc_iter_secs"), 3),
        "cpus": cpus,
        "sf_dir": sf_dir,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
