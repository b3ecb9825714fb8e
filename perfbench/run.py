"""clipcheck benchmark: one seeded workload, end-to-end or traced.

Usage, from the repository root::

    python3 perfbench/run.py --workload validate_corpus --seed 1 \\
        --seconds 10 --trace 0

Inputs are generated from ``--seed`` (see ``corpus.py``) and cached under
``.perfbench/cache``.  The run then builds a session with
``drain3_spark.session.get_spark`` on ``local[<nproc>]``, times one cold
operation (and, where the workload needs it, more warm-up operations),
then runs operations until ``--seconds`` of steady state have passed (at
least one), checking every operation's output exactly.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
engine's public functions in spans, writes the Spark event log
(uncompressed) and prints the per-layer metrics instead.  Either way the
last stdout line is ``{"correct", "attempted", "failed", "metrics"}``
and the full record (environment, per-operation times, errors, and for
traced runs the spans and the top-10 self-time table) goes to
``.perfbench/results/``.  Everything the run writes stays under
``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
from contextlib import nullcontext
from typing import Dict, List, Optional

T_PROCESS = time.monotonic()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
# no new operation starts after this much wall time (the run must end
# within 180 s)
START_LIMIT_S = 130.0

# printed by an untraced run; the result record also keeps batch_p50_s
# (median operation time) and peak_rss_mib (peak RSS of the driver
# process tree), which are not printed: on validate_corpus and
# audio_dedup every operation has the same clip count, so batch_p50_s is
# clips_per_sec inverted, and peak RSS at get_spark's default heap varies
# by a third between runs
END_TO_END = {"setup_s": "s", "first_run_s": "s", "clips_per_sec": "clips/s"}

# per-layer metric -> unit; every traced run reports all of them (0 where
# the workload does not reach the layer), and incremental_ingest also
# reports INGEST_LAYER
PER_LAYER = {
    "session.get_spark_s": "s",
    "spark.jobs": "count", "spark.stages": "count",
    "spark.codegen_compile_s": "s", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.jvm_gc_s": "s",
    "spark.shuffle_write_mib": "MiB", "spark.shuffle_read_mib": "MiB",
    "spark.python_sent_mib": "MiB", "spark.python_returned_mib": "MiB",
    "spark.python_worker_init_s": "s",
    "first_run.spark.jobs": "count", "first_run.spark.codegen_compile_s": "s",
    "first_run.spark.python_worker_init_s": "s",
    "validation.runner.validate_s": "s", "validation.runner.overlap": "ratio",
    "validation.checks.row_local_s": "s", "validation.checks.uniqueness_s": "s",
    "validation.checks.referential_s": "s",
    "validation.checks.violations": "count",
    "validation.audio.decode_s": "s", "validation.audio.clips": "count",
    "validation.audio.payload_mib": "MiB",
    "validation.audio.decode_failed": "count",
    "validation.drift.stats_s": "s", "validation.drift.false_alarms": "count",
    "operators.mining.mine_s": "s", "operators.mining.rows": "count",
    "operators.mining.clusters": "count",
    "operators.matching.match_s": "s", "operators.matching.matched_share": "ratio",
    "pipeline.audio_sim.embed_s": "s", "pipeline.audio_sim.lsh_candidates": "count",
    "pipeline.audio_sim.pairs": "count", "pipeline.audio_sim.verify_yield": "ratio",
    "pipeline.audio_sim.near_dup_s": "s",
    "pipeline.dedup.groups_s": "s", "pipeline.dedup.cc_generations": "count",
    "pipeline.dedup.cc_generation_s": "s", "pipeline.dedup.cc_converged": "bool",
    "trace.op_p50_s": "s",
}

# the layers only incremental_ingest reaches (it is not a BENCHMARK.json
# workload, so these are not in BENCHMARK.json either)
INGEST_LAYER = {
    "jobs.call_s": "s", "jobs.batches": "count",
    "state.store.commit_s": "s", "state.store.commit_mib": "MiB",
    "state.store.latest_s": "s", "state.store.commits_per_batch": "ratio",
}

# layer time = summed duration of the outermost spans among these names
SPAN_GROUPS = {
    "validation.runner.validate_s": ("validation.runner.validate:materialize",
                                     "validation.runner.validate"),
    "validation.drift.stats_s": ("validation.drift.ks_drift",
                                 "validation.drift.chisq_drift"),
    "operators.mining.mine_s": ("operators.mining.mine_templates:materialize",
                                "operators.mining.mine_templates"),
    "operators.matching.match_s": (
        "operators.matching.match_clusters_sql:materialize",
        "operators.matching.match_clusters_sql"),
    "jobs.call_s": ("jobs.run_incremental",),
    "state.store.commit_s": ("state.store.CheckpointStore.commit",),
    "state.store.latest_s": ("state.store.CheckpointStore.latest",),
    "pipeline.dedup.groups_s": ("pipeline.dedup.dedup_groups:materialize",
                                "pipeline.dedup.dedup_groups",
                                "pipeline.dedup.connected_components"),
}


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _pin_environment(cpus: int) -> Dict[str, str]:
    """Fix the knobs that change results between hosts and keep every
    file the run writes under ``.perfbench/``: ``SPARK_LOCAL_DIRS`` is
    explicit (otherwise ``get_spark`` moves shuffle files to /dev/shm
    when 8 GiB are free there) and temp files go to ``.perfbench/tmp``.
    The driver heap keeps ``get_spark``'s default."""
    tmp = os.path.join(STATE, "tmp")
    pins = {"SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_LOCAL_DIRS": os.path.join(STATE, "spark-local"),
            "TMPDIR": tmp}
    for path in (tmp, pins["SPARK_LOCAL_DIRS"]):
        os.makedirs(path, exist_ok=True)
    os.environ.update(pins)
    import tempfile
    tempfile.tempdir = None      # re-read TMPDIR
    return pins


def _install_spans(tracer, cc_stats: List[dict]) -> None:
    """Wrap each public function the workloads reach, under every name
    it is called by (a module that imported it by name holds its own
    reference)."""
    from drain3_spark import jobs, session
    from drain3_spark.operators import matching, mining
    from drain3_spark.pipeline import audio_sim, dedup
    from drain3_spark.state import store
    from drain3_spark.validation import audio, checks, drift, runner

    orig_cc = dedup.connected_components

    def cc_recording_stats(*args, stats=None, **kwargs):
        # same call, with a stats dict so the generation count is kept
        st = stats if stats is not None else {}
        try:
            return orig_cc(*args, stats=st, **kwargs)
        finally:
            cc_stats.append(st)

    targets = [
        (session, "get_spark", "session.get_spark"),
        (runner.ValidationEngine, "validate", "validation.runner.validate"),
        (runner, "audio_and_container_violations",
         "validation.audio.audio_and_container_violations"),
        (audio, "audio_and_container_violations",
         "validation.audio.audio_and_container_violations"),
        (runner, "ks_drift", "validation.drift.ks_drift"),
        (runner, "chisq_drift", "validation.drift.chisq_drift"),
        (drift, "ks_drift", "validation.drift.ks_drift"),
        (drift, "chisq_drift", "validation.drift.chisq_drift"),
        (mining, "mine_templates", "operators.mining.mine_templates"),
        (jobs, "mine_templates", "operators.mining.mine_templates"),
        (jobs, "run_incremental", "jobs.run_incremental"),
        (matching, "match_clusters_sql", "operators.matching.match_clusters_sql"),
        (store.CheckpointStore, "commit", "state.store.CheckpointStore.commit"),
        (store.CheckpointStore, "latest", "state.store.CheckpointStore.latest"),
        (audio_sim, "audio_embeddings", "pipeline.audio_sim.audio_embeddings"),
        (audio_sim, "audio_lsh_buckets", "pipeline.audio_sim.audio_lsh_buckets"),
        (audio_sim, "audio_near_dup_pairs",
         "pipeline.audio_sim.audio_near_dup_pairs"),
        (dedup, "dedup_groups", "pipeline.dedup.dedup_groups"),
    ]
    for fn in ("row_local_violations", "uniqueness_violations",
               "referential_and_equality_violations",
               "corpus_orphan_violations"):
        targets.append((checks, fn, f"validation.checks.{fn}"))
    for owner, attr, name in targets:
        tracer.wrap(owner, attr, name)
    tracer.patch(dedup, "connected_components", cc_recording_stats)
    tracer.wrap(dedup, "connected_components",
                "pipeline.dedup.connected_components")


def _codegen_reader(spark):
    """Cumulative JVM codegen compile time (ns), or None."""
    cg = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen
    try:
        cg.CodeGenerator.compileTime()
    except Exception:   # py4j raises its own error types for a missing method
        return None
    return lambda: int(cg.CodeGenerator.compileTime())


def _shutdown(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()      # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _timed_call(wl, k: int, tracer):
    """Run operation ``k`` under the clock (and the op's root span)."""
    if tracer:
        tracer.op = k
    try:
        with tracer.span("op") if tracer else nullcontext():
            t = time.perf_counter()
            out = wl.call(k)
            return out, time.perf_counter() - t
    finally:
        if tracer:
            tracer.op = None


def _outermost_sum(spans, names) -> float:
    by_id = {s.sid: s for s in spans}

    def nested(s):
        p = by_id.get(s.parent)
        while p is not None:
            if p.name in names:
                return True
            p = by_id.get(p.parent)
        return False

    return sum(s.duration for s in spans if s.name in names and not nested(s))


def _op_layer(spans, op: int) -> Dict[str, float]:
    from perfbench.eventlog import COUNTERS
    mine = [s for s in spans if s.op == op]
    out = {metric: _outermost_sum(mine, set(names))
           for metric, names in SPAN_GROUPS.items()}
    for c in COUNTERS:
        out["spark." + c] = sum(s.spark.get(c, 0.0) for s in mine)
    root = [s for s in mine if s.name == "op"]
    out["spark.codegen_compile_s"] = root[0].codegen_s if root else 0.0
    out["_commits"] = sum(1 for s in mine
                          if s.name == "state.store.CheckpointStore.commit")
    return out


def _top_self_times(spans, ops: List[int], n: int = 10) -> List[Dict]:
    from perfbench.spans import self_times
    st = self_times(spans)
    agg: Dict[str, Dict] = {}
    for s in spans:
        if s.op not in ops:
            continue
        a = agg.setdefault(s.name, {"span": s.name, "calls": 0, "self_s": 0.0,
                                    "total_s": 0.0, "jobs": 0})
        a["calls"] += 1
        a["self_s"] += st[s.sid]
        a["total_s"] += s.duration
        a["jobs"] += int(s.spark.get("jobs", 0))
    rows = sorted(agg.values(), key=lambda a: -a["self_s"])[:n]
    for r in rows:
        r["self_s"] = round(r["self_s"] / len(ops), 4)
        r["total_s"] = round(r["total_s"] / len(ops), 4)
    return rows


def _per_layer(tracer, log_dir: str, times: Dict[int, float],
               layer: Dict[int, Dict[str, float]], steady: List[int],
               record: Dict) -> Dict[str, float]:
    """Per-layer metrics of a traced run (medians over the steady ops);
    also stores the per-op values, the spans and the top-10 self-time
    table in ``record``."""
    from perfbench.eventlog import fold, read_events
    from perfbench.spans import assign_jobs
    assign_jobs(tracer.spans, fold(read_events(log_dir)))
    per_op = {i: {**_op_layer(tracer.spans, i), **layer.get(i, {})}
              for i in times}
    for v in per_op.values():
        b = v.get("jobs.batches", 0)
        v["state.store.commits_per_batch"] = v["_commits"] / b if b else 0.0
    vals: Dict[str, float] = {}
    for m in {**PER_LAYER, **INGEST_LAYER}:
        xs = [per_op[i][m] for i in steady if m in per_op[i]]
        vals[m] = statistics.median(xs) if xs else 0.0
    first = per_op.get(0, {})
    for m in ("spark.jobs", "spark.codegen_compile_s",
              "spark.python_worker_init_s"):
        vals["first_run." + m] = first.get(m, 0.0)
    vals["session.get_spark_s"] = record["setup_s"]
    vals["trace.op_p50_s"] = record["end_to_end"]["batch_p50_s"]
    record["per_layer"] = vals
    record["per_op_layer"] = {str(i): per_op[i] for i in sorted(per_op)}
    record["top_self_time"] = _top_self_times(tracer.spans, steady)
    record["spans"] = [s.__dict__ for s in tracer.spans]
    print("[perfbench] where the time goes (self time per steady op):",
          file=sys.stderr)
    for r in record["top_self_time"]:
        print(f"  {r['self_s']:9.3f} s  {r['span']}  (calls {r['calls']}, "
              f"jobs {r['jobs']})", file=sys.stderr)
    return vals


def _versions(spark) -> Dict[str, str]:
    jvm = spark._jvm
    return {"spark": spark.version,
            "java": str(jvm.java.lang.System.getProperty("java.version")),
            "python": platform.python_version(), "nproc": str(_nproc())}


def run(args) -> Dict:
    cpus = _nproc()
    pins = _pin_environment(cpus)
    from perfbench import corpus
    from perfbench.procmem import PeakRss, host_steal_s, tree_cpu_s
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS

    t_start = time.monotonic()
    cls = WORKLOADS[args.workload]
    spec = cls.spec
    if args.clips:
        spec = corpus.Spec(**{**spec.__dict__, "n": args.clips})
    t_gen = time.monotonic()
    data = corpus.ensure(os.path.join(STATE, "cache"), ROOT, cls.name,
                         args.seed, spec)
    generate_s = time.monotonic() - t_gen
    run_id = f"{cls.name}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(STATE, "work", run_id)
    os.makedirs(work, exist_ok=True)

    from drain3_spark import session
    tracer: Optional[Tracer] = Tracer() if args.trace else None
    cc_stats: List[dict] = []
    conf = {"spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={pins['TMPDIR']}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if tracer:
        _install_spans(tracer, cc_stats)
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false"})

    rss = PeakRss().start()
    me = os.getpid()
    cpu0, steal0 = tree_cpu_s(me), host_steal_s()
    t0 = time.perf_counter()
    # bench.py's session shape: shuffle partitions max(cpus, 16)
    spark = session.get_spark("perfbench", master=f"local[{cpus}]",
                              shuffle_partitions=max(cpus, 16),
                              extra_conf=conf)
    setup_s = time.perf_counter() - t0
    cpu_s = {"setup": tree_cpu_s(me) - cpu0}
    steal_s = {"setup": host_steal_s() - steal0}
    try:
        if tracer:
            tracer.codegen_ns = _codegen_reader(spark)
        env = _versions(spark)
        wl = cls(spark, data, args.seed, work, spec, tracer)
        if tracer:
            wl.cc_stats = cc_stats
        times: Dict[int, float] = {}
        errors: Dict[str, str] = {}
        layer: Dict[int, Dict[str, float]] = {}
        attempted = 0
        k, steady_t0 = 0, None
        while wl.more(k) and time.monotonic() - t_start < START_LIMIT_S:
            attempted += 1
            try:
                wl.before(k)
                cpu0, steal0 = tree_cpu_s(me), host_steal_s()
                out, times[k] = _timed_call(wl, k, tracer)
                cpu_s[str(k)] = tree_cpu_s(me) - cpu0
                steal_s[str(k)] = host_steal_s() - steal0
                err = wl.check(k, out)
                if tracer and k > 0:
                    layer[k] = {**wl.layer_values(out), **wl.decompose(k, out)}
            except Exception as e:  # the op failed: count it, keep going
                err = f"{type(e).__name__}: {e}"
            if err:
                errors[str(k)] = err
                print(f"[perfbench] op {k} FAILED: {err}", file=sys.stderr)
            k += 1
            if k == wl.warmup_ops:
                steady_t0 = time.monotonic()
            elif (k > wl.warmup_ops
                  and time.monotonic() - steady_t0 >= args.seconds):
                break
        for j in range(wl.final_ops()):
            attempted += 1
            try:
                err = wl.final(j)
            except Exception as e:
                err = f"{type(e).__name__}: {e}"
            if err:
                errors[f"final{j}"] = err
                print(f"[perfbench] final op {j} FAILED: {err}", file=sys.stderr)
    finally:
        peak_mib = rss.stop()
        if tracer:
            tracer.restore()
        _shutdown(spark)

    # a run cut short by START_LIMIT_S falls back to what it has
    steady = ([i for i in sorted(times) if i >= wl.warmup_ops]
              or [i for i in sorted(times) if i > 0] or sorted(times))
    record = {"workload": cls.name, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "clips": spec.n,
              "env": {**env, **pins}, "generate_s": generate_s,
              "setup_s": setup_s,
              "op_s": {str(i): times[i] for i in sorted(times)},
              "cpu_s": cpu_s, "host_steal_s": steal_s,
              "errors": errors, "attempted": attempted}
    e2e = {
        "setup_s": setup_s,
        # 0.0 where every operation raised (the run is then not correct)
        "first_run_s": times.get(0, 0.0),
        "clips_per_sec": statistics.median(wl.clips_in(i) / times[i]
                                           for i in steady) if steady else 0.0,
        "batch_p50_s": statistics.median(times[i] for i in steady)
        if steady else 0.0,
        "peak_rss_mib": peak_mib,
    }
    record["end_to_end"] = e2e
    record["run_wall_s"] = time.monotonic() - T_PROCESS
    if tracer:
        vals = _per_layer(tracer, log_dir, times, layer, steady, record)
        units = {**PER_LAYER, **(INGEST_LAYER if cls.name == "incremental_ingest"
                                 else {})}
        metrics = {m: {"value": vals[m], "unit": u} for m, u in units.items()}
    else:
        metrics = {m: {"value": e2e[m], "unit": u} for m, u in END_TO_END.items()}
    record["metrics"] = metrics
    shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(STATE, "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, run_id + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    return {"correct": not errors, "attempted": attempted,
            "failed": len(errors), "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--clips", type=int, default=None,
                    help="override the workload's base row count")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "drain3_spark")):
        print(f"perfbench: no drain3_spark package under {ROOT}; run from a "
              "full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
