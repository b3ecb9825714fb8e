"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

from drain3_spark.util import AppScopedCache

logger = logging.getLogger(__name__)


def get_spark(app_name: str = "drain3_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build a session tuned for this engine.

    AQE handles runtime partition coalescing and skew-join splitting
    (the distributed analog of the reference's max_children hot-key
    collapsing, drain3/drain.py:364-382); Arrow is the mandatory
    Python boundary: every Python operator is a ``mapInArrow`` map or
    an ``arrow_udf`` over whole Arrow batches, never a per-row UDF.
    """
    master = master or os.environ.get("SPARK_MASTER", "local[*]")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and master.startswith("local["):
        master = f"local[{cpus}]"
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    # heap scales with local task concurrency: 32 concurrent tasks in the
    # default 8g heap spend 2-3x wall time in GC on shuffle aggregations
    # (measured: uniqueness 7.7s -> 4.0s, drift cube 6.0s -> 2.8s at
    # local[32] moving 8g -> 24g; no effect at local[8]).  On a real
    # cluster this is executor memory sizing — per-task headroom, not a
    # single shared heap.
    n_local = 0
    if master.startswith("local"):
        inner = master[master.find("[") + 1:master.find("]")] if "[" in master else "1"
        n_local = os.cpu_count() if inner == "*" else int(inner)
    default_mem = "8g"
    if n_local >= 16:
        # cap by detected system memory: a 24g heap on a <32GiB host
        # would fail to start (or get OOM-killed); SPARK_DRIVER_MEMORY
        # overrides either way
        try:
            with open("/proc/meminfo") as fh:
                total_kb = int(next(ln for ln in fh
                                    if ln.startswith("MemTotal")).split()[1])
            total_gib = total_kb / (1024 * 1024)
        except (OSError, StopIteration, ValueError, IndexError):
            total_gib = None
        if total_gib is None or total_gib >= 32:
            default_mem = "24g"
        else:
            default_mem = f"{max(2, int(total_gib // 2))}g"
    b = (
        SparkSession.builder.master(master).appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # binary audio payloads inflate Arrow batches; keep them bounded
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # ds partition values stay strings on read-back (the engine's
        # order-key and violation contracts are string-typed)
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        # smaller input splits than the 128m default: the binary-decode
        # stages are python-CPU-bound per byte, so more (and smaller)
        # scan partitions keep every Arrow worker fed (measured ~30%
        # on the audio pass); AQE coalesces the shuffle side anyway
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", default_mem))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    from drain3_spark.shipping import ship_package
    ship_package(spark)
    _prewarm_python_runners(spark)
    return spark


_PREWARMED = AppScopedCache()


def _prewarm_python_runners(spark: SparkSession) -> None:
    """One-time per-application warm of the ``mapInArrow`` runner
    (guide §4.5: heavyweight init once, not inside the first operator
    that needs it).  The first ``mapInArrow`` stage of a session
    otherwise pays JVM Arrow-runner setup plus a python-worker
    handshake (~1-2s at local[32]) inside whatever operator happens to
    run first: the audio operators, the fixture generators, the mining
    fold, the near-dup verify and connected components all run on this
    runner.  Each warmed worker imports the package, and with it its
    cheap import-cache reset (``shipping``), before its first engine
    task, and reports where it imported it from
    (:func:`_check_worker_package`)."""
    _PREWARMED.get(spark, (), lambda: _warm_runners(spark))


def _warm_runners(spark: SparkSession) -> bool:
    def package_dir(batches):
        # a closure, so it is pickled by value: the import below is the
        # worker's own, from the first drain3_spark on its sys.path, so
        # the batch is built without it (it may be another checkout)
        import drain3_spark
        import pyarrow as pa
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"path": [os.path.dirname(
            os.path.abspath(drain3_spark.__file__))]})

    try:
        n = max(min(spark.sparkContext.defaultParallelism, 32), 1)
        # through a hash Exchange and a sort, as the near-dup verify and
        # the mining fold feed their map tasks, and into an aggregate:
        # without them the first operation pays their JVM start-up
        # (about 2 s of first_run_s on incremental_ingest)
        paths = {r.path for r in spark.range(n * 2, numPartitions=n)
                 .repartition(n, "id").sortWithinPartitions("id")
                 .mapInArrow(package_dir, "path string")
                 .groupBy("path").count().collect()}
        _check_worker_package(spark, paths)
    except Exception as e:
        # the warm is an optimization: the first Python stage then pays
        # the runner start-up itself
        logger.warning("Python runner prewarm failed (%s: %s); the first "
                       "Python stage starts the runners", type(e).__name__, e,
                       exc_info=True)
    return True


def _check_worker_package(spark: SparkSession, paths) -> None:
    """Warn when a Python worker imported ``drain3_spark`` from neither
    the shipped zip nor the driver's own package directory.  A worker
    puts its working directory ahead of the shipped zip on ``sys.path``,
    so a driver started from a directory that holds another checkout
    runs that checkout's code in its workers."""
    import drain3_spark
    from drain3_spark.shipping import shipped_zip
    own = os.path.dirname(os.path.abspath(drain3_spark.__file__))
    zip_name = os.path.basename(shipped_zip(spark) or "")
    for path in sorted(paths):
        if path != own and os.path.basename(os.path.dirname(path)) != zip_name:
            logger.warning("Python workers import drain3_spark from %s, not "
                           "from the shipped package or the driver's %s: a "
                           "drain3_spark in the workers' working directory "
                           "shadows the shipped one", path, own)
