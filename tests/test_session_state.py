"""Process-global state of the engine's session helpers: the memo
caches keep only the live application's entries, the runner prewarm
says why it failed and names a worker that runs another checkout, and
``widen_small_scan`` passes a streaming frame through without hiding
planning errors of a static one."""

import logging
import os
import subprocess
import sys
import textwrap
import threading
import types

import pytest

import __spark_entry__ as entry
from drain3_spark import session, util
from drain3_spark.operators import mining


def test_caches_keep_only_the_live_application(spark):
    live = spark.sparkContext.applicationId
    caches = (mining._GROUP_EST_CACHE, session._PREWARMED, entry._MINE_CACHE)
    for cache in caches:
        cache.entries[("app-stopped", "plan")] = object()

    keyed = spark.range(30).selectExpr("id % 3 AS k")
    assert mining._estimate_groups(keyed, ["k"]) == 3
    session._prewarm_python_runners(spark)
    mined = object()
    entry._MINE_CACHE.entries[(live, "sf", "drain")] = mined
    assert entry._mined(spark, "sf") is mined          # no re-mine

    for cache in caches:
        assert cache.entries and all(k[0] == live for k in cache.entries)
    del entry._MINE_CACHE.entries[(live, "sf", "drain")]


def test_app_scoped_cache_under_concurrent_threads():
    """Threads that race on one cache, alternating between two
    application ids, never see the dict change under a prune, every
    make is stored, and the cache ends holding one application's
    entries."""
    cache = util.AppScopedCache()
    apps = [types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(applicationId=a))
        for a in ("app-a", "app-b")]
    got, made, errors = [], [], []

    def make():
        made.append(object())
        return made[-1]

    def worker(i):
        try:
            for j in range(1000):
                app = apps[(i + j) % 2]
                v = cache.get(app, ("k", j % 50), make)
                got.append((app.sparkContext.applicationId, j % 50, v))
        except Exception as e:  # reported through the assert below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,))
                   for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(got) == 16 * 1000
    # a value made twice for one key would leave one make unreturned
    assert {id(v) for _, _, v in got} == {id(v) for v in made}
    assert {k[0] for k in cache.entries} <= {"app-a", "app-b"}
    assert len({k[0] for k in cache.entries}) == 1


def test_prewarm_failure_names_its_exception(caplog):
    class NoExecutors:
        sparkContext = types.SimpleNamespace(defaultParallelism=2)

        def range(self, *a, **kw):
            raise RuntimeError("no executors registered")

    with caplog.at_level(logging.WARNING, logger="drain3_spark.session"):
        assert session._warm_runners(NoExecutors())
    assert "RuntimeError: no executors registered" in caplog.text


def test_prewarm_accepts_the_shipped_or_own_package(spark, caplog):
    with caplog.at_level(logging.WARNING, logger="drain3_spark.session"):
        assert session._warm_runners(spark)
    assert caplog.text == ""


def test_prewarm_names_a_worker_running_another_checkout(tmp_path):
    """A driver started from a directory that holds another
    ``drain3_spark`` runs that one in its Python workers, which put
    their working directory ahead of the shipped zip; the prewarm warns
    with both paths."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cwd = tmp_path / "cwd"
    (cwd / "drain3_spark").mkdir(parents=True)
    (cwd / "drain3_spark" / "__init__.py").write_text("")
    driver = tmp_path / "driver.py"
    driver.write_text(textwrap.dedent(f"""
        import logging, sys
        sys.path.insert(0, {root!r})
        logging.basicConfig(level=logging.WARNING, stream=sys.stdout)
        from drain3_spark.session import get_spark
        get_spark("stub_cwd", master="local[1]").stop()
    """))
    out = subprocess.run([sys.executable, str(driver)], cwd=cwd,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    warned = [ln for ln in out.stdout.splitlines()
              if "workers import drain3_spark from" in ln]
    assert len(warned) == 1, out.stdout + out.stderr[-2000:]
    assert os.path.realpath(cwd / "drain3_spark") in warned[0]
    assert os.path.join(root, "drain3_spark") in warned[0]


def test_widen_small_scan_passes_a_stream_through(spark):
    stream = spark.readStream.format("rate").load()
    assert util.widen_small_scan(stream) is stream


def test_widen_small_scan_propagates_planning_errors(spark):
    class Unplannable:
        isStreaming = False
        sparkSession = spark

        @property
        def rdd(self):
            raise RuntimeError("cannot plan")

    with pytest.raises(RuntimeError, match="cannot plan"):
        util.widen_small_scan(Unplannable())
