"""The Python worker's per-task ``importlib.invalidate_caches()`` (called
by PySpark's ``worker_util.setup_spark_files`` at the start of every
task) re-reads a zip archive only when the archive changed.

On CPython < 3.12 the stock ``zipimporter.invalidate_caches`` re-reads
its archive's central directory once per importer on every call;
importing ``drain3_spark`` in a worker installs a stat-keyed method
(``shipping._reuse_unchanged_zip_directories``).  The driver, and
CPython 3.12+, keep the stock method."""

import os
import subprocess
import sys
import textwrap

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_311 = pytest.mark.skipif(sys.version_info >= (3, 12),
                               reason="zipimport re-reads lazily on 3.12+")


@needs_311
def test_worker_rereads_no_unchanged_archive(spark):
    """In a live worker the second of two invalidations reads no
    archive; with the stock method it reads one per zip importer."""

    def reads_per_invalidate(it):
        # a closure, so it is pickled by value and the import below is
        # what brings the package into the worker
        import importlib
        import zipimport

        import drain3_spark  # noqa: F401
        import pandas as pd

        real = zipimport._read_directory
        reads = [0]

        def counting(archive):
            reads[0] += 1
            return real(archive)

        zipimport._read_directory = counting
        try:
            counts = []
            for _ in range(2):
                reads[0] = 0
                importlib.invalidate_caches()
                counts.append(reads[0])
        finally:
            zipimport._read_directory = real
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        for _ in it:
            pass
        yield pd.DataFrame({"first": [counts[0]], "second": [counts[1]],
                            "zips": [zips]})

    row = (spark.range(1, numPartitions=1)
           .mapInPandas(reads_per_invalidate,
                        "first long, second long, zips long")
           .collect()[0])
    assert row.zips > 0            # pyspark.zip, py4j, the shipped package
    assert row.second == 0
    assert row.first <= row.zips


def _run(body: str) -> None:
    script = textwrap.dedent(body)
    subprocess.run([sys.executable, "-c", script], cwd=ROOT, check=True,
                   timeout=300)


@needs_311
def test_worker_rereads_a_rewritten_archive(tmp_path):
    """A worker-style process (``pyspark.worker`` imported) gets the
    stat-keyed method; an archive rewritten in place is re-read by the
    next invalidation and its new module content is imported, while an
    unchanged archive is not re-read.  Installing twice is a no-op."""
    _run(f"""
        import importlib, sys, zipfile, zipimport
        import pyspark.worker  # noqa: F401
        import drain3_spark
        installed = zipimport.zipimporter.invalidate_caches
        assert installed._stat_keyed
        drain3_spark.shipping._reuse_unchanged_zip_directories()
        assert zipimport.zipimporter.invalidate_caches is installed

        path = {str(tmp_path / "mods.zip")!r}

        def write(value):
            with zipfile.ZipFile(path, "w") as z:
                z.writestr("zmod.py", f"VALUE = {{value!r}}\\n")

        write(1)
        sys.path.insert(0, path)
        import zmod
        assert zmod.VALUE == 1
        importlib.invalidate_caches()

        real = zipimport._read_directory
        reads = []
        zipimport._read_directory = lambda a: reads.append(a) or real(a)
        importlib.invalidate_caches()
        assert path not in reads, reads

        write("rewritten with a longer body")
        importlib.invalidate_caches()
        assert reads.count(path) == 1, reads
        del sys.modules["zmod"]
        import zmod
        assert zmod.VALUE == "rewritten with a longer body"
    """)


def test_driver_and_newer_python_keep_the_stock_method():
    """A driver-style process never imports ``pyspark.worker`` and keeps
    the stock method; so does a worker on CPython 3.12+."""
    _run("""
        import zipimport
        stock = zipimport.zipimporter.invalidate_caches
        import pyspark.sql  # noqa: F401
        import drain3_spark
        from drain3_spark import session  # noqa: F401
        assert zipimport.zipimporter.invalidate_caches is stock
        drain3_spark.shipping._reuse_unchanged_zip_directories()
        assert zipimport.zipimporter.invalidate_caches is stock
    """)
    _run("""
        import sys, zipimport
        stock = zipimport.zipimporter.invalidate_caches
        import pyspark.worker  # noqa: F401
        sys.version_info = (3, 12, 0, "final", 0)
        import drain3_spark  # noqa: F401
        assert zipimport.zipimporter.invalidate_caches is stock
    """)
