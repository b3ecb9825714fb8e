"""Ship the engine package to executors, and keep a worker's per-task
import-cache reset cheap.

The mining / matching / extraction UDFs import ``drain3_spark`` inside
Python workers; on a real cluster the package arrives via
``spark-submit --py-files drain3_spark.zip``.  For driver-created
sessions (notebooks, tests, bench) this helper zips the installed
package once and registers it with ``SparkContext.addPyFile`` — the
same mechanism, self-served.

Importing the package in a Python worker also makes the per-task
``importlib.invalidate_caches()`` skip unchanged zip archives
(``_reuse_unchanged_zip_directories``).  On CPython 3.12 and later,
where that re-read is lazy (gh-103200), and on the driver, it does
nothing.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import sys
import tempfile
import zipfile
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import SparkSession

_FLAG = "_drain3_spark_shipped"


def build_pkg_zip(dest: str | None = None) -> str:
    """Zip the drain3_spark package (py files only) for --py-files."""
    import drain3_spark
    pkg_dir = os.path.dirname(os.path.abspath(drain3_spark.__file__))
    root = os.path.dirname(pkg_dir)
    dest = dest or os.path.join(tempfile.gettempdir(),
                                f"drain3_spark_pkg_{os.getpid()}.zip")
    with zipfile.ZipFile(dest, "w") as z:
        for dirpath, _, files in os.walk(pkg_dir):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
    return dest


def ship_package(spark: SparkSession) -> None:
    """Idempotently make drain3_spark importable in executor workers."""
    sc = spark.sparkContext
    if getattr(sc, _FLAG, False):
        return
    path = build_pkg_zip()
    # the driver's file server serves the zip for the session's whole
    # life, so it is removed only when the process exits
    atexit.register(_remove, path)
    sc.addPyFile(path)
    setattr(sc, _FLAG, path)


def shipped_zip(spark: SparkSession) -> str | None:
    """The path of the zip :func:`ship_package` registered, if any."""
    return getattr(spark.sparkContext, _FLAG, None)


def _remove(path: str) -> None:
    # a later session in the same process rewrites and re-registers the
    # same per-process path, so all but the first removal find it gone
    with contextlib.suppress(FileNotFoundError):
        os.remove(path)


def _reuse_unchanged_zip_directories() -> None:
    """In a Python worker on CPython < 3.12, make
    ``zipimporter.invalidate_caches`` re-read an archive only when its
    ``(st_mtime_ns, st_size, st_ino)`` changed since the last read.

    A worker holds one importer per zip path entry and per package
    directory imported from it, and the stock method re-reads the
    archive for each of them on every task.  A local-mode worker of a
    ``get_spark`` session holds 17: 2 for the spark-core jar (23-48 ms a
    read), 12 for ``pyspark.zip`` (5-6 ms), 2 for py4j and 1 for the
    shipped package, so each task paid 0.16-0.22 s.  The stat-keyed
    method shares ``zipimport._zip_directory_cache[archive]`` while the
    file is unchanged, and falls back to the stock read when it changed,
    is new, or cannot be stat'ed.  A worker is the process that has
    imported ``pyspark.worker`` (the daemon-forked one).  Idempotent."""
    if sys.version_info >= (3, 12) or "pyspark.worker" not in sys.modules:
        return
    import zipimport
    stock = zipimport.zipimporter.invalidate_caches
    if getattr(stock, "_stat_keyed", False):
        return
    read_at: dict = {}  # archive -> stat key taken just before its read

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            return stock(self)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is None or read_at.get(self.archive) != key:
            stock(self)
            read_at[self.archive] = key
        else:
            self._files = files

    invalidate_caches._stat_keyed = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
