"""Ship the engine package to executors.

The mining / matching / extraction UDFs import ``drain3_spark`` inside
Python workers; on a real cluster the package arrives via
``spark-submit --py-files drain3_spark.zip``.  For driver-created
sessions (notebooks, tests, bench) this helper zips the installed
package once and registers it with ``SparkContext.addPyFile`` — the
same mechanism, self-served.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import tempfile
import zipfile

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
    setattr(sc, _FLAG, True)


def _remove(path: str) -> None:
    # a later session in the same process rewrites and re-registers the
    # same per-process path, so all but the first removal find it gone
    with contextlib.suppress(FileNotFoundError):
        os.remove(path)
