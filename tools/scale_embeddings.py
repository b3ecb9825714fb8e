"""Write a scaled-up ``embeddings`` tier by key-shifted replication, and
optionally time the near-dup queries on it.

Replica ``r`` of every source row keeps its ``embedding`` and ``label``
and gets ``vec_id + r * (max(vec_id) + 1)``, so ids stay unique and each
label block grows ``FACTOR`` times (its candidate pairs ``FACTOR**2``
times).  ``OPTIMIZATION_r08.md`` § Scale check describes the 10x tier
built from sf0.1 this way (20k embeddings).

Usage:
  python tools/scale_embeddings.py --src SF_DIR [--dest DIR] [--time QUERY ...]

``--time`` runs each named ``__spark_entry__.queries()`` entry on
``--dest`` in one session, twice, and prints the rows and the wall
seconds of each run (``count()`` of the result).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: replicas per source row: the 10x tier
FACTOR = 10


def scale_embeddings(src: str, dest: str) -> int:
    """Write ``dest/embeddings.parquet`` with ``FACTOR`` key-shifted
    replicas of ``src/embeddings.parquet``; returns the row count."""
    table = pq.read_table(os.path.join(src, "embeddings.parquet"))
    ids = table.column("vec_id").to_numpy()
    shift = int(ids.max()) + 1
    parts = []
    for r in range(FACTOR):
        vec_id = pa.array(ids + r * shift, table.schema.field("vec_id").type)
        parts.append(table.set_column(
            table.schema.get_field_index("vec_id"), "vec_id", vec_id))
    out = pa.concat_tables(parts)
    os.makedirs(dest, exist_ok=True)
    pq.write_table(out, os.path.join(dest, "embeddings.parquet"))
    return out.num_rows


def time_queries(dest: str, names) -> None:
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry
    from drain3_spark.session import get_spark

    spark = get_spark("scale_embeddings")
    queries = {**entry.queries(), **entry.extra_bench_queries()}
    for name in names:
        for run in (1, 2):
            t0 = time.perf_counter()
            rows = queries[name](spark, dest).count()
            print(f"{name} run {run}: {rows} rows, "
                  f"{time.perf_counter() - t0:.2f} s", flush=True)
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--src", required=True,
                    help="directory holding embeddings.parquet (e.g. sf0.1)")
    ap.add_argument("--dest", default="/tmp/embeddings_10x")
    ap.add_argument("--time", nargs="*", default=[], metavar="QUERY")
    args = ap.parse_args()
    n = scale_embeddings(args.src, args.dest)
    print(f"wrote {n} rows to {args.dest}/embeddings.parquet", flush=True)
    if args.time:
        time_queries(args.dest, args.time)


if __name__ == "__main__":
    main()
