"""Small shared helpers."""

from __future__ import annotations

import threading
from typing import Callable, Sequence, Union

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, types as T
from pyspark.sql.pandas.types import to_arrow_schema


def arrow_batch(data, schema: T.StructType) -> pa.RecordBatch:
    """The one builder of every batch the engine hands to Arrow: ``data``
    is row tuples in ``schema`` order or a dict of columns (lists or
    numpy arrays) by field name.  ``None`` is NULL and a NaN stays NaN.
    An integer column is built from its values' own type and cast
    safely, so a fractional float in it raises instead of truncating."""
    # naive datetimes are read as UTC instants
    schema = to_arrow_schema(schema)
    if isinstance(data, dict):
        cols = [data[f.name] for f in schema]
    else:
        cols = list(zip(*data)) or [()] * len(schema)
    return pa.RecordBatch.from_arrays(
        [pa.array(col).cast(f.type) if pa.types.is_integer(f.type)
         else pa.array(col, type=f.type) for col, f in zip(cols, schema)],
        schema=schema)


def local_df(spark: SparkSession, rows: Sequence[tuple],
             schema: Union[str, T.StructType]) -> DataFrame:
    """Arrow-backed small DataFrame from driver-side rows.

    ``spark.createDataFrame(list_of_tuples)`` produces a python-RDD-backed
    plan: EVERY re-evaluation (each action over a join/union that
    references it) pays python-worker round-trips per partition — a
    7x7-row cross join of two such frames measured ~8 s at local[32].
    Handing the same rows over as a ``pyarrow.Table`` plans them as
    Arrow-backed local data (``LocalTableScan``; ~0.2 s for the same
    join) under any session: unlike pandas input, a table takes the
    Arrow path whatever ``spark.sql.execution.arrow.pyspark.enabled``
    says.  Use for every driver-created table that participates in a
    join or union (report grids, cluster id maps, prior-state
    pass-throughs).
    """
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    return spark.createDataFrame(
        pa.Table.from_batches([arrow_batch(rows, schema)]), schema=schema)


def widen_small_scan(df: DataFrame) -> DataFrame:
    """Repartition an input whose scan plans NARROWER than the session's
    parallelism — and only then.

    A small input (one file, or one parquet row group) scans as a single
    partition, which serializes every pre-shuffle expression — regex
    masking, shingle explodes, Arrow match UDFs — onto one task while
    the other cores idle (measured: q15's posting aggregation spent
    4-8s in a one-task stage at sf0.1).  File-split settings can't fix
    it: a single-row-group parquet file is indivisible no matter how
    ``maxPartitionBytes``/``minPartitionNum`` are tuned.

    At production scale (files >> cores) the partition count already
    exceeds the target and this returns the input UNCHANGED — no shuffle
    is ever added where it would cost something.  The round-robin
    shuffle it does add on small inputs moves only the small input
    itself.  Operators that consume this remain order-insensitive
    (mining sorts per group on the order key; set/count aggregations are
    partition-invariant), so results are identical either way.  A
    streaming frame has no static partitioning and comes back as is."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target) if df.rdd.getNumPartitions() < target else df


class AppScopedCache:
    """A process-global memo that holds only the live Spark application's
    entries: keys are ``(applicationId, *key)``, and a lookup under a new
    application first drops every entry of an older one, whose values
    (persisted frames, plan-bound counts) belong to a stopped context.
    One lock guards the dict and ``make``, so concurrent driver threads
    never see it half-pruned and each key is made once (a second
    ``MiningResult`` would hold a persisted frame nothing releases)."""

    def __init__(self) -> None:
        self.entries: dict = {}
        self._lock = threading.Lock()

    def get(self, spark: SparkSession, key: tuple, make: Callable):
        app = spark.sparkContext.applicationId
        full = (app, *key)
        with self._lock:
            for k in [k for k in self.entries if k[0] != app]:
                del self.entries[k]
            if full not in self.entries:
                self.entries[full] = make()
            return self.entries[full]
