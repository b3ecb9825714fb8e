"""The one Arrow batch builder (:func:`drain3_spark.util.arrow_batch`)
and the per-clip loop that uses it (:func:`drain3_spark.audio.runner.
map_clips`): tuple rows and dict-of-numpy kernels, carried NULLs of
every column kind, empty batches, and a float emitted into an int
column, which raises instead of truncating."""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import types as T

from drain3_spark.audio.codecs import decode, encode
from drain3_spark.audio.runner import map_clips
from drain3_spark.util import arrow_batch, local_df

OUT = T.StructType([T.StructField("clip_id", T.StringType()),
                    T.StructField("n", T.IntegerType()),
                    T.StructField("peak", T.DoubleType())])

CLIPS = ("clip_id string, bytes binary, sr_hz int, codec string, "
         "k int, x double, raw binary, v array<double>")
_PCM = encode(0.25 * np.ones(8), "pcm_s16le")
PEAK = float(np.max(np.abs(decode(_PCM, "pcm_s16le"))))
ROWS = [
    ("a", bytearray(_PCM), 16000, "pcm_s16le", 7, 1.5, bytearray(b"\x01"),
     [1.0, 2.0]),
    ("b", bytearray(_PCM), 16000, "pcm_s16le", None, None, None, None),
    ("c", bytearray(b"\x01"), 16000, "pcm_s16le", 3, None, None, []),
    ("d", bytearray(_PCM), None, "pcm_s16le", None, 2.5, bytearray(b""),
     None),
]
CARRY = ("k", "x", "raw", "v")


def _kernel(shape):
    """A kernel that returns tuple rows or a dict of numpy columns; built
    here, not at module level, so Spark pickles it by value."""
    def tuples(rows):
        for (cid, _, _, _, *extra), pcm in rows:
            if pcm is None:
                yield (cid, 0, None, *extra)
            else:
                yield (cid, len(pcm), float(np.max(np.abs(pcm))), *extra)

    def columns(rows):
        rows = list(rows)
        return {
            "clip_id": [row[0] for row, _ in rows],
            "n": np.array([0 if p is None else len(p) for _, p in rows],
                          dtype=np.int64),
            # a NaN stays a NaN: only None is NULL
            "peak": np.array([np.nan if p is None
                              else float(np.max(np.abs(p)))
                              for _, p in rows]),
            **{c: [row[4 + i] for row, _ in rows]
               for i, c in enumerate(CARRY)},
        }

    return {"tuples": tuples, "columns": columns}[shape]


def test_builder_tuples_and_dict_columns_agree():
    rows = [("a", 3, 0.5), ("b", None, None)]
    by_rows = arrow_batch(rows, OUT)
    by_cols = arrow_batch({"clip_id": ["a", "b"],
                           "n": [3, None],
                           "peak": [0.5, None]}, OUT)
    assert by_rows.equals(by_cols)
    assert by_rows.schema.types == [pa.string(), pa.int32(), pa.float64()]
    assert by_rows.to_pylist()[1] == {"clip_id": "b", "n": None,
                                      "peak": None}


def test_builder_empty_batch():
    for data in ([], {"clip_id": [], "n": np.array([], dtype=np.int64),
                      "peak": np.array([])}):
        b = arrow_batch(data, OUT)
        assert b.num_rows == 0 and b.schema.names == ["clip_id", "n", "peak"]


def test_builder_keeps_nan_and_none_apart():
    b = arrow_batch([("a", 1, float("nan")), ("b", 2, None)], OUT)
    assert b.column("peak").null_count == 1
    assert np.isnan(b.column("peak")[0].as_py())


@pytest.mark.parametrize("n", [1.5, np.float64(1.5)])
def test_builder_rejects_a_float_in_an_int_column_of_rows(n):
    with pytest.raises(pa.ArrowInvalid):
        arrow_batch([("a", n, 0.0)], OUT)


def test_builder_rejects_a_float_in_an_int_column_of_numpy():
    with pytest.raises(pa.ArrowInvalid):
        arrow_batch({"clip_id": ["a"], "n": np.array([1.5]),
                     "peak": np.array([0.0])}, OUT)
    # an integral float is an exact int, as a safe cast allows
    assert arrow_batch({"clip_id": ["a"], "n": np.array([2.0]),
                        "peak": np.array([0.0])}, OUT).column("n")[0] \
        .as_py() == 2


def _collect(spark, kernel, rows=ROWS, schema=OUT):
    clips = local_df(spark, rows, CLIPS)
    out = map_clips(clips, kernel, schema, cols=("clip_id", "bytes",
                                                  "sr_hz", "codec"),
                    carry=CARRY)
    return out, {r.clip_id: tuple(r) for r in out.collect()}


@pytest.mark.parametrize("shape", ["tuples", "columns"])
def test_map_clips_kernel_shapes_and_carried_nulls(spark, shape):
    out, got = _collect(spark, _kernel(shape))
    assert out.schema.names == ["clip_id", "n", "peak", *CARRY]
    assert [f.dataType for f in out.schema.fields[3:]] == [
        T.IntegerType(), T.DoubleType(), T.BinaryType(),
        T.ArrayType(T.DoubleType())]
    # "c" does not decode; "d" has a NULL sr_hz, so it is never decoded
    assert got["a"] == ("a", 8, PEAK, 7, 1.5, bytearray(b"\x01"),
                        [1.0, 2.0])
    assert got["b"] == ("b", 8, PEAK, None, None, None, None)
    assert got["c"][:2] == ("c", 0) and got["c"][3:] == (3, None, None, [])
    assert got["d"][:2] == ("d", 0) and got["d"][3:] == (
        None, 2.5, bytearray(b""), None)
    for cid in "cd":
        peak = got[cid][2]
        assert np.isnan(peak) if shape == "columns" else peak is None


def test_map_clips_empty_input(spark):
    out, got = _collect(spark, _kernel("tuples"), rows=[])
    assert got == {}
    assert out.schema.names == ["clip_id", "n", "peak", *CARRY]


def test_map_clips_float_in_int_column_fails_the_task(spark):
    def bad(rows):
        for (cid, _, _, _, *extra), pcm in rows:
            yield (cid, 1.5, None, *extra)

    with pytest.raises(Exception, match="truncated"):
        _collect(spark, bad)
