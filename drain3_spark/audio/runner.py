"""The one per-clip Arrow loop behind every audio operator.

Each operator over the ``bytes`` payload column supplies a batch
kernel; :func:`map_clips` owns the rest: shipping the package,
selecting the needed columns (plus any ``carry`` columns),
``mapInArrow``, decoding each row, and building ONE output batch per
Arrow batch — so executor memory stays bounded by the Arrow batch
size (``spark.sql.execution.arrow.maxRecordsPerBatch``; binary
payloads dominate it), never the partition size.

A payload that does not decode, and a row whose ``sr_hz`` is NULL,
reach the kernel as ``pcm=None``.  What that means — a null row, a
dropped row, ``snr_db=-inf`` or a pass-through — is the operator's
decision, made in its kernel.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator, Optional, Sequence

from pyspark.sql import DataFrame, types as T

CLIP_COLS = ("clip_id", "bytes", "sr_hz", "codec")
PAYLOAD_COLS = ("clip_id", "bytes", "sr_hz", "dur_ms", "codec")


def map_clips(clips: DataFrame, kernel: Callable[[Iterator], Iterable],
              schema: T.StructType, cols: Sequence[str] = CLIP_COLS,
              carry: Sequence[str] = (),
              decode_if: Optional[Callable[[tuple], bool]] = None
              ) -> DataFrame:
    """Run ``kernel`` over ``clips`` one Arrow batch at a time.

    ``kernel(rows)`` gets the batch as an iterator of ``(row, pcm)``:
    ``row`` holds the values of ``cols`` and then of ``carry``, in that
    order, as Python values (``None`` for NULL); ``pcm`` is ``row``'s
    ``bytes`` decoded under its ``codec``
    (:func:`drain3_spark.audio.codecs.decode`), or None when decoding
    fails, ``sr_hz`` is NULL or ``decode_if(row)`` is false (rows the
    operator passes through untouched never pay a decode).  It returns
    the batch's output: rows as tuples in ``schema`` order with the
    carried values last, or a dict of output columns.  ``schema`` gains
    the carried columns' input fields, so a ds/codec-keyed rollup never
    re-joins the corpus on clip_id; a carried name may not repeat an
    output column."""
    from drain3_spark.shipping import ship_package
    from drain3_spark.util import arrow_batch
    ship_package(clips.sparkSession)
    for i, c in enumerate(carry):
        if c in schema.names or c in carry[:i]:
            raise ValueError(f"carry column collides with output: {c!r}")
    schema = T.StructType(schema.fields + [clips.schema[c] for c in carry])
    keys = tuple(cols) + tuple(carry)
    i_bytes, i_sr, i_codec = map(keys.index, ("bytes", "sr_hz", "codec"))

    def run(batches):
        from drain3_spark.audio.codecs import decode

        def decoded(b):
            for row in zip(*(b.column(c).to_pylist() for c in keys)):
                pcm = None
                if row[i_sr] is not None and (decode_if is None
                                              or decode_if(row)):
                    try:
                        pcm = decode(bytes(row[i_bytes]), row[i_codec])
                    except Exception:
                        pass
                yield row, pcm

        for b in batches:
            yield arrow_batch(kernel(decoded(b)), schema)

    # the plan names the operator's kernel, not this shared loop
    run.__name__ = kernel.__name__
    select = list(cols) + [c for c in carry if c not in cols]
    return clips.select(*select).mapInArrow(run, schema)
