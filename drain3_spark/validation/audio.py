"""Audio payload validation (SURVEY.md C8, BASELINE.json per-row invariant).

Decode ``bytes`` per ``codec`` into PCM inside the shared per-clip
Arrow loop (:func:`drain3_spark.audio.runner.map_clips`) — no per-row
Python crossing the JVM boundary, one Arrow batch per few thousand
clips (bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``
because payloads are large) — and assert SNR >= ``snr_min`` dB against
the reference signal regenerated from ``clip_id``
(drain3_spark.audio.synth).

Only structurally valid rows are decodable (legal codec, sr in domain,
dur in bounds); the others are already their own checks' findings, so
they are filtered out *before* the scan — Catalyst prunes every column
except the six this check needs.
"""

from __future__ import annotations

from typing import Optional, Sequence, Tuple

from pyspark.sql import DataFrame, functions as F, types as T

from drain3_spark.audio.runner import map_clips

AUDIO_RESULT_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType()),
    T.StructField("ds", T.StringType()),
    T.StructField("snr_db", T.DoubleType()),
    T.StructField("passed", T.BooleanType()),
])

# the columns every payload check reads, in kernel row order
AUDIO_COLS = ("clip_id", "ds", "bytes", "sr_hz", "dur_ms", "codec")


# codec-aware SNR gates: IMA ADPCM is a 4-bit ADPCM codec whose
# quantization noise on full-scale tonal program sits ~20-35 dB below
# signal BY DESIGN — gating it at the linear/companded codecs' 30 dB
# would flag every healthy clip (measured worst-case 20.0 dB on the
# fixture signal family; gate at 15 with margin)
SNR_MIN_BY_CODEC = {"wav:adpcm_ima": 15.0}


def _structurally_valid(clips: DataFrame, dur_bounds: Tuple[int, int],
                        sr_domain: Sequence[int]) -> DataFrame:
    from drain3_spark.audio.codecs import CODECS, CONTAINER_CODECS
    lo, hi = dur_bounds
    return clips.filter(F.col("codec").isin(*CODECS, *CONTAINER_CODECS)
                        & F.col("sr_hz").isin(*[int(s) for s in sr_domain])
                        & F.col("dur_ms").between(lo, hi)
                        & F.col("bytes").isNotNull())


def _snr_verdict(cid, sr, dur, codec, pcm, snr_min: float):
    """``(snr_db, passed)`` for one clip: the SNR of its decoded ``pcm``
    against the reference regenerated from ``cid`` (``-inf`` when the
    payload did not decode), gated at ``snr_min`` except where
    :data:`SNR_MIN_BY_CODEC` lowers it for an inherently lossier
    codec."""
    from drain3_spark.audio.codecs import snr_db
    from drain3_spark.audio.synth import reference_pcm
    s = (float("-inf") if pcm is None or cid is None
         else snr_db(reference_pcm(cid, int(sr), int(dur)), pcm))
    gate = min(snr_min, SNR_MIN_BY_CODEC.get(codec, snr_min))
    return s, bool(s >= gate)


def _container_header(payload, codec, sr, dur, dur_tol_ms: int):
    """``(container_codec, container_sr_hz, container_dur_ms, sr_ok,
    dur_ok, parse_ok)`` for one wav/flac payload: its HEADER alone
    (:func:`drain3_spark.audio.wav.wav_header` /
    :func:`drain3_spark.audio.flac.flac_header`, no sample decode)
    against the table's ``sr_hz``/``dur_ms`` columns."""
    from drain3_spark.audio.flac import flac_header
    from drain3_spark.audio.wav import wav_header
    try:
        if codec == "flac":
            c_codec, (c_sr, n) = "flac", flac_header(bytes(payload))
        else:
            c_codec, c_sr, n = wav_header(bytes(payload))
    except Exception:
        return None, None, None, False, False, False
    c_dur = int(round(n * 1000.0 / c_sr)) if c_sr else 0
    return (c_codec, int(c_sr), c_dur, bool(int(c_sr) == int(sr)),
            bool(abs(c_dur - int(dur)) <= dur_tol_ms), True)


def audio_decode_results(clips: DataFrame,
                         snr_min: float = 30.0,
                         dur_bounds: Tuple[int, int] = (100, 5000),
                         sr_domain: Sequence[int] = (8000, 16000, 22050, 44100, 48000),
                         ) -> DataFrame:
    """Per-clip (snr_db, passed) for structurally valid rows
    (:func:`_snr_verdict`)."""
    def check(rows):
        for (cid, ds, _, sr, dur, codec), pcm in rows:
            yield (cid, ds) + _snr_verdict(cid, sr, dur, codec, pcm, snr_min)

    return map_clips(_structurally_valid(clips, dur_bounds, sr_domain),
                     check, AUDIO_RESULT_SCHEMA, AUDIO_COLS)


CONTAINER_META_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType()),
    T.StructField("ds", T.StringType()),
    T.StructField("container_codec", T.StringType()),
    T.StructField("container_sr_hz", T.IntegerType()),
    T.StructField("container_dur_ms", T.IntegerType()),
    T.StructField("sr_ok", T.BooleanType()),
    T.StructField("dur_ok", T.BooleanType()),
    T.StructField("parse_ok", T.BooleanType()),
])


def container_metadata_results(clips: DataFrame,
                               dur_tol_ms: int = 2) -> DataFrame:
    """Container-vs-column metadata consistency for self-describing
    payloads (``codec`` starting with ``wav``, or ``flac``): the
    container's own sample rate and implied duration must agree with
    the table's ``sr_hz``/``dur_ms`` columns — a check raw
    sample-stream codecs cannot express, and the first thing to drift
    when an ingest job transcodes without rewriting metadata.
    HEADER-ONLY parse (:func:`_container_header`): no sample data
    is decoded, so the pass is cheap enough to run on every ingest
    batch even when the SNR decode check is sampled."""
    wav_rows = clips.filter((F.col("codec").startswith("wav")
                             | (F.col("codec") == "flac"))
                            & F.col("bytes").isNotNull())
    tol = int(dur_tol_ms)

    def check(rows):
        for (cid, ds, payload, sr, dur, codec), _ in rows:
            yield (cid, ds) + _container_header(payload, codec, sr, dur,
                                                tol)

    return map_clips(wav_rows, check, CONTAINER_META_SCHEMA, AUDIO_COLS,
                     decode_if=lambda row: False)


def audio_and_container_violations(clips: DataFrame, snr_min: float = 30.0,
                                   dur_bounds: Tuple[int, int] = (100, 5000),
                                   sr_domain: Sequence[int] = (8000, 16000, 22050, 44100, 48000),
                                   dur_tol_ms: int = 2,
                                   check_container: bool = True,
                                   loudness_bounds: Optional[Tuple[float, float]] = None,
                                   min_speech_ratio: Optional[float] = None,
                                   ) -> DataFrame:
    """SNR decode verdicts AND container-vs-column metadata consistency
    in ONE ``bytes`` scan — the pass the ValidationEngine runs.

    A separate container pass would plan its own scan of the payload
    column; unioned next to the decode check that DOUBLES the engine's
    bytes I/O (measured +51% on the 4M-clip validation job: 97.2s vs
    64.3s per iteration at local[8] — row-group pruning cannot save it
    because codecs are mixed within every row group).  Here the
    container header is parsed from the same Arrow batch the decode
    check already holds — microseconds per wav/flac row, zero extra
    scan.  The container details are ``unparseable container``,
    ``container sr_hz=<n> != column`` and ``container dur_ms=<n> !=
    column`` (exact-match contract).  Scope note: the
    engine path checks containers on STRUCTURALLY VALID rows (the same
    filter as the decode check); rows that are already dur/sr-domain
    findings are their own checks' responsibility.

    Two more opt-in content checks ride the SAME decoded PCM (the
    one-bytes-scan discipline that folded the container check in):

    * ``loudness_bounds=(lo, hi)`` — BS.1770-4 integrated loudness
      outside the bounds (or unmeasurable: all-silent program) flags
      the clip (mastering/gain-staging drift a level-free SNR check
      cannot see).  Bounds are corpus-specific, so the engine never
      guesses them.
    * ``min_speech_ratio=r`` — energy-VAD speech coverage below ``r``
      flags a dead-air clip whose transcript claims content.
    """
    from drain3_spark.fixtures import (CHECK_AUDIO_DECODE,
                                       CHECK_CONTAINER_META, CHECK_LOUDNESS,
                                       CHECK_SPEECH_RATIO)
    from drain3_spark.pipeline.audio_loudness import lufs_kernel
    from drain3_spark.pipeline.audio_vad import vad_kernel

    tol = int(dur_tol_ms)
    loud_lo, loud_hi = loudness_bounds or (None, None)
    min_ratio = min_speech_ratio

    def check(rows):
        for (cid, ds, payload, sr, dur, codec), pcm in rows:
            s, passed = _snr_verdict(cid, sr, dur, codec, pcm, snr_min)
            if not passed:
                yield (cid, ds, CHECK_AUDIO_DECODE, f"snr below {snr_min} dB")
            decoded = s > float("-inf")
            if loud_lo is not None and decoded:
                lufs = lufs_kernel(pcm, int(sr))[0]
                if lufs is None:
                    yield (cid, ds, CHECK_LOUDNESS,
                           "unmeasurable loudness (silence)")
                elif not loud_lo <= lufs <= loud_hi:
                    yield (cid, ds, CHECK_LOUDNESS,
                           f"integrated_lufs={lufs:.2f} outside "
                           f"[{loud_lo}, {loud_hi}]")
            if min_ratio is not None and decoded:
                _, ratio = vad_kernel(pcm, int(sr))
                if ratio < min_ratio:
                    yield (cid, ds, CHECK_SPEECH_RATIO,
                           f"speech_ratio={ratio:.4f} below {min_ratio}")
            if check_container and (codec.startswith("wav")
                                    or codec == "flac"):
                _, c_sr, c_dur, sr_ok, dur_ok, parse_ok = \
                    _container_header(payload, codec, sr, dur, tol)
                if not parse_ok:
                    yield (cid, ds, CHECK_CONTAINER_META,
                           "unparseable container")
                elif not sr_ok:
                    yield (cid, ds, CHECK_CONTAINER_META,
                           f"container sr_hz={c_sr} != column")
                elif not dur_ok:
                    yield (cid, ds, CHECK_CONTAINER_META,
                           f"container dur_ms={c_dur} != column")

    schema = T.StructType([
        T.StructField("clip_id", T.StringType()),
        T.StructField("ds", T.StringType()),
        T.StructField("check", T.StringType()),
        T.StructField("detail", T.StringType()),
    ])
    return map_clips(_structurally_valid(clips, dur_bounds, sr_domain),
                     check, schema, AUDIO_COLS).distinct()
