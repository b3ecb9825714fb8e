"""Per-clip acoustic features over the binary ``bytes`` payload column.

:func:`audio_features` yields duration, RMS, peak and zero crossings;
:func:`audio_spectral_features` yields the spectrum's shape plus the
silence and clipping ratios.  Both are real DSP over decoded PCM
(:mod:`drain3_spark.audio` implements the codecs) and run as kernels in
the shared per-clip Arrow loop, :func:`drain3_spark.audio.runner.map_clips`,
which decodes each payload once and keeps memory bounded by the Arrow
batch size.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, types as T

from drain3_spark.audio.runner import map_clips

AUDIO_FEATURES_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType()),
    T.StructField("n_samples", T.IntegerType()),
    T.StructField("duration_s", T.DoubleType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("peak", T.DoubleType()),
    T.StructField("zero_crossings", T.IntegerType()),
])

AUDIO_SPECTRAL_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType()),
    T.StructField("n_samples", T.IntegerType()),
    T.StructField("dominant_freq_hz", T.DoubleType()),
    T.StructField("centroid_hz", T.DoubleType()),
    T.StructField("rolloff_hz", T.DoubleType()),
    T.StructField("flatness", T.DoubleType()),
    T.StructField("silence_ratio", T.DoubleType()),
    T.StructField("clipping_ratio", T.DoubleType()),
])

def audio_features(clips: DataFrame) -> DataFrame:
    """Real decode → per-clip acoustic features (RMS, peak, ZCR)."""
    def extract(rows):
        for (cid, _, sr, _c), pcm in rows:
            if pcm is None:
                yield (cid, 0, 0.0, 0.0, 0.0, 0)
                continue
            n = len(pcm)
            zc = int(np.count_nonzero(np.diff(np.signbit(pcm)))) if n > 1 else 0
            yield (cid, n, n / float(sr) if sr else 0.0,
                   float(np.sqrt(np.mean(pcm ** 2))) if n else 0.0,
                   float(np.max(np.abs(pcm))) if n else 0.0, zc)

    return map_clips(clips, extract, AUDIO_FEATURES_SCHEMA)


def audio_spectral_features(clips: DataFrame,
                            silence_frame_ms: int = 20,
                            silence_rms: float = 0.01,
                            rolloff_pct: float = 0.85) -> DataFrame:
    """Real DSP over decoded PCM — the audio-quality half of a
    training-data pipeline, pure numpy (rFFT), no external DSP libs:

    * ``dominant_freq_hz`` — argmax of the magnitude spectrum;
    * ``centroid_hz`` / ``rolloff_hz`` — spectral centroid and the
      frequency below which ``rolloff_pct`` of spectral energy lies;
    * ``flatness`` — geometric/arithmetic mean ratio of the power
      spectrum (≈0 for tones, →1 for white noise) — a
      noise-vs-content quality signal;
    * ``silence_ratio`` — fraction of ``silence_frame_ms`` frames whose
      RMS is below ``silence_rms`` (dead-air detector);
    * ``clipping_ratio`` — fraction of samples at digital full scale.

    Same per-clip Arrow loop as :func:`audio_features`
    (:func:`drain3_spark.audio.runner.map_clips`); FFT length is the
    clip length (one clip never leaves its task).  Undecodable
    payloads yield null features (the decode CHECK family owns
    flagging them)."""
    nulls = (None,) * 6

    def extract(rows):
        for (cid, _, sr, _c), pcm in rows:
            if pcm is None:
                yield (cid, 0) + nulls
                continue
            pcm = pcm.astype(np.float64)
            n = len(pcm)
            if n == 0 or not sr:
                yield (cid, n) + nulls
                continue
            mag = np.abs(np.fft.rfft(pcm))
            freqs = np.fft.rfftfreq(n, d=1.0 / float(sr))
            mag[0] = 0.0                     # drop DC for all stats
            power = mag ** 2
            ptot = float(power.sum())
            if ptot <= 0.0:
                dom = cen = roll = 0.0
                flat = None
            else:
                dom = float(freqs[int(np.argmax(mag))])
                cen = float((freqs * mag).sum() / mag.sum())
                cum = np.cumsum(power)
                roll = float(freqs[int(np.searchsorted(
                    cum, rolloff_pct * ptot))])
                p = power[1:]
                flat = float(np.exp(np.mean(np.log(p + 1e-20)))
                             / (np.mean(p) + 1e-20))
            frame = max(int(sr) * silence_frame_ms // 1000, 1)
            nf = n // frame
            if nf > 0:
                fr = pcm[:nf * frame].reshape(nf, frame)
                frms = np.sqrt(np.mean(fr ** 2, axis=1))
                sil = float(np.mean(frms < silence_rms))
            else:
                sil = float(np.sqrt(np.mean(pcm ** 2)) < silence_rms)
            clip_r = float(np.mean(np.abs(pcm) >= 0.999))
            yield (cid, n, dom, cen, roll, flat, sil, clip_r)

    return map_clips(clips, extract, AUDIO_SPECTRAL_SCHEMA)
