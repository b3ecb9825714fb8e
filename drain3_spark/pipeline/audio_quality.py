"""Per-clip audio QUALITY SCORING for training-data curation — the
audio analog of the text family's ``quality_score``
(:mod:`drain3_spark.pipeline.text`): level metrics, an SNR estimate,
and a composite [0,1] score a pipeline can filter or stratify on.

One decode pass per clip (the shared per-clip Arrow loop,
:func:`drain3_spark.audio.runner.map_clips`), all metrics plain
numpy:

* ``peak_dbfs`` / ``rms_dbfs`` — digital level (0 dBFS = full scale);
* ``est_snr_db`` — frame-power decile estimate: noise floor = mean
  power of the quietest decile of 20 ms frames, signal = mean power
  of the rest; 10·log10(signal/noise) clamped to [-10, 60].  No
  reference signal needed (contrast the validation family's
  ``snr_db``, which compares against the regenerable reference);
* ``clipping_ratio`` / ``silence_ratio`` / ``flatness`` — shared
  definitions with ``audio_spectral_features`` (full-scale samples,
  quiet 20 ms frames, geometric/arithmetic spectral mean);
* ``quality_score`` — 1 minus stacked penalties (clipping, dead air,
  noise-likeness, low SNR), clamped to [0, 1].  Deterministic
  arithmetic, so aggregates over it pin in closed form.

A corrupt payload (random bytes decoded as PCM) scores low twice
over — flatness → 1 and est_snr_db → 0 — which is what makes the
score a usable detector on the dirty fixture corpus (q47).

100-TB shape: embarrassingly parallel over clips, no shuffle at all
until the consumer aggregates; bytes are read once and never leave
the task.  Undecodable payloads yield null metrics and
``quality_score = 0.0`` (the decode CHECK family owns flagging them;
a curation filter should still drop them).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, types as T

from drain3_spark.audio.runner import map_clips

AUDIO_QUALITY_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType()),
    T.StructField("n_samples", T.IntegerType()),
    T.StructField("peak_dbfs", T.DoubleType()),
    T.StructField("rms_dbfs", T.DoubleType()),
    T.StructField("est_snr_db", T.DoubleType()),
    T.StructField("clipping_ratio", T.DoubleType()),
    T.StructField("silence_ratio", T.DoubleType()),
    T.StructField("flatness", T.DoubleType()),
    T.StructField("quality_score", T.DoubleType()),
])


def quality_kernel(pcm: np.ndarray, sr: int, frame_ms: int = 20,
                   silence_rms: float = 0.01) -> tuple:
    """Metrics for one decoded PCM buffer — the single source of truth
    the Spark operator batches; tests and value pins replay it
    directly.  Returns the AUDIO_QUALITY_SCHEMA tail (everything after
    n_samples)."""
    n = len(pcm)
    if n == 0:
        return (None, None, None, None, None, None, 0.0)
    apk = float(np.max(np.abs(pcm)))
    rms = float(np.sqrt(np.mean(pcm ** 2)))
    peak_dbfs = 20.0 * np.log10(max(apk, 1e-10))
    rms_dbfs = 20.0 * np.log10(max(rms, 1e-10))
    clip_r = float(np.mean(np.abs(pcm) >= 0.999))

    frame = max(int(sr) * frame_ms // 1000, 1)
    nf = n // frame
    if nf > 0:
        fp = np.mean(pcm[:nf * frame].reshape(nf, frame) ** 2, axis=1)
        sil = float(np.mean(np.sqrt(fp) < silence_rms))
    else:
        fp = np.array([rms ** 2])
        sil = float(rms < silence_rms)
    # decile SNR estimate: quietest 10% of frames = noise floor
    k = max(nf // 10, 1) if nf > 0 else 1
    srt = np.sort(fp)
    noise = float(np.mean(srt[:k]))
    signal = float(np.mean(srt[k:])) if len(srt) > k else noise
    snr = 10.0 * np.log10((signal + 1e-20) / (noise + 1e-20))
    snr = float(np.clip(snr, -10.0, 60.0))

    mag2 = np.abs(np.fft.rfft(pcm)) ** 2
    mag2[0] = 0.0
    p = mag2[1:]
    flat = (float(np.exp(np.mean(np.log(p + 1e-20))) / (np.mean(p) + 1e-20))
            if p.size else None)

    # flatness carries the heaviest weight: the decile SNR estimate
    # reads ~0 dB for ANY stationary program (no quiet frames to call
    # a noise floor) — it discriminates speech-shaped material with
    # pauses, while flatness separates content from noise everywhere
    score = 1.0
    score -= min(clip_r * 5.0, 0.3)
    score -= min(sil, 0.3)
    score -= 0.4 * (flat if flat is not None else 1.0)
    score -= 0.2 * max(0.0, (20.0 - snr) / 20.0)
    score = float(np.clip(score, 0.0, 1.0))
    return (round(peak_dbfs, 6), round(rms_dbfs, 6), round(snr, 6),
            round(clip_r, 6), round(sil, 6),
            None if flat is None else round(flat, 6), round(score, 6))


def audio_quality(clips: DataFrame, frame_ms: int = 20,
                  silence_rms: float = 0.01) -> DataFrame:
    """Per-clip quality metrics + composite score (module docstring).
    One decode per clip; undecodable → null metrics, score 0."""
    nulls = (None,) * 6 + (0.0,)

    def extract(rows):
        for (cid, _, sr, _c), pcm in rows:
            if pcm is None:
                yield (cid, 0) + nulls
            elif not sr:
                yield (cid, len(pcm)) + nulls
            else:
                yield ((cid, len(pcm))
                       + quality_kernel(pcm.astype(np.float64), int(sr),
                                        frame_ms, silence_rms))

    return map_clips(clips, extract, AUDIO_QUALITY_SCHEMA)
