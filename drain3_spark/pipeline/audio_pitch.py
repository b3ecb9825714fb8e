"""Pitch (f0) tracking and per-clip pitch statistics — the YIN
estimator (de Cheveigné & Kawahara 2002, "YIN, a fundamental
frequency estimator for speech and music"), the classic
autocorrelation-family algorithm; a curation pipeline uses f0 range
and voicing coverage to separate speech from tones/noise/music and to
stratify by speaker register.

Per frame (default 40 ms, 20 ms hop):

1. **difference function** d(tau) = sum_t (x[t] − x[t+tau])², computed
   for all lags at once via the autocorrelation identity
   d(tau) = r(0) + r_tau(0) − 2·acf(tau) with one rFFT-based
   autocorrelation per frame batch — no per-lag Python;
2. **cumulative mean normalized difference** d'(tau) =
   d(tau) · tau / cumsum(d); d'(0) = 1 by definition;
3. **absolute threshold**: the smallest tau with d'(tau) < 0.1 (the
   paper's recommended threshold), refined by parabolic interpolation
   around the minimum; frames with no dip below the threshold are
   UNVOICED;
4. f0 = sr / tau, accepted only inside [f_lo, f_hi] (default
   50-600 Hz, the speech band).

Per clip: voiced_ratio, median/min/max f0 over voiced frames, and the
frame count — deterministic arithmetic, so aggregates pin in closed
form against synthesized tones.

100-TB shape: one decode + one batched rFFT autocorrelation per clip
inside the shared per-clip Arrow loop
(:func:`drain3_spark.audio.runner.map_clips`); no shuffle until the
consumer aggregates.  The reference Drain3 has no audio surface;
this extends the curation family next to
:mod:`audio_quality` and :mod:`audio_vad`.
"""

from __future__ import annotations

from typing import Optional, Tuple

import numpy as np
from pyspark.sql import DataFrame, types as T

from drain3_spark.audio.runner import map_clips


def yin_frame_f0(frames: np.ndarray, sr: int, f_lo: float = 50.0,
                 f_hi: float = 600.0, threshold: float = 0.1) -> np.ndarray:
    """f0 per frame (NaN = unvoiced) for a (n_frames, frame_len) array.
    Vectorized across frames: one rFFT autocorrelation batch, then the
    YIN normalization + threshold scan in numpy."""
    nf, w = frames.shape
    if nf == 0:
        return np.zeros(0)
    tau_min = max(int(sr / f_hi), 2)
    tau_max = min(int(np.ceil(sr / f_lo)), w // 2)
    if tau_max <= tau_min:
        return np.full(nf, np.nan)
    half = w // 2
    # d(tau) = e0 + e_tau - 2*cross(tau) over tau=0..half, where every
    # term sums over the SAME half-window t=0..half-1 (the paper's eq.
    # 7): cross(tau) = sum_t x[t]*x[t+tau] is the correlation of the
    # frame with its own head window, one rFFT batch for all frames
    m = 1
    while m < 2 * w:
        m *= 2
    head = frames[:, :half]
    cross = np.fft.irfft(np.fft.rfft(frames, m, axis=1)
                         * np.conj(np.fft.rfft(head, m, axis=1)),
                         m, axis=1)[:, :half + 1]
    sq = frames ** 2
    c = np.concatenate([np.zeros((nf, 1)), np.cumsum(sq, axis=1)], axis=1)
    e0 = (c[:, half] - c[:, 0])[:, None]                # energy of head
    taus = np.arange(half + 1)
    e_tau = c[:, taus + half] - c[:, taus]              # energy of shifted
    d = e0 + e_tau - 2.0 * cross
    d[:, 0] = 0.0
    # cumulative-mean normalization: d'(tau) = d * tau / cumsum(d)
    cum = np.cumsum(d[:, 1:], axis=1)
    dn = np.ones_like(d)
    with np.errstate(divide="ignore", invalid="ignore"):
        dn[:, 1:] = np.where(cum > 0, d[:, 1:] * taus[1:] / cum, 1.0)
    # cum == 0 means a constant/silent frame: the paper defines d' = 1
    # there (a 0 would read as a perfect dip at tau_min and voice
    # digital silence at exactly f_hi whenever sr/f_hi is an integer)

    f0 = np.full(nf, np.nan)
    band = dn[:, tau_min:tau_max]
    below = band < threshold
    any_dip = below.any(axis=1)
    first = np.argmax(below, axis=1) + tau_min
    for i in np.nonzero(any_dip)[0]:
        t0 = int(first[i])
        # walk to the local minimum of this dip
        while t0 + 1 < tau_max and dn[i, t0 + 1] < dn[i, t0]:
            t0 += 1
        # parabolic refinement around the minimum
        if 1 <= t0 < dn.shape[1] - 1:
            a, b_, c_ = dn[i, t0 - 1], dn[i, t0], dn[i, t0 + 1]
            denom = a - 2 * b_ + c_
            shift = 0.5 * (a - c_) / denom if abs(denom) > 1e-12 else 0.0
            t = t0 + float(np.clip(shift, -1, 1))
        else:
            t = float(t0)
        f = sr / t
        if f_lo <= f <= f_hi:
            f0[i] = f
    return f0


def pitch_kernel(pcm: np.ndarray, sr: int, frame_ms: int = 40,
                 hop_ms: int = 20, f_lo: float = 50.0, f_hi: float = 600.0,
                 threshold: float = 0.1) -> Tuple[int, float,
                                                  Optional[float],
                                                  Optional[float],
                                                  Optional[float]]:
    """(n_frames, voiced_ratio, f0_median, f0_min, f0_max) for one
    decoded mono buffer — the single source of truth the Spark operator
    batches; tests replay it on synthesized tones."""
    n = len(pcm)
    w = max(int(sr) * frame_ms // 1000, 4)
    hop = max(int(sr) * hop_ms // 1000, 1)
    if n < w:
        return (0, 0.0, None, None, None)
    x = np.asarray(pcm, dtype=np.float64)
    nf = (n - w) // hop + 1
    idx = np.arange(w)[None, :] + (np.arange(nf) * hop)[:, None]
    f0 = yin_frame_f0(x[idx], int(sr), f_lo, f_hi, threshold)
    voiced = f0[~np.isnan(f0)]
    if voiced.size == 0:
        return (nf, 0.0, None, None, None)
    return (nf, round(float(voiced.size / nf), 6),
            round(float(np.median(voiced)), 6),
            round(float(np.min(voiced)), 6),
            round(float(np.max(voiced)), 6))


PITCH_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("voiced_ratio", T.DoubleType()),
    T.StructField("f0_median_hz", T.DoubleType()),
    T.StructField("f0_min_hz", T.DoubleType()),
    T.StructField("f0_max_hz", T.DoubleType()),
])


def pitch_stats(clips: DataFrame, frame_ms: int = 40, hop_ms: int = 20,
                f_lo: float = 50.0, f_hi: float = 600.0,
                threshold: float = 0.1, carry: tuple = ()) -> DataFrame:
    """Per-clip YIN pitch statistics (module docstring).  One decode
    per clip; undecodable payloads yield null metrics with
    voiced_ratio 0 (the decode CHECK family owns flagging them).
    ``carry`` passes input columns through so rollups need no corpus
    re-join."""
    def extract(rows):
        for (cid, _, sr, _c, *extra), pcm in rows:
            if pcm is None or not sr:
                yield (cid, 0, 0.0, None, None, None) + tuple(extra)
            else:
                yield ((cid,) + pitch_kernel(pcm, int(sr), frame_ms, hop_ms,
                                             f_lo, f_hi, threshold)
                       + tuple(extra))

    return map_clips(clips, extract, PITCH_SCHEMA, carry=carry)
