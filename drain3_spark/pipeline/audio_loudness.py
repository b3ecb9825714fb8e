"""ITU-R BS.1770-4 integrated loudness (LUFS) measurement — the level
check a speech corpus needs before it mixes sources recorded at
different gains (podcast vs telephony vs studio).  The kernels feed
:func:`loudness_stats` (q55) and the validator's opt-in
``loudness_bounds`` check.

Spec surface implemented (mono channel, weight 1.0):

* **K-weighting** — the two-stage prefilter of BS.1770-4 §2.1
  (high-shelf "head model" + high-pass).  The spec tabulates biquad
  coefficients at 48 kHz only; for arbitrary sample rates the stages
  are re-derived from the published analog prototype parameters
  (shelf f0 = 1681.9744509555319 Hz, gain = +3.99984385397 dB,
  Q = 0.7071752369554196; high-pass f0 = 38.13547087602444 Hz,
  Q = 0.5003270373238773 — the parametric derivation published in
  De Man, "Evaluation of Implementations of the EBU R128 Loudness
  Measurement", AES 2018, used by libebur128/pyloudnorm).  A test
  pins that the 48 kHz re-derivation reproduces the spec's Table 1/2
  coefficients to 1e-6.
* **Gating blocks** — 400 ms momentary blocks at 75% overlap
  (100 ms hop), block loudness ``-0.691 + 10·log10(mean(y²))``.
* **Two-stage gate** — absolute −70 LUFS, then relative: −10 LU
  under the mean power of the absolutely-gated blocks (§2.3).
  Integrated loudness = gated power mean.  All-silent clips (no
  block above −70) report NULL.
* **Loudness range (LRA)** — EBU Tech 3342: 3 s short-term windows,
  absolute −70 / relative −20 LU gates, 95th − 10th percentile.
* **True peak** — BS.1770-4 Annex 2: 4x over-sampled inter-sample
  peak (windowed-sinc interpolation), reported in dBTP.

Filtering without scipy: the biquad cascade is materialized once per
sample rate as a truncated impulse response (recursion run until the
tail falls below 1e-12 of the peak — the filter is minimum-phase and
decays geometrically) and applied by FFT linear convolution.  The
result equals the direct-form recursion to ~1e-12, far below float32
audio quantization, and is fully vectorized.  The IR cache lives in
the python worker process, so at scale each executor derives each
sample rate once.

100-TB shape: measurement is embarrassingly parallel (one decode +
one rFFT-convolve per clip inside the shared per-clip Arrow loop,
:func:`drain3_spark.audio.runner.map_clips`; no shuffle until the
consumer aggregates).  The reference Drain3 has no audio surface;
this extends the validation engine's payload family (C8).
"""

from __future__ import annotations

import math
from typing import Optional

import numpy as np
from pyspark.sql import DataFrame, types as T

from drain3_spark.audio.runner import map_clips

# analog prototype parameters of the two K-weighting stages (public
# derivation — module docstring); the spec's 48 kHz table is the
# bilinear transform of exactly these.
_SHELF_F0 = 1681.9744509555319
_SHELF_GAIN_DB = 3.999843853973347
_SHELF_Q = 0.7071752369554196
_HP_F0 = 38.13547087602444
_HP_Q = 0.5003270373238773

_BLOCK_S = 0.400   # momentary block (BS.1770-4 §2.2)
_HOP_S = 0.100     # 75% overlap
_ABS_GATE = -70.0  # LUFS
_REL_GATE = -10.0  # LU below the abs-gated mean
_OFFSET = -0.691   # the spec's loudness offset


def k_weighting_coeffs(fs: float) -> tuple:
    """(b1, a1, b2, a2) biquad coefficients of the two K-weighting
    stages at sample rate ``fs`` (a normalized so a[0] == 1)."""
    # stage 1: high shelf
    K = math.tan(math.pi * _SHELF_F0 / fs)
    Vh = 10.0 ** (_SHELF_GAIN_DB / 20.0)
    Vb = Vh ** 0.4996667741545416
    a0 = 1.0 + K / _SHELF_Q + K * K
    b1 = np.array([(Vh + Vb * K / _SHELF_Q + K * K) / a0,
                   2.0 * (K * K - Vh) / a0,
                   (Vh - Vb * K / _SHELF_Q + K * K) / a0])
    a1 = np.array([1.0,
                   2.0 * (K * K - 1.0) / a0,
                   (1.0 - K / _SHELF_Q + K * K) / a0])
    # stage 2: high pass (spec Table 2 keeps b unnormalized at 1,-2,1)
    K = math.tan(math.pi * _HP_F0 / fs)
    a0 = 1.0 + K / _HP_Q + K * K
    b2 = np.array([1.0, -2.0, 1.0])
    a2 = np.array([1.0,
                   2.0 * (K * K - 1.0) / a0,
                   (1.0 - K / _HP_Q + K * K) / a0])
    return b1, a1, b2, a2


_IR_CACHE: dict = {}


def k_weighting_ir(fs: int, tol: float = 1e-12,
                   max_len: int = 1 << 16) -> np.ndarray:
    """Truncated impulse response of the K-weighting cascade at ``fs``,
    cut where the running tail falls below ``tol`` of the peak.

    Computed as ONE 4th-order direct-form recursion of the cascaded
    polynomial (b1*b2, a1*a2) — O(n), extended incrementally while the
    tail check doubles n.  The former shape re-ran two per-stage
    recursions AND an O(n²) direct ``np.convolve`` per doubling step
    (~0.12 s per step, ~0.5 s per sample rate), paid once per python
    WORKER per rate because this cache is process-local; equal to the
    per-stage cascade within ~1e-14 (the tests pin the kernel at 1e-9
    against the direct recursion and 1e-6 against the spec table)."""
    fs = int(fs)
    h = _IR_CACHE.get(fs)
    if h is not None:
        return h
    b1, a1, b2, a2 = k_weighting_coeffs(fs)
    b = np.convolve(b1, b2)      # 5-tap cascade numerator
    a = np.convolve(a1, a2)      # 5-tap cascade denominator, a[0] = 1
    bl, al = b.tolist(), a.tolist()
    buf = np.zeros(max_len)
    filled = 0

    def extend(to: int) -> None:
        nonlocal filled
        for i in range(filled, to):
            acc = bl[i] if i < 5 else 0.0
            if i >= 1:
                acc -= al[1] * buf[i - 1]
            if i >= 2:
                acc -= al[2] * buf[i - 2]
            if i >= 3:
                acc -= al[3] * buf[i - 3]
            if i >= 4:
                acc -= al[4] * buf[i - 4]
            buf[i] = acc
        filled = to

    n = 1024
    while True:
        extend(n)
        h = buf[:n]
        tail = np.max(np.abs(h[n - 16:n]))
        if tail < tol * np.max(np.abs(h)) or n >= max_len:
            break
        n = min(n * 2, max_len)
    # trim the silent tail back to the tolerance point
    keep = np.nonzero(np.abs(h) >= tol * np.max(np.abs(h)))[0]
    h = (h[:int(keep[-1]) + 1] if keep.size else h[:3]).copy()
    _IR_CACHE[fs] = h
    return h


def preseed_ir_cache(irs: dict) -> None:
    """Install driver-computed IRs into this process's cache — the Spark
    operators close over the standard-rate IRs so reused python workers
    never recompute them (guide §4.5: heavyweight init once)."""
    for fs, h in irs.items():
        _IR_CACHE.setdefault(int(fs), h)


_HF_CACHE: dict = {}


def _rfft_ir(key, h: np.ndarray, m: int) -> np.ndarray:
    """rfft of a filter at FFT size m, cached by (key, m): clip lengths
    cluster on few power-of-two sizes, so each executor transforms each
    filter a handful of times instead of once per clip (bit-identical
    results — the same array is reused)."""
    hf = _HF_CACHE.get((key, m))
    if hf is None:
        hf = np.fft.rfft(h, m)
        _HF_CACHE[(key, m)] = hf
    return hf


def k_weight(pcm: np.ndarray, fs: int) -> np.ndarray:
    """Apply the K-weighting prefilter (FFT linear convolution with the
    cached truncated IR; equals the direct-form recursion to ~1e-12)."""
    h = k_weighting_ir(fs)
    n = len(pcm)
    if n == 0:
        return pcm.astype(np.float64)
    m = 1
    while m < n + len(h) - 1:
        m *= 2
    y = np.fft.irfft(np.fft.rfft(pcm, m) * _rfft_ir(("kw", fs), h, m), m)
    return y[:n]


def _block_powers(y: np.ndarray, fs: int, block_s: float,
                  hop_s: float) -> np.ndarray:
    """Mean power of overlapped blocks (cumulative-sum vectorization);
    one partial block when the signal is shorter than a block."""
    n = len(y)
    blk = int(round(block_s * fs))
    hop = int(round(hop_s * fs))
    if n < blk:
        return np.array([float(np.mean(y ** 2))])
    nb = (n - blk) // hop + 1
    c = np.concatenate(([0.0], np.cumsum(y ** 2)))
    starts = np.arange(nb) * hop
    return (c[starts + blk] - c[starts]) / blk


def lra_kernel(pcm: np.ndarray, fs: int,
               _kw: Optional[np.ndarray] = None) -> Optional[float]:
    """Loudness range (LRA, LU) per EBU Tech 3342: short-term loudness
    over 3 s windows (1 s hop here — deterministic, documented),
    absolute −70 LUFS gate then relative −20 LU below the gated power
    mean, LRA = 95th − 10th percentile of the surviving short-term
    values.  None when nothing clears the absolute gate; 0.0 for
    programs shorter than one window (a single block has no range)."""
    if len(pcm) == 0:
        return None
    y = k_weight(np.asarray(pcm, dtype=np.float64), int(fs)) \
        if _kw is None else _kw
    z = _block_powers(y, fs, 3.0, 1.0)
    ls = _OFFSET + 10.0 * np.log10(np.maximum(z, 1e-30))
    keep = z[ls > _ABS_GATE]
    if keep.size == 0:
        return None
    rel = _OFFSET + 10.0 * np.log10(np.mean(keep)) - 20.0
    vals = np.sort(ls[(ls > _ABS_GATE) & (ls > rel)])
    if vals.size <= 1:
        return 0.0
    lo, hi = np.percentile(vals, [10.0, 95.0])
    return round(float(hi - lo), 6)


_TP_FILTER_CACHE: dict = {}


def _truepeak_filter(phases: int = 4, taps_per_phase: int = 12) -> np.ndarray:
    """Windowed-sinc lowpass for ``phases``x oversampling (BS.1770-4
    Annex 2 prescribes 4x over-sampled true-peak metering; any
    good interpolation filter is conformant — this is a Hann-windowed
    sinc at the original Nyquist, 48 taps)."""
    key = (phases, taps_per_phase)
    h = _TP_FILTER_CACHE.get(key)
    if h is None:
        n = phases * taps_per_phase
        t = np.arange(n) - (n - 1) / 2.0
        h = np.sinc(t / phases) * np.hanning(n)
        h *= phases / np.sum(h)  # unity passband gain after zero-stuffing
        _TP_FILTER_CACHE[key] = h
    return h


def true_peak_dbfs(pcm: np.ndarray, oversample: int = 4) -> Optional[float]:
    """Inter-sample (true) peak in dBTP via ``oversample``x windowed-
    sinc interpolation — a sample-peak meter misses crests that land
    between samples by up to ~3 dB (the classic case: a tone at fs/4
    sampled off-crest reads −3.01 dBFS sample peak but 0 dBTP)."""
    n = len(pcm)
    if n == 0:
        return None
    x = np.asarray(pcm, dtype=np.float64)
    h = _truepeak_filter(oversample)
    up = np.zeros(n * oversample)
    up[::oversample] = x
    m = 1
    while m < len(up) + len(h) - 1:
        m *= 2
    # keep the FULL linear-convolution length: truncating at len(up)
    # discarded the filter's ~taps-1 output tail, under-measuring
    # inter-sample peaks within the last few source samples
    y = np.fft.irfft(np.fft.rfft(up, m)
                     * _rfft_ir(("tp", oversample), h, m),
                     m)[:len(up) + len(h) - 1]
    peak = max(float(np.max(np.abs(y))), float(np.max(np.abs(x))))
    return round(20.0 * np.log10(max(peak, 1e-10)), 6)


def lufs_kernel(pcm: np.ndarray, fs: int,
                _kw: Optional[np.ndarray] = None) -> tuple:
    """(integrated_lufs, momentary_max_lufs, n_blocks, n_gated) for one
    decoded mono PCM buffer — the single source of truth the Spark
    operator batches; tests replay it directly.  Clips shorter than one
    400 ms block are measured as a single partial block (documented
    deviation: the spec defines integrated loudness only from 400 ms).
    Returns (None, None, n, 0) when no block clears the −70 LUFS
    absolute gate (digital silence)."""
    n = len(pcm)
    if n == 0:
        return (None, None, 0, 0)
    y = k_weight(np.asarray(pcm, dtype=np.float64), int(fs)) \
        if _kw is None else _kw
    z = _block_powers(y, fs, _BLOCK_S, _HOP_S)
    lj = _OFFSET + 10.0 * np.log10(np.maximum(z, 1e-30))
    mmax = float(np.max(lj))
    keep = z[lj > _ABS_GATE]
    if keep.size == 0:
        return (None, None, int(z.size), 0)
    rel_thresh = _OFFSET + 10.0 * np.log10(np.mean(keep)) + _REL_GATE
    mask = (lj > _ABS_GATE) & (lj > rel_thresh)
    gated = z[mask]
    if gated.size == 0:
        return (None, round(mmax, 6), int(z.size), 0)
    lufs = _OFFSET + 10.0 * np.log10(np.mean(gated))
    return (round(float(lufs), 6), round(mmax, 6), int(z.size),
            int(gated.size))


LOUDNESS_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType()),
    T.StructField("n_samples", T.IntegerType()),
    T.StructField("integrated_lufs", T.DoubleType()),
    T.StructField("momentary_max_lufs", T.DoubleType()),
    T.StructField("n_blocks", T.IntegerType()),
    T.StructField("n_gated_blocks", T.IntegerType()),
    T.StructField("loudness_range_lu", T.DoubleType()),
    T.StructField("true_peak_dbfs", T.DoubleType()),
])


def loudness_stats(clips: DataFrame, carry: tuple = ()) -> DataFrame:
    """Per-clip BS.1770-4 integrated loudness + EBU Tech 3342 loudness
    range + Annex-2 true peak (module docstring).  One decode AND one
    K-weighting filter pass per clip — integrated and LRA share the
    weighted signal; undecodable payloads yield null metrics (the
    decode CHECK family owns flagging them).

    ``carry`` names input columns passed through to the output — at
    corpus scale a rollup keyed on ds/codec should carry them here
    rather than re-join on ``clip_id`` (a second full scan plus a
    corpus-sized shuffle)."""
    from drain3_spark.audio.synth import SR_CHOICES
    nulls = (None, None, 0, 0, None, None)
    # standard-rate IRs computed once on the driver and shipped in the
    # closure: reused workers skip the per-rate IR build entirely
    pre_irs = {int(s): k_weighting_ir(int(s)) for s in SR_CHOICES}

    def extract(rows):
        preseed_ir_cache(pre_irs)
        for (cid, _, sr, _c, *extra), pcm in rows:
            if pcm is None:
                yield (cid, 0) + nulls + tuple(extra)
            elif not sr or len(pcm) == 0:
                yield (cid, len(pcm)) + nulls + tuple(extra)
            else:
                y = k_weight(np.asarray(pcm, dtype=np.float64), int(sr))
                yield ((cid, len(pcm))
                       + lufs_kernel(pcm, int(sr), _kw=y)
                       + (lra_kernel(pcm, int(sr), _kw=y),
                          true_peak_dbfs(pcm))
                       + tuple(extra))

    return map_clips(clips, extract, LOUDNESS_SCHEMA, carry=carry)
