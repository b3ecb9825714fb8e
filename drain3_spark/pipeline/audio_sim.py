"""Audio similarity / transformation operators for a training-data
pipeline: mel-spectral embeddings, MFCCs, audio near-duplicate
detection, resampling, and silence trimming.

All DSP is pure numpy (rFFT + mel filterbank) inside the shared
per-clip Arrow loop (:func:`drain3_spark.audio.runner.map_clips`) — no
media or DSP library, no per-row JVM crossing.  The spectral operators
here and the fingerprint (:mod:`audio_fp`) share one STFT front end,
:func:`power_frames`: one stacked rFFT per (Arrow batch, rate), with
any log or DCT applied to the whole stack before it is sliced per clip
(:func:`_mel_by_rate`).

The near-dup operator shares the blocked-pair shape of the embedding
dedup family (:mod:`drain3_spark.pipeline.similarity`): a spectral
embedding per clip, RANDOM-HYPERPLANE LSH blocking (``lsh_bands``
independent ``lsh_bits``-bit sign signatures over the embedding — a
bucket space of ``lsh_bands * 2**lsh_bits`` keys that grows with a
real knob, unlike a top-mel-band key whose cardinality is capped at
``n_mels`` regardless of corpus size; see :func:`audio_near_dup_pairs`
for the sizing recipe), and the family's one exact cosine
verify — :func:`drain3_spark.pipeline.similarity._verify_pairs`, a
block stream that scores each bucket's pairs in one ``mapInArrow`` task
per core, string clip ids passed straight through — candidate-bounded
at any corpus size.

Key invariances of the embedding (measured, pinned by tests):

* **gain** — band powers scale uniformly; L2 normalization removes it;
* **codec** — mulaw/alaw quantization noise perturbs cosine < 1e-4 on
  the fixture corpus;
* **sample rate** — frame length is fixed in MILLISECONDS, so the rFFT
  bin grid is the same in Hz at every rate, and mel triangles are
  defined in Hz up to ``f_hi`` (below the lowest supported Nyquist):
  a resampled copy of a clip lands on the same embedding.
"""

from __future__ import annotations

from typing import Callable, Dict, List, Optional, Tuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F, types as T

from drain3_spark.audio.codecs import encode
from drain3_spark.audio.runner import PAYLOAD_COLS, map_clips

AUDIO_EMBEDDING_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("embedding", T.ArrayType(T.DoubleType())),
    # random-hyperplane LSH bucket keys, computed INSIDE the same
    # extract UDF when lsh_bits is given (one matmul per Arrow batch) —
    # a separate bucket-assignment arrow_udf would chain a THIRD python
    # worker behind synth+embed in every task (each mapInArrow layer
    # leases its own worker; measured ~3x task overhead on small tiers)
    T.StructField("buckets", T.ArrayType(T.LongType())),
])

AUDIO_MFCC_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("mfcc", T.ArrayType(T.DoubleType())),
])

RESAMPLED_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType()),
    T.StructField("bytes", T.BinaryType()),
    T.StructField("sr_hz", T.IntegerType()),
    T.StructField("dur_ms", T.IntegerType()),
    T.StructField("codec", T.StringType()),
])

TRIMMED_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType()),
    T.StructField("bytes", T.BinaryType()),
    T.StructField("sr_hz", T.IntegerType()),
    T.StructField("dur_ms", T.IntegerType()),
    T.StructField("codec", T.StringType()),
    T.StructField("trimmed_lead_ms", T.IntegerType()),
    T.StructField("trimmed_tail_ms", T.IntegerType()),
])


# ------------------------------------------------------------ mel machinery

def _hz_to_mel(f):
    return 2595.0 * np.log10(1.0 + np.asarray(f, dtype=np.float64) / 700.0)


def _mel_to_hz(m):
    return 700.0 * (10.0 ** (np.asarray(m, dtype=np.float64) / 2595.0) - 1.0)


def mel_filterbank(sr_hz: int, n_fft: int, n_mels: int,
                   f_lo: float, f_hi: float) -> np.ndarray:
    """(n_mels, n_fft//2+1) triangular mel filterbank (HTK mel scale),
    triangles anchored in Hz so the same physical band is measured at
    every sample rate."""
    pts = _mel_to_hz(np.linspace(_hz_to_mel(f_lo), _hz_to_mel(f_hi),
                                 n_mels + 2))
    freqs = np.fft.rfftfreq(n_fft, d=1.0 / float(sr_hz))
    fb = np.zeros((n_mels, len(freqs)))
    for m in range(n_mels):
        left, center, right = pts[m], pts[m + 1], pts[m + 2]
        up = (freqs - left) / max(center - left, 1e-12)
        down = (right - freqs) / max(right - center, 1e-12)
        fb[m] = np.maximum(0.0, np.minimum(up, down))
    return fb


# per-executor caches: filterbanks and Hann windows are pure functions
# of their parameters, shared across Arrow batches
_FB_CACHE: Dict[Tuple, np.ndarray] = {}
_WIN_CACHE: Dict[int, np.ndarray] = {}


# ---------------------------------------------------------- STFT front end

def stft_grid(sr: int, frame_ms: int, hop_ms: int) -> Tuple[int, int]:
    """``(frame, hop)`` in samples at rate ``sr``.  Both are fixed in
    MILLISECONDS, so the rFFT bin grid is the same in Hz at every rate."""
    return max(int(sr) * frame_ms // 1000, 2), max(int(sr) * hop_ms // 1000, 1)


def usable_rate(pcm: Optional[np.ndarray], sr) -> int:
    """The clip's sample rate when it decoded to samples and has one,
    else 0 (a clip with a NULL ``sr_hz`` is never decoded)."""
    if pcm is None or not len(pcm) or not sr:
        return 0
    return int(sr)


def power_frames(pcms, sr: int, frame_ms: int,
                 hop_ms: int) -> Tuple[np.ndarray, List[int]]:
    """The one STFT front end: ``(P, counts)``, the Hann-windowed rFFT
    power of every frame of every clip in ``pcms`` (clips at ONE sample
    rate share the frame width, so the stack is rectangular) and each
    clip's frame count, in input order.  Clips shorter than a frame are
    zero-padded to one frame.  All frames go through ONE rFFT: per-clip
    numpy call overhead dominates short clips, and stacking moves it to
    one call per (Arrow batch, rate) (measured 1.6x end-to-end on the
    50k-clip bench corpus, where scan+decode share the clock)."""
    frame, hop = stft_grid(sr, frame_ms, hop_ms)
    win = _WIN_CACHE.get(frame)
    if win is None:
        win = _WIN_CACHE[frame] = np.hanning(frame)
    stacks, counts = [], []
    for pcm in pcms:
        if len(pcm) < frame:
            pcm = np.pad(pcm, (0, frame - len(pcm)))
        starts = np.arange(0, len(pcm) - frame + 1, hop)
        stacks.append(
            np.lib.stride_tricks.sliding_window_view(pcm, frame)[starts])
        counts.append(len(starts))
    M = np.concatenate(stacks) * win
    return np.abs(np.fft.rfft(M, axis=1)) ** 2, counts


def _mel_frames_many(pcms, sr: int, frame_ms: int, hop_ms: int,
                     n_mels: int, f_lo: float, f_hi: float):
    """``(E, counts)``: the :func:`power_frames` stack of clips sharing
    a sample rate through ONE filterbank matmul — the concatenated
    (total_frames, n_mels) mel power energies and the per-clip frame
    counts.  A clip's rows can differ in the last bits with the stack
    they ride in (pocketfft vectorizes across transforms, so summation
    order depends on batch shape; pinned at 1e-12 by
    ``test_mel_frames_many_matches_single``)."""
    P, counts = power_frames(pcms, sr, frame_ms, hop_ms)
    frame = stft_grid(sr, frame_ms, hop_ms)[0]
    key = (int(sr), frame, n_mels, float(f_lo), float(f_hi))
    fb = _FB_CACHE.get(key)
    if fb is None:
        fb = _FB_CACHE[key] = mel_filterbank(sr, frame, n_mels, f_lo, f_hi)
    return P @ fb.T, counts


def _mel_by_rate(rows, frame_ms: int, hop_ms: int, n_mels: int,
                 f_lo: float, f_hi: float,
                 transform: Optional[Callable] = None):
    """Yield ``(row index, clip_id, frames)`` for every clip of a
    decoded batch (:func:`map_clips` rows) that has samples and a rate.
    Clips are grouped by sample rate, each group is one
    :func:`_mel_frames_many` stack, and ``transform`` (a log, a DCT
    matmul) runs on the WHOLE stack before it is sliced per clip: a
    per-clip matmul changes the last bits against the stacked product.
    Groups come in first-seen rate order, clips in input order."""
    by_sr: Dict[int, list] = {}        # sr -> [(row_idx, cid, pcm)]
    for j, ((cid, _, sr, _c), pcm) in enumerate(rows):
        rate = usable_rate(pcm, sr)
        if rate:
            by_sr.setdefault(rate, []).append(
                (j, cid, pcm.astype(np.float64)))
    for sr, items in by_sr.items():
        E, counts = _mel_frames_many([p for _, _, p in items], sr,
                                     frame_ms, hop_ms, n_mels, f_lo, f_hi)
        if transform is not None:
            E = transform(E)
        pos = 0
        for (j, cid, _), nf in zip(items, counts):
            yield j, cid, E[pos:pos + nf]
            pos += nf


def audio_embeddings(clips: DataFrame, n_mels: int = 64,
                     frame_ms: int = 64, hop_ms: int = 32,
                     f_lo: float = 100.0, f_hi: float = 3500.0,
                     lsh_bits: Optional[int] = None, lsh_bands: int = 4,
                     lsh_seed: int = 7) -> DataFrame:
    """Per-clip spectral embedding: decode -> framed Hann rFFT -> mel
    band powers (LINEAR, per-frame), time-averaged, L2-normalized.

    Linear (not log) power keeps the embedding dominated by spectral
    CONTENT rather than the noise floor — distinct clips decorrelate
    while gain/codec/resample copies stay at cosine ~1 (see module
    docstring).  ``f_hi`` must sit below the lowest Nyquist in the
    corpus (3500 < 8000/2 for every supported rate) so every clip
    measures the same physical bands.  Undecodable payloads yield a
    null embedding (the decode CHECK family owns flagging them).

    ``lsh_bits`` (optional) also fills the ``buckets`` column with
    ``lsh_bands`` random-hyperplane keys per clip, computed in the SAME
    UDF pass (one extra matmul per Arrow batch) — the near-dup
    operators request it so their tasks chain two python workers
    (synth-like source + this extract), not three."""
    def extract(rows):
        rows = list(rows)
        out = [(row[0], 0, None, None) for row, _ in rows]
        vecs = {}
        for j, cid, E in _mel_by_rate(rows, frame_ms, hop_ms, n_mels,
                                      f_lo, f_hi):
            v = E.mean(axis=0)
            nrm = float(np.linalg.norm(v))
            if nrm > 0.0:
                v = v / nrm
            vecs[j] = v
            out[j] = (cid, len(E), [float(x) for x in v], None)
        if lsh_bits is not None and vecs:
            idxs = sorted(vecs)
            B = lsh_bucket_ids(np.vstack([vecs[j] for j in idxs]),
                               int(lsh_bits), lsh_bands, lsh_seed)
            for row_of_B, j in enumerate(idxs):
                out[j] = out[j][:3] + (B[row_of_B].tolist(),)
        return out

    return map_clips(clips, extract, AUDIO_EMBEDDING_SCHEMA)


def audio_mfcc(clips: DataFrame, n_mfcc: int = 13, n_mels: int = 26,
               frame_ms: int = 64, hop_ms: int = 32,
               f_lo: float = 100.0, f_hi: float = 3500.0) -> DataFrame:
    """Time-averaged MFCCs: log mel energies -> orthonormal DCT-II ->
    first ``n_mfcc`` coefficients, averaged over frames.

    Gain multiplies every mel energy by the same factor, which under
    log becomes an additive constant — it moves ONLY coefficient 0
    (the DCT's constant basis); c1..c12 are gain-invariant (pinned by
    ``test_audio_mfcc_gain_invariance``)."""
    # orthonormal DCT-II matrix (n_mfcc x n_mels), built once per plan
    k = np.arange(n_mfcc)[:, None]
    n = np.arange(n_mels)[None, :]
    dct = np.cos(np.pi * k * (2 * n + 1) / (2.0 * n_mels))
    dct *= np.sqrt(2.0 / n_mels)
    dct[0] /= np.sqrt(2.0)

    def extract(rows):
        rows = list(rows)
        out = [(row[0], 0, None) for row, _ in rows]
        for j, cid, C in _mel_by_rate(
                rows, frame_ms, hop_ms, n_mels, f_lo, f_hi,
                lambda E: np.log(E + 1e-12) @ dct.T):
            out[j] = (cid, len(C), [float(x) for x in C.mean(axis=0)])
        return out

    return map_clips(clips, extract, AUDIO_MFCC_SCHEMA)


# ----------------------------------------------- random-hyperplane LSH

# per-executor cache: hyperplane matrices are pure functions of their
# parameters (deterministic rng seed), shared across Arrow batches
_PLANES_CACHE: Dict[Tuple, np.ndarray] = {}


def _lsh_planes(dim: int, n_bits: int, n_bands: int,
                seed: int) -> np.ndarray:
    """(n_bands * n_bits, dim) standard-normal hyperplanes, deterministic
    in (dim, n_bits, n_bands, seed) — every executor and every driver
    replay derives the identical matrix, so bucket ids are stable
    across jobs, batches, and incremental-index generations."""
    key = (int(dim), int(n_bits), int(n_bands), int(seed))
    P = _PLANES_CACHE.get(key)
    if P is None:
        rng = np.random.default_rng(seed)
        P = _PLANES_CACHE[key] = rng.standard_normal(
            (n_bits * n_bands, dim))
    return P


def lsh_bucket_ids(E: np.ndarray, n_bits: int, n_bands: int,
                   seed: int) -> np.ndarray:
    """(n, n_bands) int64 bucket keys for row-wise embeddings ``E``:
    per band, the packed sign bits of ``n_bits`` random projections,
    tagged with the band index (``band << n_bits | signature``) so the
    bands' key spaces never collide.  One matmul for all bands.

    Collision probability per bit for two vectors at angle θ is
    1 - θ/π (random-hyperplane LSH), so a pair at cosine c agrees on a
    whole band with ``(1 - arccos(c)/π) ** n_bits`` and is generated as
    a candidate by at least one of the ``n_bands`` independent bands
    with ``1 - (1 - p_band) ** n_bands``."""
    if (1 << n_bits) * n_bands > (1 << 62):
        raise ValueError("n_bits + log2(n_bands) must stay below 62 "
                         "to pack into an int64 bucket key")
    P = _lsh_planes(E.shape[1], n_bits, n_bands, seed)
    bits = (E @ P.T) > 0.0                       # (n, n_bands*n_bits)
    weights = (np.int64(1) << np.arange(n_bits, dtype=np.int64))
    out = np.empty((E.shape[0], n_bands), dtype=np.int64)
    for b in range(n_bands):
        sig = bits[:, b * n_bits:(b + 1) * n_bits].astype(np.int64) @ weights
        out[:, b] = (np.int64(b) << np.int64(n_bits)) | sig
    return out


def audio_lsh_buckets(emb: DataFrame, lsh_bits: int = 16,
                      lsh_bands: int = 4, lsh_seed: int = 7) -> DataFrame:
    """Append an ``array<long>`` ``buckets`` column (``lsh_bands``
    random-hyperplane keys per clip) to an :func:`audio_embeddings`
    output.  Vectorized: one Arrow batch → one matmul over the stacked
    embedding matrix; no per-row Python."""
    @F.arrow_udf(T.ArrayType(T.LongType()))
    def buckets_udf(col: pa.Array) -> pa.Array:
        if len(col) == 0:
            return pa.array([], type=pa.list_(pa.int64()))
        E = np.vstack([np.asarray(v, dtype=np.float64)
                       for v in col.to_pylist()])
        B = lsh_bucket_ids(E, lsh_bits, lsh_bands, lsh_seed)
        return pa.array(list(B), type=pa.list_(pa.int64()))

    return emb.withColumn("buckets", buckets_udf(F.col("embedding")))


def _embed_assigned(clips: DataFrame, n_mels: int, frame_ms: int,
                    hop_ms: int, f_lo: float, f_hi: float, lsh_bits: int,
                    lsh_bands: int, lsh_seed: int) -> DataFrame:
    """(clip_id, bucket:long, vec) — one row per (clip, LSH band), the
    shared candidate-generation input of the one-shot and incremental
    audio dedup operators.  The LSH keys come out of the embedding
    extract itself (see :func:`audio_embeddings`), so the whole
    assignment is ONE python stage over the payload scan."""
    emb = audio_embeddings(clips, n_mels, frame_ms, hop_ms, f_lo, f_hi,
                           lsh_bits=lsh_bits, lsh_bands=lsh_bands,
                           lsh_seed=lsh_seed)
    return (emb.filter(F.col("embedding").isNotNull())
            .select("clip_id", F.explode("buckets").alias("bucket"),
                    F.col("embedding").alias("vec")))


# ------------------------------------------------------------- near-dup

def audio_near_dup_pairs(clips: DataFrame, threshold: float = 0.999,
                         method: str = "catalyst", n_mels: int = 64,
                         frame_ms: int = 64, hop_ms: int = 32,
                         f_lo: float = 100.0, f_hi: float = 3500.0,
                         lsh_bits: int = 16, lsh_bands: int = 4,
                         lsh_seed: int = 7) -> DataFrame:
    """Audio near-duplicate pairs over an UNLABELED clip corpus:
    ``(clip_id_a, clip_id_b, cosine)`` with ``clip_id_a < clip_id_b``,
    where cosine is between the clips' spectral embeddings.

    Blocking is RANDOM-HYPERPLANE LSH over the embedding: each clip
    emits ``lsh_bands`` bucket keys (:func:`lsh_bucket_ids`) and only
    same-bucket pairs are scored — candidate-bounded, nothing quadratic
    in the corpus ever materializes.  The bucket space is
    ``lsh_bands * 2**lsh_bits`` and — unlike a top-mel-band key, whose
    cardinality is CAPPED at ``n_mels`` however large the corpus grows
    — it scales with a knob decoupled from the embedding resolution.
    Sizing recipe for a corpus of n clips: pick ``lsh_bits ≈ log2(n)``
    so uniform-random bucket occupancy stays O(1), then size
    ``lsh_bands`` to the recall target — a pair at
    cosine c is missed with ``(1 - (1 - arccos(c)/π)**lsh_bits)
    ** lsh_bands`` (defaults 16/4: miss 1.8e-3 at c=0.999, 4.9e-4 at
    the ≥0.9995 the fixture's planted gain+codec+noise copies measure).
    Clips that merely SHARE a dominant mel band but differ in content
    (cosine ~0.8) spread across signatures instead of piling into one
    band bucket — the hot-band pathology of a peak key (pinned by
    ``test_audio_lsh_hot_band_bounded``).

    Verification is the exact per-pair cosine of
    :func:`drain3_spark.pipeline.similarity._verify_pairs`: one block
    stream over the ``(clip, band)`` rows, in which each embedding
    crosses the shuffle once and each bucket's pairs are scored in one
    pass.  ``method="catalyst"`` (default) folds each dot in Spark's
    order; ``method="blas"`` takes it from a Gram product.  A silent
    clip's all-zero embedding has no cosine and pairs with nothing.
    Gain-adjusted, re-encoded, noise-perturbed, and RESAMPLED copies of
    a clip are all found (embedding invariances, module docstring)."""
    from drain3_spark.pipeline.similarity import _verify_pairs
    # the embedding pass has one consumer, the verify's block stream
    e = (_embed_assigned(clips, n_mels, frame_ms, hop_ms, f_lo, f_hi,
                         lsh_bits, lsh_bands, lsh_seed)
         .select(F.col("clip_id").alias("id"), F.col("bucket").alias("blk"),
                 "vec"))
    return _verify_pairs(e, threshold, ("clip_id_a", "clip_id_b"),
                         method=method)


# -------------------------------------------------- incremental dedup

def audio_embedding_index(clips: DataFrame, n_mels: int = 64,
                          frame_ms: int = 64, hop_ms: int = 32,
                          f_lo: float = 100.0, f_hi: float = 3500.0,
                          lsh_bits: int = 16, lsh_bands: int = 4,
                          lsh_seed: int = 7) -> DataFrame:
    """``(clip_id, bucket, embedding)`` — the PERSISTED ASSET of an
    incremental audio-dedup pipeline: one row per (clip, probe),
    ``lsh_bands`` LSH probes per clip (same scale story as
    :func:`audio_near_dup_pairs`).  Write it once per corpus; each new
    ingest batch joins its own probe rows against the stored index
    (:func:`audio_incremental_duplicates`) instead of re-decoding the
    corpus.  Persist it with ``assets.write_index_asset(index, path,
    table, ["bucket"])`` so the probe join does not shuffle the stored
    side, and append a batch with ``index.unionByName(batch_index)``.
    Unlike the text LSH index, the embedding itself rides in
    the index row, so the verify step needs NO payload fetch-back —
    ~1 KB per clip regardless of clip length."""
    return (_embed_assigned(clips, n_mels, frame_ms, hop_ms, f_lo, f_hi,
                            lsh_bits, lsh_bands, lsh_seed)
            .select("clip_id", "bucket", F.col("vec").alias("embedding")))


def audio_incremental_duplicates(new_clips: DataFrame, index: DataFrame,
                                 threshold: float = 0.999,
                                 n_mels: int = 64, frame_ms: int = 64,
                                 hop_ms: int = 32, f_lo: float = 100.0,
                                 f_hi: float = 3500.0, lsh_bits: int = 16,
                                 lsh_bands: int = 4,
                                 lsh_seed: int = 7) -> DataFrame:
    """Near-duplicates of a NEW clip batch against an EXISTING corpus,
    touched only through its embedding index — the incremental shape a
    continuously-growing audio corpus needs.  Per-batch cost is
    O(new_batch + touched blocks), never O(corpus): the corpus is
    neither re-decoded nor re-embedded, only the index rows of the
    buckets the batch touches are shuffled, and the verify cosine reads
    the embedding straight off the index row (no payload semi-join).
    Returns ``(new_id, old_id, cosine)`` with the same exact-cosine
    verify semantics as :func:`audio_near_dup_pairs`.

    The index's ``n_mels``/frame AND LSH parameters
    (``lsh_bits``/``lsh_bands``/``lsh_seed``) must match the arguments
    here — bucket ids and embedding dimensions are only comparable
    within one parameterization."""
    from drain3_spark.pipeline.similarity import _verify_pairs

    new_idx = audio_embedding_index(new_clips, n_mels, frame_ms, hop_ms,
                                    f_lo, f_hi, lsh_bits, lsh_bands, lsh_seed)

    def side(idx: DataFrame) -> DataFrame:
        return idx.select(F.col("clip_id").alias("id"),
                          F.col("bucket").alias("blk"),
                          F.col("embedding").alias("vec"))

    return _verify_pairs(side(new_idx), threshold, ("new_id", "old_id"),
                         index=side(index))


# --------------------------------------------------------- transformations

def normalize_gain(clips: DataFrame, target_rms: float = 0.1,
                   max_gain: float = 100.0) -> DataFrame:
    """Scale every clip to ``target_rms`` (the loudness-normalization
    pass of a training pipeline) and re-encode with its own codec.
    Gain is clamped to ``max_gain`` so near-silent clips don't explode
    to pure noise; all-zero clips pass through at gain 1.  Emits the
    applied ``gain_db`` per clip; peaks above full scale after gain are
    clipped by the codec (reported via ``clipped_frac``)."""
    schema = T.StructType(list(RESAMPLED_SCHEMA.fields) + [
        T.StructField("gain_db", T.DoubleType()),
        T.StructField("clipped_frac", T.DoubleType()),
    ])
    tgt = float(target_rms)

    def norm(rows):
        for (cid, _, sr, dur, codec), pcm in rows:
            if pcm is None:
                continue
            pcm = pcm.astype(np.float64)
            rms = float(np.sqrt(np.mean(pcm ** 2))) if len(pcm) else 0.0
            g = 1.0 if rms == 0.0 else min(tgt / rms, float(max_gain))
            y = pcm * g
            clipped = float(np.mean(np.abs(y) > 1.0)) if len(y) else 0.0
            y = np.clip(y, -1.0, 1.0).astype(np.float32)
            yield (cid, bytearray(encode(y, codec, int(sr))), int(sr),
                   int(dur), codec,
                   float(20.0 * np.log10(g)) if g > 0 else 0.0, clipped)

    return map_clips(clips, norm, schema, PAYLOAD_COLS)


def sinc_resample_kernel(pcm: np.ndarray, sr: int, tsr: int,
                         taps: int = 16) -> np.ndarray:
    """Windowed-sinc (Hann) band-limited resampling with the
    anti-alias cutoff at ``min(sr, tsr)/2`` — on downsampling this
    REJECTS content above the new Nyquist instead of folding it into
    the passband the way point-sampling interpolators do.  ``taps``
    counts zero-crossings at the CUTOFF rate: on downsampling the
    kernel widens by the decimation ratio (a fixed source-sample
    window narrows in cutoff periods as the ratio grows — measured
    -62 dB rejection at 2:1 collapsing to -31 dB at 6:1 before this
    scaling; ~-60 dB at both after).  Vectorized: one
    (n_out, 2*taps_eff) gather + weight contraction."""
    x = np.asarray(pcm, dtype=np.float64)
    n = len(x)
    if n == 0 or sr == tsr:
        return x.astype(np.float32)
    ratio = sr / float(tsr)
    cutoff = min(1.0, 1.0 / ratio)          # of the SOURCE Nyquist
    taps = int(np.ceil(taps * max(1.0, ratio)))
    n_new = max(int(round(n / ratio)), 1)
    pos = np.arange(n_new, dtype=np.float64) * ratio
    base = np.floor(pos).astype(np.int64)
    frac = pos - base
    offs = np.arange(-taps + 1, taps + 1)   # 2*taps_eff source taps
    # u = distance from the output instant to each contributing sample
    u = offs[None, :] - frac[:, None]
    w = cutoff * np.sinc(cutoff * u) * (0.5 + 0.5 * np.cos(
        np.pi * np.clip(u / taps, -1.0, 1.0)))
    idx = np.clip(base[:, None] + offs[None, :], 0, n - 1)
    y = np.einsum("ij,ij->i", x[idx], w)
    return y.astype(np.float32)


def resample_clips(clips: DataFrame, target_sr: int,
                   method: str = "linear", taps: int = 16) -> DataFrame:
    """Resample every clip to ``target_sr`` and re-encode with the
    clip's own codec.  ``method="linear"`` (default, the historical
    behavior) point-samples — adequate for upsampling and for the
    synthetic corpus, but it ALIASES content above the new Nyquist on
    downsampling; ``method="sinc"`` applies the band-limited
    windowed-sinc kernel (:func:`sinc_resample_kernel`, planted-alias
    rejection pinned by ``test_sinc_resample_rejects_aliases``) — the
    production choice when downsampling real program material.
    ``dur_ms`` is recomputed from the resampled length.  Clips already
    at ``target_sr`` are re-emitted untouched (no decode round-trip);
    undecodable payloads are dropped (decode CHECK family flags them).
    Output carries the payload columns only — rejoin transcript/ds on
    ``clip_id`` when the downstream step needs them (all three
    transformation ops share this contract)."""
    if method not in ("linear", "sinc"):
        raise ValueError(f"unknown resample method: {method}")
    tsr = int(target_sr)
    n_taps = int(taps)

    def rs(rows):
        for (cid, payload, sr, dur, codec), pcm in rows:
            if sr == tsr:
                yield (cid, payload, int(sr), int(dur), codec)
                continue
            if pcm is None:
                continue
            pcm = pcm.astype(np.float64)
            if method == "sinc":
                y = sinc_resample_kernel(pcm, int(sr), tsr, n_taps)
            else:
                n_new = max(int(round(len(pcm) * tsr / float(sr))), 1)
                t_new = np.arange(n_new, dtype=np.float64) / tsr
                t_old = np.arange(len(pcm), dtype=np.float64) / float(sr)
                y = np.interp(t_new, t_old, pcm).astype(np.float32)
            yield (cid, bytearray(encode(y, codec, tsr)), tsr,
                   int(round(len(y) * 1000.0 / tsr)), codec)

    return map_clips(clips, rs, RESAMPLED_SCHEMA, PAYLOAD_COLS,
                     decode_if=lambda row: row[2] != tsr)


def _wiener_denoise(pcm: np.ndarray, sr: int, frame_ms: int = 32,
                    alpha: float = 2.0) -> np.ndarray:
    """Wiener-mask spectral denoise: per STFT frame, the noise floor is
    the MEDIAN band power (robust — a tonal/voiced peak occupies few
    bands, so the median tracks the broadband floor even with no
    signal pauses, where classic minimum-statistics subtraction would
    eat stationary content), and each band is scaled by
    ``P/(P + alpha*floor)``.  Hann analysis+synthesis at 50% overlap;
    the input is padded by one hop on BOTH ends so every real sample
    has full window mass — without that, edge samples covered by a
    single frame divide the circular-filtering residue by a near-zero
    window sum and blow up (measured: output RMS 1.8x input from edge
    energy alone)."""
    frame = max(int(sr) * frame_ms // 1000 // 2 * 2, 4)
    hop = frame // 2
    win = np.hanning(frame)
    n = len(pcm)
    x = np.pad(pcm, (hop, hop + ((-n) % hop)))
    starts = np.arange(0, len(x) - frame + 1, hop)
    S = np.fft.rfft(
        np.lib.stride_tricks.sliding_window_view(x, frame)[starts] * win,
        axis=1)
    P = np.abs(S) ** 2
    floor = np.median(P, axis=1, keepdims=True)
    # an all-zero frame (digital silence) has P = floor = 0: the Wiener
    # ratio is 0/0 there — define its gain as 0 (nothing to pass) or
    # NaN would ride irfft + overlap-add into neighboring real samples
    denom = P + alpha * floor
    gain = np.divide(P, denom, out=np.zeros_like(P), where=denom > 0.0)
    frames = np.fft.irfft(S * gain, n=frame, axis=1) * win
    y = np.zeros(len(x))
    wsum = np.zeros(len(x))
    for i, s in enumerate(starts):
        y[s:s + frame] += frames[i]
        wsum[s:s + frame] += win ** 2
    return (y / np.maximum(wsum, 1e-12))[hop:hop + n]


def denoise_clips(clips: DataFrame, frame_ms: int = 32,
                  alpha: float = 2.0) -> DataFrame:
    """Broadband-noise reduction pass over every clip
    (:func:`_wiener_denoise` per clip, re-encoded with its own codec) —
    measured ~+5 dB SNR on tone+noise fixtures with near-clean inputs
    passing through unharmed (``test_denoise_clips``).  Same
    payload-column contract as :func:`resample_clips`; undecodable
    payloads are dropped."""
    def dn(rows):
        for (cid, _, sr, dur, codec), pcm in rows:
            if pcm is None:
                continue
            y = _wiener_denoise(pcm.astype(np.float64), int(sr), frame_ms,
                                alpha)
            y = np.clip(y, -1.0, 1.0).astype(np.float32)
            yield (cid, bytearray(encode(y, codec, int(sr))), int(sr),
                   int(dur), codec)

    return map_clips(clips, dn, RESAMPLED_SCHEMA, PAYLOAD_COLS)


SEGMENT_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType()),
    T.StructField("seg_idx", T.IntegerType()),
    T.StructField("seg_id", T.StringType()),
    T.StructField("bytes", T.BinaryType()),
    T.StructField("sr_hz", T.IntegerType()),
    T.StructField("dur_ms", T.IntegerType()),
    T.StructField("codec", T.StringType()),
    T.StructField("t0_ms", T.IntegerType()),
])


def segment_clips(clips: DataFrame, win_ms: int = 1000, hop_ms: int = 800,
                  min_tail_ms: int = 200) -> DataFrame:
    """Chunk every clip into fixed-length training windows: a window of
    ``win_ms`` every ``hop_ms`` (overlap when hop < win), plus one tail
    window for the remainder when at least ``min_tail_ms`` survives —
    the segmentation pass that turns variable-length corpus clips into
    model-ready examples.  Segments are SAMPLE-EXACT slices of the
    decoded clip (boundary index = ``round(sr * k * hop / 1000)``),
    re-encoded with the clip's own codec, with ``seg_id =
    "{clip_id}#<k>"`` and the slice origin in ``t0_ms``.

    100-TB shape: one decode per clip; every segment is produced inside
    the same task (no shuffle, no payload re-reads); output volume is
    the input times ~``win/hop`` — the caller picks the overlap, the
    operator never amplifies beyond it.  Undecodable payloads are
    dropped (the decode CHECK family owns flagging them); clips shorter
    than ``min_tail_ms`` yield no segments."""
    if hop_ms <= 0 or win_ms <= 0:
        raise ValueError("win_ms and hop_ms must be positive")

    def seg(rows):
        for (cid, _, sr, codec), pcm in rows:
            if pcm is None:
                continue
            pcm = pcm.astype(np.float32)
            sr = int(sr)
            n = len(pcm)
            k = 0
            while True:
                lo = int(round(sr * k * hop_ms / 1000.0))
                if lo >= n:
                    break
                hi = min(lo + int(round(sr * win_ms / 1000.0)), n)
                seg_ms = int(round((hi - lo) * 1000.0 / sr))
                if hi < lo + int(round(sr * win_ms / 1000.0)) \
                        and seg_ms < min_tail_ms:
                    break
                yield (cid, k, f"{cid}#{k}",
                       bytearray(encode(pcm[lo:hi], codec, sr)),
                       sr, seg_ms, codec, int(round(lo * 1000.0 / sr)))
                if hi >= n:
                    break
                k += 1

    return map_clips(clips, seg, SEGMENT_SCHEMA)


def trim_silence(clips: DataFrame, frame_ms: int = 20,
                 silence_rms: float = 0.01) -> DataFrame:
    """Strip leading/trailing silent frames (frame RMS below
    ``silence_rms``) and re-encode; reports how much was cut from each
    end.  An all-silent clip keeps its first frame (never emits empty
    audio).  Undecodable payloads are dropped."""
    def trim(rows):
        for (cid, _, sr, codec), pcm in rows:
            if pcm is None:
                continue
            pcm = pcm.astype(np.float64)
            sr = int(sr)
            frame = max(sr * frame_ms // 1000, 1)
            nf = max(len(pcm) // frame, 1)
            padded = np.pad(pcm, (0, nf * frame - len(pcm))) \
                if nf * frame > len(pcm) else pcm[:nf * frame]
            rms = np.sqrt((padded.reshape(nf, frame) ** 2).mean(axis=1))
            live = np.flatnonzero(rms >= silence_rms)
            if len(live) == 0:
                lo_f, hi_f = 0, 1
            else:
                lo_f, hi_f = int(live[0]), int(live[-1]) + 1
            lo, hi = lo_f * frame, min(hi_f * frame, len(pcm))
            y = pcm[lo:hi].astype(np.float32)
            yield (cid, bytearray(encode(y, codec, sr)), sr,
                   int(round(len(y) * 1000.0 / sr)), codec,
                   int(round(lo * 1000.0 / sr)),
                   int(round((len(pcm) - hi) * 1000.0 / sr)))

    return map_clips(clips, trim, TRIMMED_SCHEMA)


# ----------------------------------------------------------- spec augment

SPEC_AUGMENT_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("n_time_masked", T.IntegerType()),
    T.StructField("n_freq_masked", T.IntegerType()),
    T.StructField("features", T.ArrayType(T.ArrayType(T.DoubleType()))),
])


def _augment_geometry(clip_id: str, seed: int, n_frames: int, n_mels: int,
                      n_time_masks: int, max_time_frames: int,
                      n_freq_masks: int, max_freq_bands: int):
    """Deterministic SpecAugment mask geometry: an integer keystream
    from sha1(clip_id|seed) picks each mask's width and start, so any
    local replay (tests, a feature-store backfill, a debug notebook)
    regenerates the identical augmented features."""
    import hashlib
    h = hashlib.sha1(f"{clip_id}|{seed}".encode()).digest()
    stream = []
    k = 0
    while len(stream) < 4 * (n_time_masks + n_freq_masks):
        h2 = hashlib.sha1(h + k.to_bytes(2, "big")).digest()
        stream.extend(h2[i] | (h2[i + 1] << 8) for i in range(0, 18, 2))
        k += 1
    it = iter(stream)
    t_masks, f_masks = [], []
    for _ in range(n_time_masks):
        w = next(it) % (max_time_frames + 1)
        s = next(it) % max(n_frames - w, 1)
        t_masks.append((s, w))
    for _ in range(n_freq_masks):
        w = next(it) % (max_freq_bands + 1)
        s = next(it) % max(n_mels - w, 1)
        f_masks.append((s, w))
    return t_masks, f_masks


def spec_augment(clips: DataFrame, n_mels: int = 64, frame_ms: int = 64,
                 hop_ms: int = 32, f_lo: float = 100.0,
                 f_hi: float = 3500.0, n_time_masks: int = 2,
                 max_time_frames: int = 10, n_freq_masks: int = 2,
                 max_freq_bands: int = 8, seed: int = 17) -> DataFrame:
    """SpecAugment over the corpus: per clip, the log-mel FRAME MATRIX
    (the training feature, not the time-averaged embedding) with
    ``n_time_masks`` frame-range masks and ``n_freq_masks`` band-range
    masks zeroed — the standard audio training augmentation, computed
    where the data lives instead of in the training loader.  Masks are
    a pure function of (clip_id, seed) (:func:`_augment_geometry`), so
    the pipeline is REPLAYABLE: the same clip always yields the same
    augmented features, and epoch k simply passes ``seed=k``.

    100-TB shape: one decode per clip and one stacked rFFT per
    (Arrow batch, rate) inside the same Arrow UDF (the shared
    :func:`_mel_by_rate` front end), no shuffle;
    output is written straight to the feature store.  Undecodable
    payloads are dropped (the decode CHECK family owns them)."""
    def aug(rows):
        out = []
        for _, cid, L in _mel_by_rate(rows, frame_ms, hop_ms, n_mels,
                                      f_lo, f_hi,
                                      lambda E: np.log(E + 1e-12)):
            M, nf = L.copy(), len(L)
            t_masks, f_masks = _augment_geometry(
                cid, seed, nf, n_mels, n_time_masks,
                max_time_frames, n_freq_masks, max_freq_bands)
            # report the UNION of masked frames/bands — summing
            # per-mask widths double-counts overlapping masks
            # (could even exceed nf/n_mels)
            t_hit = np.zeros(nf, dtype=bool)
            f_hit = np.zeros(n_mels, dtype=bool)
            for s, w in t_masks:
                M[s:s + w, :] = 0.0
                t_hit[s:s + w] = True
            for s, w in f_masks:
                M[:, s:s + w] = 0.0
                f_hit[s:s + w] = True
            tm, fm = int(t_hit.sum()), int(f_hit.sum())
            out.append((cid, nf, tm, fm,
                        [[float(x) for x in row] for row in M]))
        return out

    return map_clips(clips, aug, SPEC_AUGMENT_SCHEMA)
