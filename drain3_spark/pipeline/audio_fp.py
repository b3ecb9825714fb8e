"""Audio FINGERPRINTING: constellation peak-pair hashing and
query-by-excerpt retrieval (the landmark scheme of Wang 2003, built
Spark-first).

Where the embedding near-dup family (:mod:`audio_sim`) answers "are
these two WHOLE clips the same recording?", fingerprinting answers
"which corpus clip does this SNIPPET come from, and at what offset?" —
robust to gain change, codec re-quantization, and additive noise,
and localizing the excerpt in time.  That is the retrieval shape a
training-data pipeline needs for provenance checks (did this clip get
re-cut from an already-ingested recording?) and leakage audits.

Pipeline shape (all Catalyst between the Arrow kernels):

1. ``audio_fingerprints``: decode → framed log-power STFT on a fixed
   Hz bin grid → 2-D local-max PEAKS → anchor/target PAIR HASHES.
   One pass of the shared per-clip Arrow loop
   (:func:`drain3_spark.audio.runner.map_clips`), one output row per
   hash:
   ``(clip_id, hash, t)`` with ``t`` the anchor frame index.
2. The corpus' hash rows are the INVERTED INDEX — a plain DataFrame
   you persist once and reuse across query batches (same asset shape
   as :func:`audio_sim.audio_embedding_index`).  Persist it bucketed on
   its probe key with ``assets.write_index_asset(fps, path, table,
   ["hash"])`` and read it back with ``spark.table(table)``; then the
   df-cap aggregate and the retrieval join need no index-side
   Exchange.
3. ``fingerprint_matches``: join query hashes against index hashes on
   the 24-bit key, then vote: a true match aligns nearly all of the
   query's DISTINCT hash values at ONE time offset
   ``t_index - t_query``, accidental collisions spread across offsets.
   ``groupBy(query, clip, offset).agg(countDistinct(hash))`` →
   max-vote row per query pair → relative threshold.

100-TB shape: the index join shuffles on ``hash`` — a high-cardinality
key with a bounded postings list per value, because
``fingerprint_matches`` drops hashes whose document frequency exceeds
``df_cap`` before joining (the same hot-key guard as the text family's
``jaccard_pairs``; a hash seen in thousands of clips carries
no evidence — the vote histogram, not any single hash, identifies the
match).  Candidate work per query is therefore ≤ hashes/query ×
``df_cap``, independent of corpus size.  The 24-bit pair-hash space is
the scheme's published design point; collisions cost bounded compute
(extra non-concentrated votes), never correctness.

No counterpart exists in the reference (logpai/Drain3 has no media
handling); cited for API-shape parity only: the index/match split
mirrors drain3's miner/matcher split (drain3/template_miner.py:96 vs
:169).
"""

from __future__ import annotations

from typing import Tuple

import numpy as np
from pyspark.sql import DataFrame, functions as F, types as T

from drain3_spark.audio.runner import map_clips
from drain3_spark.pipeline.audio_sim import power_frames, usable_rate

FINGERPRINT_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType()),
    T.StructField("hash", T.LongType()),
    T.StructField("t", T.IntegerType()),
])

# STFT grid: frame fixed in MILLISECONDS -> bin spacing 1000/frame_ms
# Hz at every sample rate (same trick as audio_sim's mel anchors), so
# a 16 kHz corpus clip and its 16 kHz excerpt land on identical bins.
FRAME_MS = 64
HOP_MS = 32
F_LO = 100.0
F_HI = 3500.0


def _bin_range(frame_ms: int = FRAME_MS,
               f_lo: float = F_LO, f_hi: float = F_HI) -> Tuple[int, int]:
    """Inclusive rFFT bin range [k_lo, k_hi] of the analysis band.
    Bin k sits at k * 1000/frame_ms Hz regardless of sample rate."""
    hz_per_bin = 1000.0 / frame_ms
    return int(np.ceil(f_lo / hz_per_bin)), int(np.floor(f_hi / hz_per_bin))


def _slide_max_1d(A: np.ndarray, r: int, axis: int) -> np.ndarray:
    """Sliding max over a (2r+1) window along ``axis`` (edges padded
    with -inf), via shifted np.maximum — separable, so a rectangular
    2-D max filter is two of these."""
    out = A.copy()
    for s in range(1, r + 1):
        pad = np.full_like(A, -np.inf)
        fwd = pad.copy()
        bwd = pad.copy()
        if axis == 0:
            fwd[s:] = A[:-s]
            bwd[:-s] = A[s:]
        else:
            fwd[:, s:] = A[:, :-s]
            bwd[:, :-s] = A[:, s:]
        np.maximum(out, fwd, out=out)
        np.maximum(out, bwd, out=out)
    return out


def _peak_list(S: np.ndarray, t_nb: int, f_nb: int, thresh_db: float,
               per_frame: int) -> Tuple[np.ndarray, np.ndarray]:
    """(t_idx, f_idx) of constellation peaks of a log-power spectrogram
    ``S`` (frames × bins): strict 2-D local maxima over a
    (2*t_nb+1)×(2*f_nb+1) neighborhood, ≥ ``thresh_db`` above the
    clip's median level, at most ``per_frame`` per frame (loudest
    kept).  Fully vectorized; ties inside a flat neighborhood keep
    every tied bin (deterministic)."""
    if S.size == 0:
        z = np.zeros(0, np.int64)
        return z, z
    nb_max = _slide_max_1d(_slide_max_1d(S, t_nb, 0), f_nb, 1)
    thr = np.median(S) + thresh_db * (np.log(10.0) / 10.0)
    cand = np.where((S >= nb_max) & (S > thr), S, -np.inf)
    if per_frame < cand.shape[1]:
        kth = np.partition(cand, cand.shape[1] - per_frame, axis=1)[
            :, cand.shape[1] - per_frame][:, None]
        cand = np.where(cand >= kth, cand, -np.inf)
    tt, ff = np.nonzero(np.isfinite(cand))
    return tt.astype(np.int64), ff.astype(np.int64)


def _pair_hashes(tt: np.ndarray, ff: np.ndarray, zone_t: int, zone_f: int,
                 fanout: int) -> Tuple[np.ndarray, np.ndarray]:
    """(hash, t_anchor) arrays: each anchor peak paired with up to
    ``fanout`` LATER peaks within the target zone (0 < dt ≤ zone_t
    frames, |df| ≤ zone_f bins), hash packed as
    ``f1 << 16 | f2 << 8 | dt`` (f's are band-relative bin indexes
    < 256, dt ≤ zone_t < 256 → 24 bits)."""
    n = len(tt)
    hashes, anchors = [], []
    j0 = 0
    for i in range(n):
        t1, f1 = tt[i], ff[i]
        # peaks are sorted by (t, f); advance a two-pointer window
        while j0 < n and tt[j0] <= t1:
            j0 += 1
        j = j0
        emitted = 0
        while j < n and tt[j] - t1 <= zone_t and emitted < fanout:
            if abs(ff[j] - f1) <= zone_f:
                dt = int(tt[j] - t1)
                hashes.append((int(f1) << 16) | (int(ff[j]) << 8) | dt)
                anchors.append(int(t1))
                emitted += 1
            j += 1
    return (np.asarray(hashes, np.int64), np.asarray(anchors, np.int64))


def fingerprint_kernel(pcm: np.ndarray, sr: int, frame_ms: int = FRAME_MS,
                       hop_ms: int = HOP_MS, f_lo: float = F_LO,
                       f_hi: float = F_HI, t_nb: int = 0, f_nb: int = 5,
                       thresh_db: float = 18.0, per_frame: int = 3,
                       zone_t: int = 16, zone_f: int = 64,
                       fanout: int = 3) -> Tuple[np.ndarray, np.ndarray]:
    """Local (no Spark) fingerprint of one PCM buffer — the single
    source of truth the Spark operator batches; tests and value pins
    replay it directly.  Returns (hash, t_anchor) int64 arrays."""
    P, _ = power_frames([pcm], sr, frame_ms, hop_ms)
    k_lo, k_hi = _bin_range(frame_ms, f_lo, f_hi)
    S = np.log(P[:, k_lo:k_hi + 1] + 1e-12)
    tt, ff = _peak_list(S, t_nb, f_nb, thresh_db, per_frame)
    return _pair_hashes(tt, ff, zone_t, zone_f, fanout)


def audio_fingerprints(clips: DataFrame, frame_ms: int = FRAME_MS,
                       hop_ms: int = HOP_MS, f_lo: float = F_LO,
                       f_hi: float = F_HI, t_nb: int = 0, f_nb: int = 5,
                       thresh_db: float = 18.0, per_frame: int = 3,
                       zone_t: int = 16, zone_f: int = 64,
                       fanout: int = 3) -> DataFrame:
    """``(clip_id, hash, t)`` constellation fingerprints of a clips
    table — decode + STFT + peaks + pair hashes in ONE batched Arrow
    pass; a few dozen rows per second of audio.  Undecodable payloads
    yield no rows (the decode CHECK family owns flagging them).  The
    output over a corpus IS the inverted index: persist it, then join
    query fingerprints against it (:func:`fingerprint_matches`)."""
    kw = dict(frame_ms=frame_ms, hop_ms=hop_ms, f_lo=f_lo, f_hi=f_hi,
              t_nb=t_nb, f_nb=f_nb, thresh_db=thresh_db,
              per_frame=per_frame, zone_t=zone_t, zone_f=zone_f,
              fanout=fanout)

    def extract(rows):
        ids, hs, ts = [], [], []
        for (cid, _, sr, _c), pcm in rows:
            sr = usable_rate(pcm, sr)
            if not sr:
                continue
            hashes, anchors = fingerprint_kernel(pcm.astype(np.float64),
                                                 sr, **kw)
            ids.extend([cid] * len(hashes))
            hs.append(hashes)
            ts.append(anchors)
        return {
            "clip_id": ids,
            "hash": np.concatenate(hs) if hs else np.zeros(0, np.int64),
            "t": (np.concatenate(ts) if ts
                  else np.zeros(0, np.int64)).astype(np.int32),
        }

    return map_clips(clips, extract, FINGERPRINT_SCHEMA)


def fingerprint_matches(query_fps: DataFrame, index_fps: DataFrame,
                        min_votes: int = 10, min_vote_frac: float = 0.7,
                        df_cap: int = 64) -> DataFrame:
    """Query-by-excerpt retrieval: for each query clip, the corpus clip
    whose fingerprints best co-vote at a single time offset —
    ``(query_id, match_id, votes, q_hashes, vote_frac, offset_frames)``,
    one row per query that clears the decision rule.

    Both inputs are fingerprint DataFrames (:func:`audio_fingerprints`
    output; the index side is typically read back from its persisted
    form).  Hashes with index document-frequency > ``df_cap`` are
    dropped BEFORE the join — the hot-key guard that bounds per-query
    candidate work at any corpus size (module docstring).

    Votes count DISTINCT aligned hash VALUES per (query, clip, offset),
    not joined rows: quasi-stationary audio repeats the same hash over
    a run of frames, and two unrelated clips sharing one note give
    count(*) a triangular pile of min(run, run) rows at one offset —
    multiplicity without evidence.  Distinct values collapse such runs
    to 1 while a true excerpt still aligns nearly every distinct hash
    it has (measured on the melody fixture, 100-clip corpus: true
    matches align ≥96% of their distinct hashes, the best accidental
    alignment ≤51%).  The decision rule is therefore RELATIVE —
    ``vote_frac = votes / q_hashes ≥ min_vote_frac`` — with
    ``min_votes`` as an absolute floor for very short queries.  The
    winning (clip, offset) per query is the max-vote one, ties broken
    toward the largest (match_id, offset): arbitrary but total, so the
    result is stable across partitionings and reruns.

    Both inputs are persisted for the duration of the result handle
    (``_SharedScope``): each feeds two DAG branches (df-cap aggregate +
    join on the index side, vote join + denominator count on the query
    side), and Catalyst does not reuse exchanges across branches — an
    unpersisted fingerprint input would re-decode and re-FFT its whole
    corpus per branch."""
    from drain3_spark.pipeline.dedup import _SharedScope
    scope = _SharedScope()
    # index and query fingerprints are independent decode+FFT pipelines
    # — materialize them with concurrent jobs (guide §2.6) instead of
    # paying the two Arrow passes back-to-back
    index_fps, query_fps = scope.share_all(index_fps, query_fps)
    hot = (index_fps.groupBy("hash")
           .agg(F.count("*").alias("_df"))
           .filter(F.col("_df") > df_cap)
           .select("hash"))
    idx = (index_fps
           .join(hot, "hash", "left_anti")
           .select(F.col("hash"), F.col("clip_id").alias("match_id"),
                   F.col("t").alias("t_idx")))
    # the hot filter applies to BOTH sides: a dropped hash can never
    # vote, so it must not sit in the vote_frac denominator either
    # (stationary self-pair hashes are exactly the ones df_cap drops,
    # and a tonal query is full of them)
    q = (query_fps.join(hot, "hash", "left_anti")
         .select(F.col("hash"), F.col("clip_id").alias("query_id"),
                 F.col("t").alias("t_q")))
    q_sizes = q.groupBy("query_id").agg(
        F.countDistinct("hash").alias("q_hashes"))
    votes = (q.join(idx, "hash")
             .groupBy("query_id", "match_id",
                      (F.col("t_idx") - F.col("t_q")).alias("offset_frames"))
             .agg(F.countDistinct("hash").alias("votes")))
    # max_by keeps the reduce map-side partial (groupBy+window would
    # add a sort after the same shuffle); the ordering struct makes the
    # winner total-ordered, hence deterministic
    best = (votes.groupBy("query_id")
            .agg(F.max_by(
                F.struct("votes", "match_id", "offset_frames"),
                F.struct("votes", "match_id", "offset_frames")).alias("w")))
    return scope.attach(
        best.join(q_sizes, "query_id")
        .select("query_id", F.col("w.match_id").alias("match_id"),
                F.col("w.votes").alias("votes"), "q_hashes",
                F.round(F.col("w.votes") / F.col("q_hashes"), 4)
                .alias("vote_frac"),
                F.col("w.offset_frames").alias("offset_frames"))
        .filter((F.col("votes") >= min_votes)
                & (F.col("vote_frac") >= min_vote_frac)))
