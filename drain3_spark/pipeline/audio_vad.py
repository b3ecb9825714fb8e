"""Energy-based voice-activity detection (VAD) — per-clip speech
coverage for training-data curation: drop dead-air clips and
cross-check dur_ms against actual speech content.  The kernel feeds
:func:`speech_ratio_stats` (q56) and the validator's opt-in
``min_speech_ratio`` check.

Library-free and deterministic: 20 ms frame RMS, an adaptive
threshold anchored on the clip's own noise floor (the quietest decile
of frames, the same estimator as
:func:`audio_quality.quality_kernel`'s SNR), and hysteresis — a
segment OPENS when a frame clears ``noise_floor + on_db`` and stays
open until frames fall below ``noise_floor + off_db`` (off < on, so
trailing speech tails aren't chopped).  Segments closer than
``min_gap_ms`` merge; segments shorter than ``min_speech_ms`` drop.

This is the classical energy VAD (Rabiner & Sambur 1975 shape), not a
model: it separates speech-with-pauses from silence/noise floors,
which is exactly what the synthetic fixture corpus encodes
(tone+noise program with silent padding).  A model VAD would ride the
same per-clip loop.

100-TB shape: embarrassingly parallel, one decode + one reshaped-RMS
pass per clip inside the shared per-clip Arrow loop
(:func:`drain3_spark.audio.runner.map_clips`); no shuffle until the
consumer aggregates.  The reference Drain3 has no audio surface;
this extends the validation engine's payload family
(C8) the way speech_rate extends the cross-column family.
"""

from __future__ import annotations

from typing import List, Tuple

import numpy as np
from pyspark.sql import DataFrame, types as T

from drain3_spark.audio.runner import PAYLOAD_COLS, map_clips


def vad_kernel(pcm: np.ndarray, sr: int, frame_ms: int = 20,
               on_db: float = 9.0, off_db: float = 3.0,
               abs_floor: float = 0.004, min_speech_ms: int = 60,
               min_gap_ms: int = 100,
               active_cap: float = 0.02) -> Tuple[List[Tuple[int, int]],
                                                  float]:
    """Segments + speech ratio for one decoded mono PCM buffer — the
    single source of truth that :func:`speech_ratio_stats` and the
    validator batch; tests replay it directly.  Returns ([(start_ms, end_ms), ...], speech_ratio) where
    speech_ratio = speech samples / total samples.

    The open gate is ``max(abs_floor, min(noise_floor · 10^(on_db/20),
    active_cap))``: the relative term adapts to the clip's recording
    chain; ``abs_floor`` stops digital-silence clips (noise floor ~0)
    from promoting quantization dither to speech; ``active_cap`` stops
    PAUSE-FREE loud program (noise floor == program level, nothing
    quiet to anchor on) from gating itself out — frames above a level
    that is unambiguously active count as speech regardless of the
    floor estimate.  Energy VAD cannot classify loud content (a loud
    noise bed reads as active too — pair with the quality family's
    flatness/SNR for that); what it owns is the silence/activity
    boundary.  The close gate keeps the on/off hysteresis spacing."""
    n = len(pcm)
    frame = max(int(sr) * frame_ms // 1000, 1) if sr else 1
    # a clip shorter than one frame has no measurable speech content
    # (and would break the frame reshape below)
    if n < frame or not sr:
        return [], 0.0
    nf = n // frame
    x = np.asarray(pcm[:nf * frame], dtype=np.float64)
    rms = np.sqrt(np.mean(x.reshape(nf, frame) ** 2, axis=1))
    srt = np.sort(rms)
    floor = float(np.mean(srt[:max(nf // 10, 1)]))
    thr_on = max(abs_floor, min(floor * 10.0 ** (on_db / 20.0), active_cap))
    thr_off = max(abs_floor, thr_on * 10.0 ** ((off_db - on_db) / 20.0))

    # hysteresis scan (python over FRAMES, not samples: 50 frames/sec)
    segs: List[List[int]] = []
    open_at = -1
    for i in range(nf):
        if open_at < 0:
            if rms[i] >= thr_on:
                open_at = i
        elif rms[i] < thr_off:
            segs.append([open_at, i])
            open_at = -1
    if open_at >= 0:
        segs.append([open_at, nf])

    # merge near segments, then drop short ones
    gap_f = max(min_gap_ms // frame_ms, 0)
    merged: List[List[int]] = []
    for s in segs:
        if merged and s[0] - merged[-1][1] <= gap_f:
            merged[-1][1] = s[1]
        else:
            merged.append(s)
    min_f = max(min_speech_ms // frame_ms, 1)
    kept = [(a, b) for a, b in merged if b - a >= min_f]

    speech_frames = sum(b - a for a, b in kept)
    ratio = speech_frames * frame / float(n)
    to_ms = 1000.0 * frame / float(sr)
    return ([(int(round(a * to_ms)), int(round(b * to_ms)))
             for a, b in kept], round(float(ratio), 6))


SPEECH_RATIO_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType()),
    T.StructField("dur_ms", T.IntegerType()),
    T.StructField("n_segments", T.IntegerType()),
    T.StructField("speech_ms", T.IntegerType()),
    T.StructField("speech_ratio", T.DoubleType()),
])


def speech_ratio_stats(clips: DataFrame, frame_ms: int = 20,
                       on_db: float = 9.0, off_db: float = 3.0,
                       abs_floor: float = 0.004, min_speech_ms: int = 60,
                       min_gap_ms: int = 100,
                       carry: tuple = ()) -> DataFrame:
    """Per-clip speech coverage: segment count, speech milliseconds,
    and speech_ratio in [0,1].  Undecodable payloads report ratio 0
    with n_segments null (the decode CHECK family owns flagging them);
    a curation filter drops low-ratio clips either way.  ``carry``
    passes input columns through so rollups need no corpus re-join."""
    def extract(rows):
        for (cid, _, sr, dur, _c, *extra), pcm in rows:
            if pcm is None or not sr:
                yield (cid, int(dur), None, None, 0.0) + tuple(extra)
                continue
            segs, ratio = vad_kernel(pcm, int(sr), frame_ms, on_db,
                                     off_db, abs_floor, min_speech_ms,
                                     min_gap_ms)
            yield ((cid, int(dur), len(segs),
                    int(sum(e - a for a, e in segs)), ratio)
                   + tuple(extra))

    return map_clips(clips, extract, SPEECH_RATIO_SCHEMA, PAYLOAD_COLS,
                     carry)
