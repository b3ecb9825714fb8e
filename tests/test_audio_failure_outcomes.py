"""Characterization of every per-clip audio operator on payloads it
cannot use: one corrupt payload per codec family plus one row with a
NULL ``sr_hz``.  Each operator keeps its own failure outcome — a null
row, a dropped row, ``snr_db=-inf``, a pass-through or a failed task —
and this table pins it, so a change to the shared per-clip loop cannot
move any of them unnoticed.
"""

import numpy as np
import pytest

from drain3_spark.audio.codecs import encode
from drain3_spark.pipeline import (audio_fp, audio_loudness, audio_pitch,
                                   audio_quality, audio_sim, audio_vad,
                                   multimodal)
from drain3_spark.util import local_df
from drain3_spark.validation import audio as VA

SR = 16000
SCHEMA = ("clip_id string, ds string, bytes binary, sr_hz int, "
          "dur_ms int, codec string")
_TONE = 0.5 * np.sin(2 * np.pi * 440.0 * np.arange(SR // 2) / SR)

# clip_id -> (payload, sr_hz, codec); dur_ms is 500 for every case
CASES = {
    # raw PCM: an odd byte count is not a whole number of s16 samples
    "pcm": (b"\x01\x02\x03", SR, "pcm_s16le"),
    # mu/a-law: every byte decodes, so the corrupt payload is a NULL
    "law": (None, SR, "alaw"),
    # G.711: an empty payload decodes to zero samples
    "g711": (b"", SR, "g711_mulaw"),
    "wav": (b"RIFF\x00\x00\x00\x00junk", SR, "wav"),
    "flac": (b"fLaC\x01\x02\x03", SR, "flac"),
    # a decodable payload whose sample rate is unknown
    "nullsr": (encode(_TONE, "pcm_s16le"), None, "pcm_s16le"),
}

# operator -> callable(clips) -> DataFrame
OPS = {
    "audio_embeddings": audio_sim.audio_embeddings,
    "audio_mfcc": audio_sim.audio_mfcc,
    "normalize_gain": audio_sim.normalize_gain,
    "resample_clips": lambda df: audio_sim.resample_clips(df, 8000),
    "resample_clips_same_sr": lambda df: audio_sim.resample_clips(df, SR),
    "denoise_clips": audio_sim.denoise_clips,
    "segment_clips": audio_sim.segment_clips,
    "trim_silence": audio_sim.trim_silence,
    "spec_augment": audio_sim.spec_augment,
    "loudness_stats": lambda df: audio_loudness.loudness_stats(
        df, carry=("ds",)),
    "pitch_stats": lambda df: audio_pitch.pitch_stats(df, carry=("ds",)),
    "audio_quality": audio_quality.audio_quality,
    "audio_fingerprints": audio_fp.audio_fingerprints,
    "speech_ratio_stats": lambda df: audio_vad.speech_ratio_stats(
        df, carry=("ds",)),
    "audio_features": multimodal.audio_features,
    "audio_spectral_features": multimodal.audio_spectral_features,
    "audio_decode_results": VA.audio_decode_results,
    "container_metadata_results": VA.container_metadata_results,
    "audio_and_container_violations": VA.audio_and_container_violations,
}

D = "dropped"
E = "error"
INF = float("inf")

# operator -> {case: outcome}.  A tuple is the one output row (a list
# of tuples: several rows), with payloads shown as "=payload" (the
# input bytes unchanged) or "bytes[n]", arrays as "list[n]" and floats
# rounded to 6 places.  A row with a NULL sr_hz reaches the workers
# undecoded (pcm None), so every operator gives it its
# undecodable-payload outcome; resample_clips_same_sr drops it like
# any undecodable clip whose rate differs from the target
EXPECTED = {
    "audio_and_container_violations": {
        "flac": [
            ("flac", "d1", "audio_decode", "snr below 30.0 dB"),
            ("flac", "d1", "container_metadata", "unparseable container"),
        ],
        "g711": ("g711", "d1", "audio_decode", "snr below 30.0 dB"),
        "law": D,
        "nullsr": D,
        "pcm": ("pcm", "d1", "audio_decode", "snr below 30.0 dB"),
        "wav": [
            ("wav", "d1", "audio_decode", "snr below 30.0 dB"),
            ("wav", "d1", "container_metadata", "unparseable container"),
        ],
    },
    "audio_decode_results": {
        "flac": ("flac", "d1", -INF, False),
        "g711": ("g711", "d1", -INF, False),
        "law": D,
        "nullsr": D,
        "pcm": ("pcm", "d1", -INF, False),
        "wav": ("wav", "d1", -INF, False),
    },
    "audio_embeddings": {
        "flac": ("flac", 0, None, None),
        "g711": ("g711", 0, None, None),
        "law": ("law", 0, None, None),
        "nullsr": ("nullsr", 0, None, None),
        "pcm": ("pcm", 0, None, None),
        "wav": ("wav", 0, None, None),
    },
    "audio_features": {
        "flac": ("flac", 0, 0.0, 0.0, 0.0, 0),
        "g711": ("g711", 0, 0.0, 0.0, 0.0, 0),
        "law": ("law", 0, 0.0, 0.0, 0.0, 0),
        "nullsr": ("nullsr", 0, 0.0, 0.0, 0.0, 0),
        "pcm": ("pcm", 0, 0.0, 0.0, 0.0, 0),
        "wav": ("wav", 0, 0.0, 0.0, 0.0, 0),
    },
    "audio_fingerprints": {
        "flac": D,
        "g711": D,
        "law": D,
        "nullsr": D,
        "pcm": D,
        "wav": D,
    },
    "audio_mfcc": {
        "flac": ("flac", 0, None),
        "g711": ("g711", 0, None),
        "law": ("law", 0, None),
        "nullsr": ("nullsr", 0, None),
        "pcm": ("pcm", 0, None),
        "wav": ("wav", 0, None),
    },
    "audio_quality": {
        "flac": ("flac", 0, None, None, None, None, None, None, 0.0),
        "g711": ("g711", 0, None, None, None, None, None, None, 0.0),
        "law": ("law", 0, None, None, None, None, None, None, 0.0),
        "nullsr": ("nullsr", 0, None, None, None, None, None, None, 0.0),
        "pcm": ("pcm", 0, None, None, None, None, None, None, 0.0),
        "wav": ("wav", 0, None, None, None, None, None, None, 0.0),
    },
    "audio_spectral_features": {
        "flac": ("flac", 0, None, None, None, None, None, None),
        "g711": ("g711", 0, None, None, None, None, None, None),
        "law": ("law", 0, None, None, None, None, None, None),
        "nullsr": ("nullsr", 0, None, None, None, None, None, None),
        "pcm": ("pcm", 0, None, None, None, None, None, None),
        "wav": ("wav", 0, None, None, None, None, None, None),
    },
    "container_metadata_results": {
        "flac": ("flac", "d1", None, None, None, False, False, False),
        "g711": D,
        "law": D,
        "nullsr": D,
        "pcm": D,
        "wav": ("wav", "d1", None, None, None, False, False, False),
    },
    "denoise_clips": {
        "flac": D,
        "g711": ("g711", "=payload", 16000, 500, "g711_mulaw"),
        "law": D,
        "nullsr": D,
        "pcm": D,
        "wav": D,
    },
    "loudness_stats": {
        "flac": ("flac", 0, None, None, 0, 0, None, None, "d1"),
        "g711": ("g711", 0, None, None, 0, 0, None, None, "d1"),
        "law": ("law", 0, None, None, 0, 0, None, None, "d1"),
        "nullsr": ("nullsr", 0, None, None, 0, 0, None, None, "d1"),
        "pcm": ("pcm", 0, None, None, 0, 0, None, None, "d1"),
        "wav": ("wav", 0, None, None, 0, 0, None, None, "d1"),
    },
    "normalize_gain": {
        "flac": D,
        "g711": ("g711", "=payload", 16000, 500, "g711_mulaw", 0.0, 0.0),
        "law": D,
        "nullsr": D,
        "pcm": D,
        "wav": D,
    },
    "pitch_stats": {
        "flac": ("flac", 0, 0.0, None, None, None, "d1"),
        "g711": ("g711", 0, 0.0, None, None, None, "d1"),
        "law": ("law", 0, 0.0, None, None, None, "d1"),
        "nullsr": ("nullsr", 0, 0.0, None, None, None, "d1"),
        "pcm": ("pcm", 0, 0.0, None, None, None, "d1"),
        "wav": ("wav", 0, 0.0, None, None, None, "d1"),
    },
    "resample_clips": {
        "flac": D,
        "g711": E,
        "law": D,
        "nullsr": D,
        "pcm": D,
        "wav": D,
    },
    "resample_clips_same_sr": {
        "flac": ("flac", "=payload", 16000, 500, "flac"),
        "g711": ("g711", "=payload", 16000, 500, "g711_mulaw"),
        "law": ("law", None, 16000, 500, "alaw"),
        "nullsr": D,
        "pcm": ("pcm", "=payload", 16000, 500, "pcm_s16le"),
        "wav": ("wav", "=payload", 16000, 500, "wav"),
    },
    "segment_clips": {
        "flac": D,
        "g711": D,
        "law": D,
        "nullsr": D,
        "pcm": D,
        "wav": D,
    },
    "spec_augment": {
        "flac": D,
        "g711": D,
        "law": D,
        "nullsr": D,
        "pcm": D,
        "wav": D,
    },
    "speech_ratio_stats": {
        "flac": ("flac", 500, None, None, 0.0, "d1"),
        "g711": ("g711", 500, 0, 0, 0.0, "d1"),
        "law": ("law", 500, None, None, 0.0, "d1"),
        "nullsr": ("nullsr", 500, None, None, 0.0, "d1"),
        "pcm": ("pcm", 500, None, None, 0.0, "d1"),
        "wav": ("wav", 500, None, None, 0.0, "d1"),
    },
    "trim_silence": {
        "flac": D,
        "g711": ("g711", "=payload", 16000, 0, "g711_mulaw", 0, 0),
        "law": D,
        "nullsr": D,
        "pcm": D,
        "wav": D,
    },
}



def _cell(v, payload):
    if isinstance(v, (bytes, bytearray)):
        return "=payload" if bytes(v) == payload else f"bytes[{len(v)}]"
    if isinstance(v, list):
        return f"list[{len(v)}]"
    if isinstance(v, float):
        return round(v, 6)
    return v


def _outcome(spark, op, case):
    payload, sr, codec = CASES[case]
    df = local_df(spark, [(case, "d1",
                           None if payload is None else bytearray(payload),
                           sr, 500, codec)], SCHEMA)
    try:
        rows = OPS[op](df).collect()
    except Exception:
        return E
    if not rows:
        return D
    got = sorted((tuple(_cell(v, payload) for v in r) for r in rows),
                 key=repr)
    return got[0] if len(got) == 1 else got


@pytest.mark.parametrize("op", sorted(OPS))
def test_failure_outcome(spark, op):
    got = {case: _outcome(spark, op, case) for case in CASES}
    assert got == EXPECTED[op]
