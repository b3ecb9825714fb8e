"""Energy VAD: planted speech/silence boundaries recovered to the
frame, hysteresis merge/drop behavior, silence guards, and the Spark
operator matching the local kernel."""

import numpy as np

from drain3_spark import fixtures as FX
from drain3_spark.audio.codecs import decode
from drain3_spark.pipeline.audio_vad import speech_ratio_stats, vad_kernel

FS = 16000


def _speech(sec, amp=0.3, seed=5):
    """Speech-shaped program: AM tone + noise floor."""
    rng = np.random.default_rng(seed)
    t = np.arange(int(sec * FS)) / FS
    return (amp * np.sin(2 * np.pi * 220 * t)
            * (0.6 + 0.4 * np.sin(2 * np.pi * 3 * t))
            + 0.05 * amp * rng.standard_normal(len(t)))


def test_vad_recovers_planted_boundaries():
    sig = np.concatenate([np.zeros(int(0.5 * FS)), _speech(1.0),
                          np.zeros(int(0.7 * FS)), _speech(0.8),
                          np.zeros(int(0.5 * FS))])
    segs, ratio = vad_kernel(sig, FS)
    assert segs == [(500, 1500), (2200, 3000)]
    assert abs(ratio - 1.8 / 3.5) < 0.01


def test_vad_drops_short_blip_and_merges_near_bursts():
    blip = np.concatenate([np.zeros(FS), _speech(0.04), np.zeros(FS)])
    assert vad_kernel(blip, FS) == ([], 0.0)
    near = np.concatenate([_speech(0.5), np.zeros(int(0.06 * FS)),
                           _speech(0.5)])
    segs, _ = vad_kernel(near, FS)  # 60 ms gap < min_gap_ms=100: merged
    assert len(segs) == 1 and segs[0][0] == 0
    apart = np.concatenate([_speech(0.5), np.zeros(int(0.2 * FS)),
                            _speech(0.5)])
    assert len(vad_kernel(apart, FS)[0]) == 2  # 200 ms gap: kept apart


def test_vad_silence_and_noise_floor_guard():
    assert vad_kernel(np.zeros(FS), FS) == ([], 0.0)
    rng = np.random.default_rng(1)
    # uniform low noise: relative gate alone would fire (floor ~= rms);
    # the absolute floor keeps it silent
    assert vad_kernel(0.001 * rng.standard_normal(2 * FS), FS) == ([], 0.0)
    assert vad_kernel(np.zeros(0), FS) == ([], 0.0)


def test_vad_spark_matches_kernel(spark):
    clips = FX.gen_clips(spark, 30, dirty=True)
    got_ratio = {r.clip_id: r for r in speech_ratio_stats(clips)
                 .dropDuplicates(["clip_id"]).collect()}
    seen = set()
    for i in range(30):
        m = FX.row_meta(i, dirty=True)
        if m["clip_id"] in seen:
            continue
        seen.add(m["clip_id"])
        row = FX._synth_row(m)[0]
        try:
            pcm = decode(bytes(row[1]), m["codec"])
        except Exception:
            assert got_ratio[m["clip_id"]].speech_ratio == 0.0
            continue
        segs, ratio = vad_kernel(pcm, row[2])
        r = got_ratio[m["clip_id"]]
        assert (r.n_segments, r.speech_ms, r.speech_ratio) == (
            len(segs), sum(b - a for a, b in segs), ratio), m["clip_id"]


def test_vad_padded_fixture_ratio_below_one(spark):
    """The padded fixture plants leading/trailing silence around real
    program; VAD must report ratio < 1 on padded clips and find the
    speech inside the planted bounds."""
    clips = FX.gen_clips_padded(spark, 24)
    stats = speech_ratio_stats(clips).collect()
    assert stats, "padded fixture produced no rows"
    padded = [r for r in stats if r.n_segments and r.speech_ms < r.dur_ms]
    assert padded, "expected at least one clip with detected padding"
    for r in stats:
        if r.n_segments:
            assert 0.0 < r.speech_ratio <= 1.0


def test_vad_undecodable_reports_zero(spark):
    df = spark.createDataFrame(
        [("junk", bytearray(b"\x00\x01"), FS, 100, "flac")],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string")
    r = speech_ratio_stats(df).collect()[0]
    assert (r.n_segments, r.speech_ratio) == (None, 0.0)


def test_vad_pause_free_program_counts_as_active():
    """A loud continuous tone has no quiet frames to anchor the noise
    floor on — the active_cap keeps it from gating itself out (the
    failure the pipeline demo exposed: a -5 LUFS corpus reading as
    100% dead air).  A continuous QUIET bed still reads silent."""
    t = np.arange(2 * FS) / FS
    loud = 0.3 * np.sin(2 * np.pi * 300.0 * t)
    segs, ratio = vad_kernel(loud, FS)
    assert ratio > 0.99 and len(segs) == 1
    # loud noise bed is also "active" — energy VAD owns the
    # silence/activity boundary, not content classification
    rng = np.random.default_rng(2)
    assert vad_kernel(0.1 * rng.standard_normal(2 * FS), FS)[1] > 0.99
    # continuous quiet bed stays below the absolute floor
    assert vad_kernel(0.002 * np.sin(2 * np.pi * 300.0 * t), FS)[1] == 0.0


def test_vad_subframe_clip_is_silent_not_crash():
    """A decodable clip shorter than one 20 ms frame must return empty
    (it used to ValueError in the frame reshape, killing the Spark
    task from the validation path)."""
    assert vad_kernel(np.ones(150) * 0.1, FS) == ([], 0.0)
    assert vad_kernel(np.ones(319) * 0.1, FS) == ([], 0.0)
