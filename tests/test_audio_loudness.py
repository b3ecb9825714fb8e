"""BS.1770 loudness: the 48 kHz re-derivation reproduces the spec
table, the FFT-IR filter equals the direct biquad recursion, known
signals measure at their known LUFS, gating drops silence, and the
Spark operator matches the local kernel."""

import numpy as np

from drain3_spark import fixtures as FX
from drain3_spark.audio.codecs import decode, encode
from drain3_spark.pipeline.audio_loudness import (
    k_weight, k_weighting_coeffs, loudness_stats, lra_kernel, lufs_kernel,
    true_peak_dbfs)

# ITU-R BS.1770-4 Tables 1 and 2 (48 kHz filter coefficients)
_SPEC_B1 = [1.53512485958697, -2.69169618940638, 1.19839281085285]
_SPEC_A1 = [1.0, -1.69065929318241, 0.73248077421585]
_SPEC_B2 = [1.0, -2.0, 1.0]
_SPEC_A2 = [1.0, -1.99004745483398, 0.99007225036621]


def test_k_weighting_matches_spec_at_48k():
    b1, a1, b2, a2 = k_weighting_coeffs(48000.0)
    np.testing.assert_allclose(b1, _SPEC_B1, atol=1e-6)
    np.testing.assert_allclose(a1, _SPEC_A1, atol=1e-6)
    np.testing.assert_allclose(b2, _SPEC_B2, atol=1e-12)
    np.testing.assert_allclose(a2, _SPEC_A2, atol=1e-6)


def _direct_cascade(x, fs):
    """Reference direct-form-I recursion of the two biquads."""
    b1, a1, b2, a2 = k_weighting_coeffs(fs)
    out = x
    for b, a in ((b1, a1), (b2, a2)):
        y = np.zeros_like(out)
        for i in range(len(out)):
            y[i] = b[0] * out[i]
            if i >= 1:
                y[i] += b[1] * out[i - 1] - a[1] * y[i - 1]
            if i >= 2:
                y[i] += b[2] * out[i - 2] - a[2] * y[i - 2]
        out = y
    return out


def test_ir_filter_equals_direct_recursion():
    rng = np.random.default_rng(7)
    for fs in (16000, 48000):
        x = rng.uniform(-1, 1, 4000)
        np.testing.assert_allclose(k_weight(x, fs), _direct_cascade(x, fs),
                                   atol=1e-9)


def test_fullscale_sine_reads_near_minus_3_lufs():
    """A 0 dBFS 997 Hz sine is the spec's anchor: RMS = -3.01 dBFS and
    the K-weighting gain at 997 Hz is ~0 dB, so integrated loudness
    reads ~= -3.01 LUFS at ANY sample rate (the filter re-derivation
    is what makes it rate-independent)."""
    vals = []
    for fs in (16000, 32000, 48000):
        t = np.arange(5 * fs) / fs
        x = np.sin(2 * np.pi * 997.0 * t)
        lufs, mmax, nb, ng = lufs_kernel(x, fs)
        assert abs(lufs - (-3.01)) < 0.15, (fs, lufs)
        assert ng > 0 and nb >= ng
        vals.append(lufs)
    assert max(vals) - min(vals) < 0.1  # sr-independent within 0.1 LU


def test_gating_drops_silence():
    """2 s of tone + 8 s of digital silence: the -70 LUFS absolute gate
    plus the relative gate drop the silent blocks, so integrated stays
    within 0.5 LU of the tone-only measurement (the residual ~0.34 LU
    dip is the three boundary blocks straddling tone/silence at
    75/50/25% power — they legitimately pass both gates).  An ungated
    mean would read ~7 dB lower."""
    fs = 16000
    t = np.arange(2 * fs) / fs
    tone = 0.25 * np.sin(2 * np.pi * 997.0 * t)
    padded = np.concatenate([tone, np.zeros(8 * fs)])
    l_tone = lufs_kernel(tone, fs)[0]
    l_pad, _, nb, ng = lufs_kernel(padded, fs)
    assert abs(l_pad - l_tone) < 0.5, (l_pad, l_tone)
    assert ng < nb // 4  # the gates really dropped the silent blocks
    ungated = -0.691 + 10 * np.log10(np.mean(k_weight(padded, fs) ** 2))
    assert l_pad - ungated > 5.0


def test_silence_reports_null():
    assert lufs_kernel(np.zeros(16000), 16000)[0] is None
    assert lufs_kernel(np.zeros(0), 16000) == (None, None, 0, 0)


def test_loudness_spark_matches_kernel(spark):
    clips = FX.gen_clips(spark, 30, dirty=True)
    got = {r.clip_id: r for r in loudness_stats(clips)
           .dropDuplicates(["clip_id"]).collect()}
    seen = set()
    for i in range(30):
        m = FX.row_meta(i, dirty=True)
        if m["clip_id"] in seen:
            continue
        seen.add(m["clip_id"])
        row = FX._synth_row(m)[0]
        pcm = decode(bytes(row[1]), m["codec"])
        want = lufs_kernel(pcm, row[2])
        r = got[m["clip_id"]]
        assert (r.integrated_lufs, r.momentary_max_lufs, r.n_blocks,
                r.n_gated_blocks) == want, m["clip_id"]
        assert r.loudness_range_lu == lra_kernel(pcm, row[2]), m["clip_id"]
        assert r.true_peak_dbfs == true_peak_dbfs(pcm), m["clip_id"]


def test_true_peak_catches_intersample_crest():
    """The classic meter case: a tone at fs/4 whose samples all land
    pi/4 off-crest reads -3.01 dBFS sample peak but ~0 dBTP — the
    4x-oversampled meter recovers the inter-sample crest."""
    fs = 48000
    n = np.arange(4 * fs)
    x = np.sin(2 * np.pi * 0.25 * n + np.pi / 4)
    sample_peak = 20 * np.log10(np.max(np.abs(x)))
    assert abs(sample_peak - (-3.01)) < 0.01
    tp = true_peak_dbfs(x)
    assert abs(tp - 0.0) < 0.1, tp
    # an on-crest low-frequency tone: true peak == sample peak
    y = 0.5 * np.sin(2 * np.pi * 100.0 * np.arange(fs) / fs)
    assert abs(true_peak_dbfs(y) - 20 * np.log10(0.5)) < 0.05
    assert true_peak_dbfs(np.zeros(0)) is None


def test_loudness_range_two_level_program():
    """10 s quiet + 10 s loud (+12 dB) program: LRA reads ~12 LU; a
    steady tone reads ~0; sub-window programs read 0; silence None."""
    fs = 16000
    t = np.arange(10 * fs) / fs
    tone = np.sin(2 * np.pi * 300.0 * t)
    prog = np.concatenate([0.02 * tone, 0.08 * tone])  # +12.04 dB step
    lra = lra_kernel(prog, fs)
    assert abs(lra - 12.0) < 1.5, lra
    assert lra_kernel(0.1 * tone, fs) < 0.2
    assert lra_kernel(0.1 * tone[: fs], fs) == 0.0  # < one 3 s window
    assert lra_kernel(np.zeros(5 * fs), fs) is None
    assert lra_kernel(np.zeros(0), fs) is None


def test_carry_columns_pass_through(spark):
    """carry= appends input columns to the stats output (incl. for
    undecodable rows), plans with no join, and rejects collisions."""
    import pytest

    from drain3_spark.pipeline.audio_pitch import pitch_stats
    from drain3_spark.pipeline.audio_vad import speech_ratio_stats

    fs = 16000
    t = np.arange(fs) / fs
    x = (0.2 * np.sin(2 * np.pi * 300.0 * t)).astype(np.float32)
    df = spark.createDataFrame(
        [("a", bytearray(encode(x, "pcm_s16le")), fs, 1000, "pcm_s16le",
          "d1"),
         ("bad", bytearray(b"\x00"), fs, 1000, "flac", "d2")],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, "
        "codec string, ds string")

    for op, kw in ((loudness_stats, {}), (speech_ratio_stats, {}),
                   (pitch_stats, {})):
        rows = {r.clip_id: r for r in op(df, carry=("ds", "codec"),
                                         **kw).collect()}
        assert rows["a"].ds == "d1" and rows["a"].codec == "pcm_s16le"
        assert rows["bad"].ds == "d2" and rows["bad"].codec == "flac"
        plan = op(df, carry=("ds",), **kw)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Join" not in plan

    with pytest.raises(ValueError):
        speech_ratio_stats(df, carry=("dur_ms",))  # output collision
