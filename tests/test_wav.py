"""RIFF/WAVE container + IMA ADPCM codec tests.

The vectorized block-parallel ADPCM decoder is verified bit-for-bit
against a straight-line scalar transcription of the public IMA spec
state machine; containers round-trip through our own encoder; the
container-metadata consistency check flags exactly the planted lies.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from drain3_spark.audio.codecs import decode, encode, snr_db
from drain3_spark.audio.synth import reference_pcm
from drain3_spark.audio.wav import (_INDEX_ADJ, _STEPS, adpcm_decode_blocks,
                                    adpcm_encode_blocks, decode_wav,
                                    encode_wav, wav_header)


def _sig(n=4000, sr=16000, seed=3):
    rng = np.random.default_rng(seed)
    t = np.arange(n) / sr
    x = 0.6 * np.sin(2 * np.pi * 440 * t) + 0.15 * np.sin(2 * np.pi * 997 * t)
    return np.clip(x + 0.02 * rng.standard_normal(n), -1, 1).astype(np.float32)


# ------------------------------------------------------------- codec core

def _adpcm_decode_scalar(data: bytes, block_align: int,
                         n_samples: int) -> np.ndarray:
    """Straight-line per-sample IMA ADPCM decoder (spec transcription),
    the ground truth for the vectorized implementation."""
    out = []
    ba = block_align
    for off in range(0, len(data) - ba + 1, ba):
        blk = data[off:off + ba]
        pred = int.from_bytes(blk[0:2], "little", signed=True)
        idx = min(blk[2], 88)
        out.append(pred)
        nibbles = []
        for byte in blk[4:]:
            nibbles.append(byte & 0x0F)
            nibbles.append(byte >> 4)
        for n in nibbles:
            step = int(_STEPS[idx])
            diff = step >> 3
            if n & 1:
                diff += step >> 2
            if n & 2:
                diff += step >> 1
            if n & 4:
                diff += step
            pred = pred - diff if n & 8 else pred + diff
            pred = max(-32768, min(32767, pred))
            idx = max(0, min(88, idx + int(_INDEX_ADJ[n & 7])))
            out.append(pred)
    return (np.array(out[:n_samples], dtype=np.float32) / 32767.0)


def test_adpcm_vectorized_decoder_matches_scalar_spec():
    sig = _sig(3333)
    data, n = adpcm_encode_blocks(sig, block_align=256)
    fast = adpcm_decode_blocks(data, 256, n)
    slow = _adpcm_decode_scalar(data, 256, n)
    assert fast.shape == slow.shape == (3333,)
    assert np.array_equal(fast, slow)


def test_adpcm_blocks_are_independent():
    # decoding a block slice equals the same slice of the full decode —
    # the property the vectorized decoder and parallel readers rely on
    sig = _sig(505 * 4)  # exactly 4 blocks at block_align=256
    data, n = adpcm_encode_blocks(sig, 256)
    full = adpcm_decode_blocks(data, 256, n)
    one = adpcm_decode_blocks(data[256 * 2:256 * 3], 256, 505)
    assert np.array_equal(one, full[505 * 2:505 * 3])


def test_adpcm_snr_on_fixture_family():
    worst = np.inf
    for i in range(30):
        for sr in (8000, 16000, 44100):
            ref = reference_pcm(f"clip-{i:06d}", sr, 400)
            got = decode(encode(ref, "wav:adpcm_ima", sr_hz=sr),
                         "wav:adpcm_ima")
            worst = min(worst, snr_db(ref, got))
    # 4-bit ADPCM: ~20-35 dB by design; the codec-aware gate is 15
    assert worst >= 15.0, worst


@pytest.mark.parametrize("codec,min_snr", [
    ("wav", 60.0), ("wav:pcm_s16le", 60.0), ("wav:pcm_f32le", 200.0),
    ("wav:mulaw", 30.0), ("wav:alaw", 30.0), ("wav:adpcm_ima", 15.0)])
def test_wav_roundtrip(codec, min_snr):
    sig = _sig(2777)
    payload = encode(sig, codec, sr_hz=22050)
    pcm, sr = decode_wav(payload)
    assert sr == 22050
    assert len(pcm) == len(sig)
    s = snr_db(sig, pcm)
    assert s >= min_snr or s == np.inf, (codec, s)
    # the generic dispatch sees the same samples
    assert np.array_equal(pcm, decode(payload, codec))


def test_wav_header_only_parse_matches_decode():
    sig = _sig(1501)
    for codec, inner in [("wav", "pcm_s16le"), ("wav:mulaw", "g711_mulaw"),
                         ("wav:adpcm_ima", "adpcm_ima")]:
        payload = encode(sig, codec, sr_hz=8000)
        got_codec, sr, n = wav_header(payload)
        assert (got_codec, sr, n) == (inner, 8000, 1501)


def test_wav_rejects_malformed():
    for bad in (b"", b"RIFF\x00\x00\x00\x00WAVE", b"\x01" * 64,
                b"RIFF" + b"\xff" * 40):
        with pytest.raises(ValueError):
            decode_wav(bad)
        with pytest.raises(ValueError):
            wav_header(bad)
    # stereo and unknown format tags are declared unsupported
    mono = encode_wav(_sig(100), 8000, "pcm_s16le")
    stereo = bytearray(mono)
    stereo[22] = 2  # nChannels
    with pytest.raises(ValueError):
        decode_wav(bytes(stereo))
    weird = bytearray(mono)
    weird[20] = 0x55  # wFormatTag = MP3
    with pytest.raises(ValueError):
        decode_wav(bytes(weird))


# --------------------------------------------------- validation integration

def test_engine_validates_wav_corpus_end_to_end(spark):
    """The full ValidationEngine over a container-codec corpus: the SNR
    decode check passes every healthy clip under the codec-aware gate,
    and the container-metadata check contributes exactly the planted
    violations."""
    from drain3_spark import fixtures as FX
    from drain3_spark.fixtures import CHECK_CONTAINER_META
    from drain3_spark.validation.runner import (ValidationConfig,
                                                ValidationEngine)

    n = 200
    clips = FX.gen_clips_wav(spark, n, dur_lo=200, dur_hi=900)
    engine = ValidationEngine(ValidationConfig(with_drift=False))
    report = engine.validate(clips)
    viol = report.violations.collect()
    report.violations.unpersist()
    by_check = {}
    for r in viol:
        by_check.setdefault(r.check, set()).add(r.clip_id)
    assert all(r.detail.startswith("container sr_hz=") for r in viol
               if r.check == CHECK_CONTAINER_META)
    cm = FX.CODEC_MATRIX
    expected_meta = {f"clip-{i:010d}" for i in range(n)
                     if i % 17 == 0
                     and (cm[i % len(cm)].startswith("wav")
                          or cm[i % len(cm)] == "flac")}
    assert by_check.pop(CHECK_CONTAINER_META, set()) == expected_meta
    assert by_check == {}, by_check
    # the partition report carries the container check too: one row per
    # ds, counting exactly the planted violations there
    ds_of = {r.clip_id: r.ds for r in clips.select("clip_id", "ds").collect()}
    want = {ds: 0 for ds in ds_of.values()}
    for cid in expected_meta:
        want[ds_of[cid]] += 1
    got = {r.ds: r.violation_count
           for r in report.partition_report.collect()
           if r.check == CHECK_CONTAINER_META}
    assert got == want and sum(want.values()) > 0, (got, want)
    assert (sum(r.violations for r in report.metrics.collect())
            == len(expected_meta))


def test_container_check_pushes_codec_filter(spark, tmp_path):
    """The container-metadata check's codec predicate must reach the
    parquet scan (PushedFilters): at 100 TB with a few percent
    container-codec rows, row-group codec statistics skip most of the
    corpus before any payload byte is read."""
    from drain3_spark import fixtures as FX
    from drain3_spark.validation.audio import container_metadata_results

    path = str(tmp_path / "clips")
    FX.write_clips(FX.gen_clips_wav(spark, 60, partitions=2), path)
    clips = spark.read.parquet(path)
    plan = (container_metadata_results(clips)
            ._jdf.queryExecution().executedPlan().toString())
    scan = next(ln for ln in plan.splitlines() if "PushedFilters" in ln)
    pushed = scan.split("PushedFilters:")[1]
    assert "StringStartsWith(codec,wav)" in pushed.replace(" ", ""), scan
    assert "IsNotNull(bytes)" in pushed.replace(" ", ""), scan
