"""Deterministic synthesis of the clips tables (FIXTURES.md T1-T3).

Everything is a pure function of the row index / clip_id (sha1-keyed),
so any scale regenerates identically and the audio decode check can
rebuild each clip's reference signal without a payload table.

Generation is distributed: each generator is a row function of the
index, run on the executors by the one synthesis loop
(:func:`_synthesize`: ``spark.range(n)`` mapped one Arrow batch at a
time), so the bench tier (millions of clips) is produced by the
cluster, not the driver.

Dirty mode (T3) injects exactly one labeled defect into ~2% of rows and
emits the golden ``expected_violations`` rows alongside; the drift
partition (last ds) gets its duration scaled and codec mix flipped for
the KS / chi-square checks.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Dict, List, Optional

import numpy as np
from pyspark.sql import DataFrame, SparkSession, types as T

from drain3_spark.audio.codecs import encode
from drain3_spark.audio.synth import (CODEC_CHOICES, CODEC_WEIGHTS, SR_CHOICES,
                                      SR_WEIGHTS, _pick, melody_pcm,
                                      reference_pcm, seeded_rng)
from drain3_spark.audio.wav import encode_wav
from drain3_spark.pipeline.audio_fp import FRAME_MS, HOP_MS
from drain3_spark.pipeline.audio_sim import stft_grid
from drain3_spark.util import arrow_batch

# --- check names shared with the validation runner (exact-match contract) ---
CHECK_UNIQUENESS = "uniqueness"
CHECK_UNIQUENESS_CROSS = "uniqueness_cross_batch"
CHECK_REF_MISSING = "referential_missing_ref"
CHECK_REF_ORPHAN = "referential_orphan"
CHECK_NULL_TRANSCRIPT = "null_transcript"
CHECK_DUR_BOUNDS = "dur_bounds"
CHECK_SR_DOMAIN = "sr_domain"
CHECK_AUDIO_DECODE = "audio_decode"
CHECK_TRANSCRIPT_EQ = "transcript_equality"
CHECK_CONTAINER_META = "container_metadata"
CHECK_SPEECH_RATE = "speech_rate"
CHECK_LOUDNESS = "loudness_bounds"
CHECK_SPEECH_RATIO = "speech_ratio"

DUR_OUT_OF_RANGE = 10_000_000
SR_ILLEGAL = 12345

CLIPS_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType()),
    T.StructField("bytes", T.BinaryType()),
    T.StructField("sr_hz", T.IntegerType()),
    T.StructField("dur_ms", T.IntegerType()),
    T.StructField("codec", T.StringType()),
    T.StructField("transcript", T.StringType()),
    T.StructField("ds", T.StringType()),
])

REF_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType()),
    T.StructField("transcript_ref", T.StringType()),
])

VIOLATION_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType()),
    T.StructField("ds", T.StringType()),
    T.StructField("check", T.StringType()),
    T.StructField("detail", T.StringType()),
])

# drift-partition sr swap stays INSIDE the legal domain so only the
# distribution shifts (no row-local sr_domain violations)
_SR_FLIP = {8000: 48000, 16000: 44100, 22050: 8000, 44100: 16000, 48000: 22050}
_CODEC_FLIP = {"pcm_s16le": "mulaw", "mulaw": "pcm_s16le",
               "alaw": "pcm_f32le", "pcm_f32le": "alaw"}

# Parquet dictionary encoding is pathological for unique ~KB binary
# payloads (the writer builds a dictionary of every distinct payload and
# the vectorized reader materializes + gathers it: measured 12x slower
# scans).  Every clips write MUST disable it for the bytes column.
CLIPS_WRITER_OPTIONS = {"parquet.enable.dictionary": "false"}


def write_clips(df, path: str, partition_by: str = "ds", mode: str = "overwrite"):
    """Write a clips table with binary-payload-safe parquet options."""
    w = df.write.mode(mode)
    for k, v in CLIPS_WRITER_OPTIONS.items():
        w = w.option(k, v)
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(path)

DEFECT_KINDS = ("dup", "missing_ref", "orphan_ref", "null_transcript",
                "dur_bounds", "sr_domain", "corrupt_bytes", "transcript_mismatch")


def _synthesize(spark: SparkSession, n: int,
                rows_of: Callable[[int], List[tuple]],
                schema: T.StructType = CLIPS_SCHEMA,
                partitions: Optional[int] = None,
                cap: bool = False) -> DataFrame:
    """The one clip-synthesis loop: ``spark.range(n)`` mapped on the
    executors, batch by batch, through ``rows_of(i)`` (the list of
    ``schema`` tuples index ``i`` contributes), one output batch per
    Arrow batch.  ``cap`` keeps at most one partition per index."""
    from drain3_spark.shipping import ship_package
    ship_package(spark)

    def synth(batches):
        for b in batches:
            yield arrow_batch([r for i in b.column("id").to_pylist()
                               for r in rows_of(i)], schema)

    parts = partitions or max(spark.sparkContext.defaultParallelism, 8)
    if cap:
        parts = min(parts, max(n, 1))
    return spark.range(0, n, numPartitions=parts).mapInArrow(synth, schema)


def _id_fields(clip_id: str, dur_lo: int, dur_hi: int) -> tuple:
    """``(h, sr_hz, dur_ms, codec)`` of a clip id: its sha1 hash and the
    fields every generator derives from it."""
    h = int.from_bytes(hashlib.sha1(clip_id.encode()).digest()[:8], "big")
    return (h, _pick(SR_WEIGHTS, SR_CHOICES, (h >> 16) % 100),
            dur_lo + ((h >> 8) % max(dur_hi - dur_lo, 1)),
            _pick(CODEC_WEIGHTS, CODEC_CHOICES, (h >> 24) % 100))


def make_transcript(h: int) -> str:
    k = (h >> 40) % 6
    if k == 0:
        return (f"user u{h % 97} logged in from "
                f"10.{(h >> 3) % 256}.{(h >> 11) % 256}.{(h >> 19) % 256}")
    if k == 1:
        status = ("OK", "FAIL", "RETRY")[h % 3]
        return f"job {h % 1000} finished in {h % 500} ms with status {status}"
    if k == 2:
        return f"uploaded clip {h % 1000000} bytes={h % 1000000000}"
    if k == 3:
        return "cache flush completed"
    if k == 4:
        return f"decode warning: frame {h % 240} dropped at offset {h % 100000}"
    return f"speaker {h % 50} segment {h % 20} of {h % 7 + 1}"


def row_meta(i: int, n_ds: int = 7, dur_lo: int = 200, dur_hi: int = 3000,
             dirty: bool = False, defect_rate: int = 50) -> Dict:
    """Deterministic metadata for row ``i`` (defect kind included)."""
    clip_id = f"clip-{i:010d}"
    h, sr, dur, codec = _id_fields(clip_id, dur_lo, dur_hi)
    ds_idx = i % n_ds
    ds = f"2026-08-{ds_idx + 1:02d}"
    transcript = make_transcript(h)

    drift = dirty and ds_idx == n_ds - 1
    if drift:
        dur = int(dur * 3 // 2)
        codec = _CODEC_FLIP[codec]
        sr = _SR_FLIP[sr]

    defect = None
    if dirty and not drift and (h % defect_rate) == 0:
        defect = DEFECT_KINDS[(h >> 32) % len(DEFECT_KINDS)]

    return {"i": i, "clip_id": clip_id, "h": h, "ds": ds, "sr_hz": sr,
            "dur_ms": dur, "codec": codec, "transcript": transcript,
            "defect": defect}


def expected_violation(m: Dict, snr_min: float = 30.0,
                       dur_bounds=(100, 5000)) -> Optional[tuple]:
    d = m["defect"]
    if d is None:
        return None
    cid, ds = m["clip_id"], m["ds"]
    if d == "dup":
        return (cid, ds, CHECK_UNIQUENESS, "count=2")
    if d == "missing_ref":
        return (cid, ds, CHECK_REF_MISSING, "no transcript_ref row")
    if d == "orphan_ref":
        return (f"orphan-{m['i']:010d}", None, CHECK_REF_ORPHAN,
                "transcript_ref row without clip")
    if d == "null_transcript":
        return (cid, ds, CHECK_NULL_TRANSCRIPT, "transcript is null or empty")
    if d == "dur_bounds":
        return (cid, ds, CHECK_DUR_BOUNDS,
                f"dur_ms={DUR_OUT_OF_RANGE} outside [{dur_bounds[0]}, {dur_bounds[1]}]")
    if d == "sr_domain":
        return (cid, ds, CHECK_SR_DOMAIN, f"sr_hz={SR_ILLEGAL} not in domain")
    if d == "corrupt_bytes":
        return (cid, ds, CHECK_AUDIO_DECODE, f"snr below {snr_min} dB")
    if d == "transcript_mismatch":
        return (cid, ds, CHECK_TRANSCRIPT_EQ, "transcript != transcript_ref")
    raise AssertionError(d)


def _synth_row(m: Dict) -> List[tuple]:
    """Clips rows for one metadata record (two rows for a dup defect)."""
    pcm = reference_pcm(m["clip_id"], m["sr_hz"], m["dur_ms"])
    d = m["defect"]
    sr, dur, transcript = m["sr_hz"], m["dur_ms"], m["transcript"]
    if d == "corrupt_bytes":
        rng = seeded_rng(m["h"] & 0xFFFFFFFF ^ 0x5A5A5A5A)
        payload = encode(rng.uniform(-1, 1, len(pcm)).astype(np.float32), m["codec"])
    else:
        payload = encode(pcm, m["codec"])
    if d == "null_transcript":
        transcript = None
    elif d == "transcript_mismatch":
        transcript = transcript + " CORRUPTED"
    if d == "dur_bounds":
        dur = DUR_OUT_OF_RANGE
    if d == "sr_domain":
        sr = SR_ILLEGAL
    row = (m["clip_id"], bytearray(payload), sr, dur, m["codec"], transcript, m["ds"])
    return [row, row] if d == "dup" else [row]


def gen_clips(spark: SparkSession, n: int, dirty: bool = False,
              n_ds: int = 7, dur_lo: int = 200, dur_hi: int = 3000,
              partitions: Optional[int] = None) -> DataFrame:
    """T1 (clean) / T3 (dirty) clips table, synthesized on executors."""
    kw = dict(n_ds=n_ds, dur_lo=dur_lo, dur_hi=dur_hi, dirty=dirty)
    return _synthesize(spark, n, lambda i: _synth_row(row_meta(i, **kw)),
                       partitions=partitions)


def pad_ms(m: Dict) -> tuple:
    """Deterministic (lead_ms, tail_ms) digital-silence pads for a clip
    metadata record — pure function of the id hash so a local replay
    recomputes the expected trim exactly (q45 pin)."""
    h = m["h"]
    return 40 + (h >> 40) % 80, 40 + (h >> 46) % 80


# the q48 codec/container matrix: every raw codec plus every WAV
# container variant, cycled deterministically by row index
CODEC_MATRIX = ("pcm_s16le", "pcm_f32le", "mulaw", "alaw",
                "wav", "wav:pcm_s16le", "wav:pcm_f32le", "wav:mulaw",
                "wav:alaw", "wav:adpcm_ima", "flac",
                "g711_mulaw", "g711_alaw")


def gen_clips_wav(spark: SparkSession, n: int, n_ds: int = 7,
                  dur_lo: int = 200, dur_hi: int = 1200,
                  sr_mismatch_every: int = 17,
                  partitions: Optional[int] = None) -> DataFrame:
    """Codec/container-matrix clips table (q48): row ``i`` carries
    ``CODEC_MATRIX[i % len(CODEC_MATRIX)]``, the same
    :func:`reference_pcm` signal as
    T1 routed through the matching encoder.  WAV payloads embed the
    clip's true ``sr_hz`` — except every ``sr_mismatch_every``-th WAV
    row, whose CONTAINER header lies about the rate (the table column
    stays right): the planted defect the container-metadata
    consistency check must flag, and nothing else may."""
    def rows(i: int) -> List[tuple]:
        m = row_meta(i, n_ds=n_ds, dur_lo=dur_lo, dur_hi=dur_hi)
        codec = CODEC_MATRIX[i % len(CODEC_MATRIX)]
        pcm = reference_pcm(m["clip_id"], m["sr_hz"], m["dur_ms"])
        if codec.startswith("wav") or codec == "flac":
            container_sr = m["sr_hz"]
            if i % sr_mismatch_every == 0:
                container_sr = _SR_FLIP[m["sr_hz"]]
            if codec == "flac":
                payload = encode(pcm, codec, sr_hz=container_sr)
            else:
                inner = codec.split(":", 1)[1] if ":" in codec \
                    else "pcm_s16le"
                payload = encode_wav(pcm, container_sr, inner)
        else:
            payload = encode(pcm, codec)
        return [(m["clip_id"], bytearray(payload), m["sr_hz"],
                 m["dur_ms"], codec, m["transcript"], m["ds"])]

    return _synthesize(spark, n, rows, partitions=partitions)


def gen_clips_padded(spark: SparkSession, n: int, n_ds: int = 7,
                     dur_lo: int = 200, dur_hi: int = 3000,
                     partitions: Optional[int] = None) -> DataFrame:
    """Clean clips whose payloads carry deterministic leading/trailing
    digital silence (zeros) around the reference tone — the fixture for
    the trim → normalize → denoise transformation pipeline (q45).
    ``dur_ms`` reflects the padded length."""
    def rows(i: int) -> List[tuple]:
        m = row_meta(i, n_ds=n_ds, dur_lo=dur_lo, dur_hi=dur_hi)
        sr = m["sr_hz"]
        lead_ms, tail_ms = pad_ms(m)
        pcm = reference_pcm(m["clip_id"], sr, m["dur_ms"])
        padded = np.concatenate([
            np.zeros(sr * lead_ms // 1000, np.float32), pcm,
            np.zeros(sr * tail_ms // 1000, np.float32)])
        return [(m["clip_id"], bytearray(encode(padded, m["codec"])),
                 sr, m["dur_ms"] + lead_ms + tail_ms, m["codec"],
                 m["transcript"], m["ds"])]

    return _synthesize(spark, n, rows, partitions=partitions)


def gen_transcripts_ref(spark: SparkSession, n: int, dirty: bool = False,
                        n_ds: int = 7, dur_lo: int = 200, dur_hi: int = 3000,
                        partitions: Optional[int] = None) -> DataFrame:
    """T2 reference table (missing-ref rows dropped, orphans added)."""
    kw = dict(n_ds=n_ds, dur_lo=dur_lo, dur_hi=dur_hi, dirty=dirty)

    def rows(i: int) -> List[tuple]:
        m = row_meta(i, **kw)
        if m["defect"] == "missing_ref":
            return []
        out = [(m["clip_id"], m["transcript"])]
        if m["defect"] == "orphan_ref":
            out.append((f"orphan-{i:010d}", "orphan transcript"))
        return out

    return _synthesize(spark, n, rows, REF_SCHEMA, partitions)


def gen_expected_violations(spark: SparkSession, n: int, n_ds: int = 7,
                            dur_lo: int = 200, dur_hi: int = 3000,
                            snr_min: float = 30.0,
                            dur_bounds=(100, 5000),
                            partitions: Optional[int] = None) -> DataFrame:
    """Golden violations table for the dirty fixture (exact-match target)."""
    kw = dict(n_ds=n_ds, dur_lo=dur_lo, dur_hi=dur_hi, dirty=True)

    def rows(i: int) -> List[tuple]:
        v = expected_violation(row_meta(i, **kw), snr_min, dur_bounds)
        return [] if v is None else [v]

    return _synthesize(spark, n, rows, VIOLATION_SCHEMA, partitions)


def dup_meta(i: int, n_ds: int = 7, dur_lo: int = 200, dur_hi: int = 3000,
             gain: float = 0.9, noise_amp: float = 0.002) -> Dict:
    """Metadata for a planted near-duplicate of base row ``i``: same
    sr/codec/transcript as the base, perturbed payload (gain change +
    small additive noise + codec re-quantization)."""
    base = row_meta(i, n_ds=n_ds, dur_lo=dur_lo, dur_hi=dur_hi, dirty=False)
    return {**base, "base_clip_id": base["clip_id"],
            "clip_id": f"dup-{i:010d}", "gain": gain, "noise_amp": noise_amp}


def _synth_dup_row(m: Dict) -> tuple:
    pcm = reference_pcm(m["base_clip_id"], m["sr_hz"], m["dur_ms"])
    rng = seeded_rng(m["h"] & 0xFFFFFFFF ^ 0xD0D0D0D0)
    pert = np.clip(m["gain"] * pcm.astype(np.float64)
                   + m["noise_amp"] * rng.uniform(-1.0, 1.0, len(pcm)),
                   -1.0, 1.0).astype(np.float32)
    payload = encode(pert, m["codec"])
    return (m["clip_id"], bytearray(payload), m["sr_hz"], m["dur_ms"],
            m["codec"], m["transcript"], m["ds"])


def gen_clip_dups(spark: SparkSession, n: int, every: int = 10,
                  n_ds: int = 7, dur_lo: int = 200, dur_hi: int = 3000,
                  gain: float = 0.9, noise_amp: float = 0.002,
                  partitions: Optional[int] = None) -> DataFrame:
    """Planted near-duplicates for every ``every``-th clip of a
    ``gen_clips(spark, n, dirty=False, ...)`` corpus — ids
    ``dup-%010d``, payload = base PCM x ``gain`` + uniform noise of
    amplitude ``noise_amp``, re-encoded with the base codec.  Union
    with the base corpus to get a table whose true near-dup pairs are
    exactly {(clip-i, dup-i) : i % every == 0}."""
    kw = dict(n_ds=n_ds, dur_lo=dur_lo, dur_hi=dur_hi,
              gain=gain, noise_amp=noise_amp)
    return _synthesize(spark, (n + every - 1) // every,
                       lambda i: [_synth_dup_row(dup_meta(i * every, **kw))],
                       partitions=partitions, cap=True)


def melody_meta(i: int, n_ds: int = 7, dur_lo: int = 2000,
                dur_hi: int = 4000) -> Dict:
    """Deterministic metadata for melody-corpus row ``i`` (ids
    ``mel-%010d`` — a separate namespace from the tone corpora, so
    fingerprint fixtures never collide with the near-dup ones)."""
    clip_id = f"mel-{i:010d}"
    h, sr, dur, codec = _id_fields(clip_id, dur_lo, dur_hi)
    return {"i": i, "clip_id": clip_id, "h": h,
            "ds": f"2026-08-{i % n_ds + 1:02d}",
            "sr_hz": sr, "dur_ms": dur, "codec": codec}


def gen_clips_melody(spark: SparkSession, n: int, n_ds: int = 7,
                     dur_lo: int = 2000, dur_hi: int = 4000,
                     partitions: Optional[int] = None) -> DataFrame:
    """Melody corpus for the fingerprinting family: each clip is a
    deterministic note SEQUENCE (:func:`drain3_spark.audio.synth
    .melody_pcm`) — time-frequency structure a constellation hash can
    discriminate on, which the stationary-tone corpora lack."""
    def rows(i: int) -> List[tuple]:
        m = melody_meta(i, n_ds=n_ds, dur_lo=dur_lo, dur_hi=dur_hi)
        pcm = melody_pcm(m["clip_id"], m["sr_hz"], m["dur_ms"])
        return [(m["clip_id"], bytearray(encode(pcm, m["codec"])),
                 m["sr_hz"], m["dur_ms"], m["codec"], "", m["ds"])]

    return _synthesize(spark, n, rows, partitions=partitions)


def fp_query_meta(i: int, every: int = 10, snip_ms: int = 1000,
                  frame_ms: int = FRAME_MS, hop_ms: int = HOP_MS,
                  n_ds: int = 7, dur_lo: int = 2000,
                  dur_hi: int = 4000) -> Dict:
    """Ground truth for excerpt query ``i``: which melody clip it was
    cut from and at which STFT frame offset.  The excerpt start is
    snapped to the base clip's hop grid, so query frame j covers
    exactly the samples of base frame ``offset_frames + j`` and the
    match offset is EXACT (closed form for the q46 pin).  The frame
    and hop come from the fingerprint's own STFT grid."""
    base = melody_meta(i * every, n_ds=n_ds, dur_lo=dur_lo, dur_hi=dur_hi)
    sr = base["sr_hz"]
    frame, hop = stft_grid(sr, frame_ms, hop_ms)
    n_base = max(sr * base["dur_ms"] // 1000, 1)
    total_frames = max((n_base - frame) // hop + 1, 1)
    snip_frames = max(snip_ms // hop_ms, 2)
    f0 = (base["h"] >> 12) % max(total_frames - snip_frames, 1)
    snip_n = min((snip_frames - 1) * hop + frame, n_base - f0 * hop)
    codec = (_CODEC_FLIP[base["codec"]] if i % 3 == 0 else base["codec"])
    return {**base, "base_clip_id": base["clip_id"],
            "clip_id": f"qry-{i:010d}", "offset_frames": int(f0),
            "start_sample": int(f0 * hop), "snip_n": int(snip_n),
            "codec": codec,
            "qry_dur_ms": int(round(snip_n * 1000.0 / sr))}


def _synth_fp_query_row(m: Dict, gain: float = 0.85,
                        noise_amp: float = 0.002) -> tuple:
    base = melody_pcm(m["base_clip_id"], m["sr_hz"], m["dur_ms"])
    snip = base[m["start_sample"]:m["start_sample"] + m["snip_n"]]
    rng = seeded_rng(m["h"] & 0xFFFFFFFF ^ 0xF19E1234)
    pert = np.clip(gain * snip.astype(np.float64)
                   + noise_amp * rng.uniform(-1.0, 1.0, len(snip)),
                   -1.0, 1.0).astype(np.float32)
    return (m["clip_id"], bytearray(encode(pert, m["codec"])), m["sr_hz"],
            m["qry_dur_ms"], m["codec"], "", m["ds"])


def gen_fp_queries(spark: SparkSession, n: int, every: int = 10,
                   snip_ms: int = 1000, n_negatives: int = 10,
                   n_ds: int = 7, dur_lo: int = 2000, dur_hi: int = 4000,
                   partitions: Optional[int] = None) -> DataFrame:
    """Excerpt queries against a ``gen_clips_melody(spark, n, ...)``
    corpus: one gain-scaled, noise-perturbed, sometimes codec-flipped
    ~``snip_ms`` cut of every ``every``-th melody (ids ``qry-%010d``,
    truth in :func:`fp_query_meta`), plus ``n_negatives`` whole
    melodies NOT in the corpus (ids ``fpneg-%010d``) that must match
    nothing."""
    n_pos = (n + every - 1) // every
    kw = dict(every=every, snip_ms=snip_ms, n_ds=n_ds,
              dur_lo=dur_lo, dur_hi=dur_hi)

    def rows(i: int) -> List[tuple]:
        if i < n_pos:
            return [_synth_fp_query_row(fp_query_meta(i, **kw))]
        j = i - n_pos
        cid = f"fpneg-{j:010d}"
        _, sr, dur, codec = _id_fields(cid, 1000, 2000)
        return [(cid, bytearray(encode(melody_pcm(cid, sr, dur), codec)), sr,
                 dur, codec, "", f"2026-08-{j % n_ds + 1:02d}")]

    return _synthesize(spark, n_pos + n_negatives, rows,
                       partitions=partitions, cap=True)
