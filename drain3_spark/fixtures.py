"""Deterministic synthesis of the clips tables (FIXTURES.md T1-T3).

Everything is a pure function of the row index / clip_id (sha1-keyed),
so any scale regenerates identically and the audio decode check can
rebuild each clip's reference signal without a payload table.

Generation is distributed: ``spark.range(n)`` → ``mapInPandas`` synth,
so the bench tier (millions of clips) is produced by the cluster, not
the driver.

Dirty mode (T3) injects exactly one labeled defect into ~2% of rows and
emits the golden ``expected_violations`` rows alongside; the drift
partition (last ds) gets its duration scaled and codec mix flipped for
the KS / chi-square checks.
"""

from __future__ import annotations

import hashlib
from typing import Dict, Iterator, List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, types as T

from drain3_spark.audio.codecs import encode
from drain3_spark.audio.synth import (CODEC_CHOICES, CODEC_WEIGHTS, SR_CHOICES,
                                      SR_WEIGHTS, _pick, reference_pcm,
                                      seeded_rng)

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
    h = int.from_bytes(hashlib.sha1(clip_id.encode()).digest()[:8], "big")
    ds_idx = i % n_ds
    ds = f"2026-08-{ds_idx + 1:02d}"
    sr = _pick(SR_WEIGHTS, SR_CHOICES, (h >> 16) % 100)
    dur = dur_lo + ((h >> 8) % max(dur_hi - dur_lo, 1))
    codec = _pick(CODEC_WEIGHTS, CODEC_CHOICES, (h >> 24) % 100)
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
    from drain3_spark.shipping import ship_package
    ship_package(spark)
    kw = dict(n_ds=n_ds, dur_lo=dur_lo, dur_hi=dur_hi, dirty=dirty)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in CLIPS_SCHEMA.fields]
        for b in batches:
            rows: List[tuple] = []
            for i in b["id"]:
                rows.extend(_synth_row(row_meta(int(i), **kw)))
            yield pd.DataFrame(rows, columns=cols)

    parts = partitions or max(spark.sparkContext.defaultParallelism, 8)
    return spark.range(0, n, numPartitions=parts).mapInPandas(synth, CLIPS_SCHEMA)


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
    from drain3_spark.shipping import ship_package
    ship_package(spark)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from drain3_spark.audio.wav import encode_wav
        cols = [f.name for f in CLIPS_SCHEMA.fields]
        for b in batches:
            rows: List[tuple] = []
            for i in b["id"]:
                i = int(i)
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
                rows.append((m["clip_id"], bytearray(payload), m["sr_hz"],
                             m["dur_ms"], codec, m["transcript"], m["ds"]))
            yield pd.DataFrame(rows, columns=cols)

    parts = partitions or max(spark.sparkContext.defaultParallelism, 8)
    return spark.range(0, n, numPartitions=parts).mapInPandas(synth, CLIPS_SCHEMA)


def gen_clips_padded(spark: SparkSession, n: int, n_ds: int = 7,
                     dur_lo: int = 200, dur_hi: int = 3000,
                     partitions: Optional[int] = None) -> DataFrame:
    """Clean clips whose payloads carry deterministic leading/trailing
    digital silence (zeros) around the reference tone — the fixture for
    the trim → normalize → denoise transformation pipeline (q45).
    ``dur_ms`` reflects the padded length."""
    from drain3_spark.shipping import ship_package
    ship_package(spark)
    kw = dict(n_ds=n_ds, dur_lo=dur_lo, dur_hi=dur_hi, dirty=False)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in CLIPS_SCHEMA.fields]
        for b in batches:
            rows: List[tuple] = []
            for i in b["id"]:
                m = row_meta(int(i), **kw)
                sr = m["sr_hz"]
                lead_ms, tail_ms = pad_ms(m)
                pcm = reference_pcm(m["clip_id"], sr, m["dur_ms"])
                padded = np.concatenate([
                    np.zeros(sr * lead_ms // 1000, np.float32), pcm,
                    np.zeros(sr * tail_ms // 1000, np.float32)])
                rows.append((m["clip_id"], bytearray(encode(padded, m["codec"])),
                             sr, m["dur_ms"] + lead_ms + tail_ms, m["codec"],
                             m["transcript"], m["ds"]))
            yield pd.DataFrame(rows, columns=cols)

    parts = partitions or max(spark.sparkContext.defaultParallelism, 8)
    return spark.range(0, n, numPartitions=parts).mapInPandas(synth, CLIPS_SCHEMA)


def gen_transcripts_ref(spark: SparkSession, n: int, dirty: bool = False,
                        n_ds: int = 7, dur_lo: int = 200, dur_hi: int = 3000,
                        partitions: Optional[int] = None) -> DataFrame:
    """T2 reference table (missing-ref rows dropped, orphans added)."""
    from drain3_spark.shipping import ship_package
    ship_package(spark)
    kw = dict(n_ds=n_ds, dur_lo=dur_lo, dur_hi=dur_hi, dirty=dirty)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for i in b["id"]:
                m = row_meta(int(i), **kw)
                if m["defect"] == "missing_ref":
                    continue
                rows.append((m["clip_id"], m["transcript"]))
                if m["defect"] == "orphan_ref":
                    rows.append((f"orphan-{m['i']:010d}", "orphan transcript"))
            yield pd.DataFrame(rows, columns=["clip_id", "transcript_ref"])

    parts = partitions or max(spark.sparkContext.defaultParallelism, 8)
    return spark.range(0, n, numPartitions=parts).mapInPandas(gen, REF_SCHEMA)


def gen_expected_violations(spark: SparkSession, n: int, n_ds: int = 7,
                            dur_lo: int = 200, dur_hi: int = 3000,
                            snr_min: float = 30.0,
                            dur_bounds=(100, 5000),
                            partitions: Optional[int] = None) -> DataFrame:
    """Golden violations table for the dirty fixture (exact-match target)."""
    from drain3_spark.shipping import ship_package
    ship_package(spark)
    kw = dict(n_ds=n_ds, dur_lo=dur_lo, dur_hi=dur_hi, dirty=True)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in VIOLATION_SCHEMA.fields]
        for b in batches:
            rows = []
            for i in b["id"]:
                v = expected_violation(row_meta(int(i), **kw), snr_min, dur_bounds)
                if v is not None:
                    rows.append(v)
            yield pd.DataFrame(rows, columns=cols)

    parts = partitions or max(spark.sparkContext.defaultParallelism, 8)
    return spark.range(0, n, numPartitions=parts).mapInPandas(gen, VIOLATION_SCHEMA)


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
    from drain3_spark.shipping import ship_package
    ship_package(spark)
    kw = dict(n_ds=n_ds, dur_lo=dur_lo, dur_hi=dur_hi,
              gain=gain, noise_amp=noise_amp)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in CLIPS_SCHEMA.fields]
        for b in batches:
            rows = [_synth_dup_row(dup_meta(int(i) * every, **kw))
                    for i in b["id"]]
            yield pd.DataFrame(rows, columns=cols)

    n_dups = (n + every - 1) // every
    parts = partitions or max(spark.sparkContext.defaultParallelism, 8)
    return (spark.range(0, n_dups, numPartitions=min(parts, max(n_dups, 1)))
            .mapInPandas(synth, CLIPS_SCHEMA))


def melody_meta(i: int, n_ds: int = 7, dur_lo: int = 2000,
                dur_hi: int = 4000) -> Dict:
    """Deterministic metadata for melody-corpus row ``i`` (ids
    ``mel-%010d`` — a separate namespace from the tone corpora, so
    fingerprint fixtures never collide with the near-dup ones)."""
    clip_id = f"mel-{i:010d}"
    h = int.from_bytes(hashlib.sha1(clip_id.encode()).digest()[:8], "big")
    return {"i": i, "clip_id": clip_id, "h": h,
            "ds": f"2026-08-{i % n_ds + 1:02d}",
            "sr_hz": _pick(SR_WEIGHTS, SR_CHOICES, (h >> 16) % 100),
            "dur_ms": dur_lo + ((h >> 8) % max(dur_hi - dur_lo, 1)),
            "codec": _pick(CODEC_WEIGHTS, CODEC_CHOICES, (h >> 24) % 100)}


def gen_clips_melody(spark: SparkSession, n: int, n_ds: int = 7,
                     dur_lo: int = 2000, dur_hi: int = 4000,
                     partitions: Optional[int] = None) -> DataFrame:
    """Melody corpus for the fingerprinting family: each clip is a
    deterministic note SEQUENCE (:func:`drain3_spark.audio.synth
    .melody_pcm`) — time-frequency structure a constellation hash can
    discriminate on, which the stationary-tone corpora lack."""
    from drain3_spark.audio.synth import melody_pcm
    from drain3_spark.shipping import ship_package
    ship_package(spark)
    kw = dict(n_ds=n_ds, dur_lo=dur_lo, dur_hi=dur_hi)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in CLIPS_SCHEMA.fields]
        for b in batches:
            rows = []
            for i in b["id"]:
                m = melody_meta(int(i), **kw)
                pcm = melody_pcm(m["clip_id"], m["sr_hz"], m["dur_ms"])
                rows.append((m["clip_id"],
                             bytearray(encode(pcm, m["codec"])),
                             m["sr_hz"], m["dur_ms"], m["codec"], "",
                             m["ds"]))
            yield pd.DataFrame(rows, columns=cols)

    parts = partitions or max(spark.sparkContext.defaultParallelism, 8)
    return spark.range(0, n, numPartitions=parts).mapInPandas(synth,
                                                              CLIPS_SCHEMA)


def fp_query_meta(i: int, every: int = 10, snip_ms: int = 1000,
                  frame_ms: int = 64, hop_ms: int = 32,
                  n_ds: int = 7, dur_lo: int = 2000,
                  dur_hi: int = 4000) -> Dict:
    """Ground truth for excerpt query ``i``: which melody clip it was
    cut from and at which STFT frame offset.  The excerpt start is
    snapped to the base clip's hop grid, so query frame j covers
    exactly the samples of base frame ``offset_frames + j`` and the
    match offset is EXACT (closed form for the q46 pin)."""
    base = melody_meta(i * every, n_ds=n_ds, dur_lo=dur_lo, dur_hi=dur_hi)
    sr = base["sr_hz"]
    frame = max(sr * frame_ms // 1000, 2)
    hop = max(sr * hop_ms // 1000, 1)
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
    from drain3_spark.audio.synth import melody_pcm
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
    from drain3_spark.audio.synth import melody_pcm
    from drain3_spark.shipping import ship_package
    ship_package(spark)
    n_pos = (n + every - 1) // every
    kw = dict(every=every, snip_ms=snip_ms, n_ds=n_ds,
              dur_lo=dur_lo, dur_hi=dur_hi)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in CLIPS_SCHEMA.fields]
        for b in batches:
            rows = []
            for i in b["id"]:
                i = int(i)
                if i < n_pos:
                    rows.append(_synth_fp_query_row(fp_query_meta(i, **kw)))
                else:
                    j = i - n_pos
                    cid = f"fpneg-{j:010d}"
                    h = int.from_bytes(
                        hashlib.sha1(cid.encode()).digest()[:8], "big")
                    sr = _pick(SR_WEIGHTS, SR_CHOICES, (h >> 16) % 100)
                    dur = 1000 + ((h >> 8) % 1000)
                    codec = _pick(CODEC_WEIGHTS, CODEC_CHOICES,
                                  (h >> 24) % 100)
                    pcm = melody_pcm(cid, sr, dur)
                    rows.append((cid, bytearray(encode(pcm, codec)), sr,
                                 dur, codec, "", f"2026-08-{j % n_ds + 1:02d}"))
            yield pd.DataFrame(rows, columns=cols)

    total = n_pos + n_negatives
    parts = partitions or max(spark.sparkContext.defaultParallelism, 8)
    return (spark.range(0, total, numPartitions=min(parts, max(total, 1)))
            .mapInPandas(synth, CLIPS_SCHEMA))
