"""Audio similarity / transformation operators (pipeline/audio_sim.py):
mel embeddings, MFCC, near-dup composition, resampling, silence trim."""

import numpy as np
import pytest

from drain3_spark import fixtures as FX
from drain3_spark.audio.codecs import decode, encode, snr_db
from drain3_spark.audio.synth import clip_params, reference_pcm
from drain3_spark.pipeline import audio_sim


def _embed_np(pcm, sr, n_mels=64, frame_ms=64, hop_ms=32,
              f_lo=100.0, f_hi=3500.0):
    E = audio_sim._mel_frames_many([np.asarray(pcm, np.float64)], sr,
                                   frame_ms, hop_ms, n_mels, f_lo, f_hi)[0]
    v = E.mean(axis=0)
    n = np.linalg.norm(v)
    return v / n if n else v


def test_audio_embedding_invariances():
    """Kernel-level: gain / codec / resample copies stay at cosine ~1,
    distinct clips decorrelate — the properties the near-dup operator
    is built on."""
    dup_cos, res_cos, embs = [], [], []
    rng = np.random.default_rng(11)
    for i in range(30):
        cid = f"clip-{i:010d}"
        p = clip_params(cid)
        sr, dur, codec = p["sr_hz"], max(p["dur_ms"] % 800, 300), p["codec"]
        pcm = reference_pcm(cid, sr, dur).astype(np.float64)
        e = _embed_np(pcm, sr)
        embs.append(e)
        # gain + codec round-trip + small noise
        pert = decode(encode(np.clip(0.9 * pcm, -1, 1).astype(np.float32),
                             codec), codec).astype(np.float64)
        pert = pert + 0.002 * rng.uniform(-1, 1, len(pert))
        dup_cos.append(float(e @ _embed_np(pert, sr)))
        # linear-interp resample to 8 kHz
        if sr != 8000:
            t_new = np.arange(int(len(pcm) * 8000 / sr)) / 8000.0
            t_old = np.arange(len(pcm)) / float(sr)
            res_cos.append(float(e @ _embed_np(
                np.interp(t_new, t_old, pcm), 8000)))
    assert min(dup_cos) > 0.9995, min(dup_cos)
    assert min(res_cos) > 0.9995, min(res_cos)
    E = np.array(embs)
    G = E @ E.T
    iu = np.triu_indices(len(embs), 1)
    # most distinct pairs are decorrelated; the exceptions are clips
    # whose tones genuinely share a mel band (true spectral near-dups)
    assert float((G[iu] < 0.9).mean()) > 0.9


def test_audio_near_dup_planted(spark):
    """Planted perturbed duplicates are all found; the operator's output
    matches a numpy brute force over the same embeddings (exact
    cosines, candidate-bounded recall >= 0.9)."""
    n, every = 60, 10
    clips = FX.gen_clips(spark, n, dirty=False, dur_lo=250, dur_hi=600)
    dups = FX.gen_clip_dups(spark, n, every=every, dur_lo=250, dur_hi=600)
    corpus = clips.unionByName(dups)

    th = 0.999
    got = {(r.clip_id_a, r.clip_id_b): r.cosine
           for r in audio_sim.audio_near_dup_pairs(
               corpus, threshold=th).collect()}

    # numpy brute force over the SAME embeddings (same 6-dp rounding)
    emb = {r.clip_id: np.array(r.embedding)
           for r in audio_sim.audio_embeddings(corpus).collect()
           if r.embedding is not None}
    ids = sorted(emb)
    truth = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            c = round(float(emb[a] @ emb[b]), 6)
            if c >= th:
                truth[(a, b)] = c
    planted = {(f"clip-{i:010d}", f"dup-{i:010d}") for i in range(0, n, every)}

    assert planted <= set(truth)                      # dups survive threshold
    assert planted <= set(got)                        # ...and are found
    assert set(got) <= set(truth)                     # precision 1
    assert len(got) >= 0.9 * len(truth)               # multi-probe recall
    for k, v in got.items():
        assert abs(v - truth[k]) <= 1e-6              # exact cosines


def test_audio_mfcc_gain_invariance(spark):
    """Gain moves only MFCC c0 (log-energy offset on the DCT constant
    basis); c1.. are invariant."""
    rows = []
    for i in range(4):
        cid = f"m-{i}"
        pcm = reference_pcm(f"clip-{i:010d}", 16000, 400)
        for tag, g in (("a", 1.0), ("b", 0.25)):
            rows.append((f"{cid}{tag}",
                         bytearray(encode((g * pcm).astype(np.float32),
                                          "pcm_f32le")),
                         16000, 400, "pcm_f32le"))
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string")
    got = {r.clip_id: np.array(r.mfcc)
           for r in audio_sim.audio_mfcc(df).collect()}
    for i in range(4):
        a, b = got[f"m-{i}a"], got[f"m-{i}b"]
        assert np.allclose(a[1:], b[1:], atol=1e-9)
        assert abs(a[0] - b[0]) > 1.0        # c0 carries the gain offset


def test_audio_mfcc_orders_spectral_content(spark):
    """A low tone and a high tone produce distinct MFCC vectors while
    two encodings of the same tone agree — MFCCs track content."""
    sr = 16000
    t = np.arange(sr // 2) / sr
    low = (0.7 * np.sin(2 * np.pi * 200 * t)).astype(np.float32)
    high = (0.7 * np.sin(2 * np.pi * 2000 * t)).astype(np.float32)
    rows = [("low", bytearray(encode(low, "pcm_s16le")), sr, 500, "pcm_s16le"),
            ("low2", bytearray(encode(low, "pcm_f32le")), sr, 500, "pcm_f32le"),
            ("high", bytearray(encode(high, "pcm_s16le")), sr, 500, "pcm_s16le")]
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string")
    got = {r.clip_id: np.array(r.mfcc)
           for r in audio_sim.audio_mfcc(df).collect()}
    same = np.linalg.norm(got["low"] - got["low2"])
    diff = np.linalg.norm(got["low"] - got["high"])
    # log-mel hears the codec noise floor (s16 vs f32), so same-content
    # distance is nonzero — but content distance dominates it
    assert diff > 3 * same > 0.0, (same, diff)


def test_resample_preserves_content(spark):
    """Resampled clips keep their spectral content: embedding cosine
    vs the original ~1 for every clip, and a float-codec clip decodes
    at SNR >= 30 dB against an analytic resample."""
    clips = FX.gen_clips(spark, 30, dirty=False, dur_lo=250, dur_hi=600)
    rs = audio_sim.resample_clips(clips, 8000)
    out = {r.clip_id: r for r in rs.collect()}
    assert set(out) == {f"clip-{i:010d}" for i in range(30)}
    assert all(r.sr_hz == 8000 for r in out.values())

    e_orig = {r.clip_id: np.array(r.embedding)
              for r in audio_sim.audio_embeddings(clips).collect()}
    e_rs = {r.clip_id: np.array(r.embedding)
            for r in audio_sim.audio_embeddings(rs).collect()}
    cos = [float(e_orig[c] @ e_rs[c]) for c in e_orig]
    assert min(cos) > 0.999, min(cos)

    # exact-content check on a clean float clip
    pcm = reference_pcm("clip-0000000042", 16000, 500)
    df = spark.createDataFrame(
        [("x", bytearray(encode(pcm, "pcm_f32le")), 16000, 500, "pcm_f32le")],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string")
    row = audio_sim.resample_clips(df, 8000).collect()[0]
    got = decode(bytes(row.bytes), "pcm_f32le").astype(np.float64)
    t_new = np.arange(len(got)) / 8000.0
    t_old = np.arange(len(pcm)) / 16000.0
    want = np.interp(t_new, t_old, pcm.astype(np.float64))
    assert snr_db(want, got) >= 30.0
    assert row.dur_ms == 500
    # same-rate clips pass through byte-identical
    same = audio_sim.resample_clips(df, 16000).collect()[0]
    assert bytes(same.bytes) == bytes(encode(pcm, "pcm_f32le"))


def test_trim_silence(spark):
    sr = 16000
    t = np.arange(int(sr * 0.3)) / sr
    tone = 0.6 * np.sin(2 * np.pi * 440 * t)
    pcm = np.concatenate([np.zeros(int(sr * 0.10)), tone,
                          np.zeros(int(sr * 0.15))]).astype(np.float32)
    silent = np.zeros(int(sr * 0.2), dtype=np.float32)
    df = spark.createDataFrame(
        [("padded", bytearray(encode(pcm, "pcm_f32le")), sr, 550, "pcm_f32le"),
         ("silent", bytearray(encode(silent, "pcm_f32le")), sr, 200,
          "pcm_f32le")],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string")
    got = {r.clip_id: r for r in audio_sim.trim_silence(df).collect()}

    p = got["padded"]
    assert abs(p.trimmed_lead_ms - 100) <= 20
    assert abs(p.trimmed_tail_ms - 150) <= 20
    assert abs(p.dur_ms - 300) <= 40
    kept = decode(bytes(p.bytes), "pcm_f32le").astype(np.float64)
    lead = int(sr * p.trimmed_lead_ms / 1000)
    want = pcm.astype(np.float64)[lead:lead + len(kept)]
    assert snr_db(want, kept) >= 60.0       # pure slice, float codec

    s = got["silent"]                       # all-silent: one frame kept
    assert s.dur_ms == 20
    assert s.trimmed_lead_ms + s.trimmed_tail_ms + s.dur_ms == 200


def test_audio_near_dup_blas_matches_catalyst(spark):
    """The audio near-dup's BLAS scale path returns the same pairs as
    the Catalyst expression path (cosines to float tolerance)."""
    clips = FX.gen_clips(spark, 40, dirty=False, dur_lo=250, dur_hi=600)
    dups = FX.gen_clip_dups(spark, 40, every=10, dur_lo=250, dur_hi=600)
    corpus = clips.unionByName(dups)
    cat = {(r.clip_id_a, r.clip_id_b): r.cosine
           for r in audio_sim.audio_near_dup_pairs(corpus, 0.999).collect()}
    blas = {(r.clip_id_a, r.clip_id_b): r.cosine
            for r in audio_sim.audio_near_dup_pairs(
                corpus, 0.999, method="blas").collect()}
    assert set(cat) == set(blas) and cat
    assert all(abs(cat[k] - blas[k]) <= 1e-6 for k in cat)


def test_mel_frames_many_matches_single():
    """A many-clip mel stack matches one-clip stacks to float
    rounding (pocketfft's cross-transform vectorization reorders
    additions by batch shape), across lengths incl. sub-frame clips
    needing padding."""
    rng = np.random.default_rng(5)
    for sr in (8000, 44100):
        pcms = [rng.uniform(-1, 1, n) for n in (100, 700, 5000, 16000)]
        E, counts = audio_sim._mel_frames_many(pcms, sr, 64, 32, 64,
                                               100.0, 3500.0)
        pos = 0
        for pcm, nf in zip(pcms, counts):
            single = audio_sim._mel_frames_many([pcm], sr, 64, 32, 64,
                                                100.0, 3500.0)[0]
            assert single.shape[0] == nf
            assert np.allclose(E[pos:pos + nf], single,
                               rtol=1e-12, atol=1e-12)
            pos += nf
        assert pos == E.shape[0]


def test_audio_incremental_equals_full_cross_pairs(spark):
    """Incremental dedup of a new batch against the corpus index finds
    exactly the cross-pairs the one-shot operator finds over the
    union (restricted to new x old)."""
    corpus = FX.gen_clips(spark, 40, dirty=False, dur_lo=250, dur_hi=600)
    # batch: 10 fresh clips + planted dups of corpus clips 0,10,20,30
    fresh = FX.gen_clips(spark, 50, dirty=False, dur_lo=250,
                         dur_hi=600).filter("clip_id >= 'clip-0000000040'")
    dups = FX.gen_clip_dups(spark, 40, every=10, dur_lo=250, dur_hi=600)
    batch = fresh.unionByName(dups)

    idx = audio_sim.audio_embedding_index(corpus)
    got = {(r.new_id, r.old_id): r.cosine
           for r in audio_sim.audio_incremental_duplicates(
               batch, idx, threshold=0.999).collect()}

    full = audio_sim.audio_near_dup_pairs(
        corpus.unionByName(batch), threshold=0.999).collect()
    corpus_ids = {f"clip-{i:010d}" for i in range(40)}
    want = {}
    for r in full:
        a, b = r.clip_id_a, r.clip_id_b
        if (a in corpus_ids) != (b in corpus_ids):     # cross pairs only
            new, old = (b, a) if a in corpus_ids else (a, b)
            want[(new, old)] = r.cosine
    assert set(got) == set(want)
    planted = {(f"dup-{i:010d}", f"clip-{i:010d}") for i in range(0, 40, 10)}
    assert planted <= set(got)
    for k in got:
        assert abs(got[k] - want[k]) <= 1e-6


def test_audio_incremental_two_batches_equal_one_shot(spark):
    """Index maintenance: dedup batch1 against the corpus index, append
    batch1's index rows, and dedup again — the appended index answers
    exactly like a one-shot index over corpus + batch1."""
    corpus = FX.gen_clips(spark, 20, dirty=False, dur_lo=250, dur_hi=600)
    b1 = FX.gen_clip_dups(spark, 20, every=10, dur_lo=250,
                          dur_hi=600)            # dup-0, dup-10 (both dups)
    idx = audio_sim.audio_embedding_index(corpus)

    r1 = audio_sim.audio_incremental_duplicates(b1, idx, 0.999).collect()
    dup_new_ids = {r.new_id for r in r1}
    assert dup_new_ids == {"dup-0000000000", "dup-0000000010"}

    def pairs(index):
        return {(r.new_id, r.old_id) for r in
                audio_sim.audio_incremental_duplicates(b1, index, 0.999)
                .collect()}

    appended = idx.unionByName(audio_sim.audio_embedding_index(b1))
    oneshot = audio_sim.audio_embedding_index(corpus.unionByName(b1))
    got = pairs(appended)
    assert got == pairs(oneshot)
    # self-matches are filtered, so the clip-base pairs remain
    assert {("dup-0000000000", "clip-0000000000"),
            ("dup-0000000010", "clip-0000000010")} <= got


def test_normalize_gain(spark):
    sr = 16000
    t = np.arange(sr // 2) / sr
    quiet = (0.05 * np.sin(2 * np.pi * 300 * t)).astype(np.float32)
    loud = (0.9 * np.sin(2 * np.pi * 300 * t)).astype(np.float32)
    silent = np.zeros(sr // 4, dtype=np.float32)
    df = spark.createDataFrame(
        [("quiet", bytearray(encode(quiet, "pcm_f32le")), sr, 500, "pcm_f32le"),
         ("loud", bytearray(encode(loud, "pcm_f32le")), sr, 500, "pcm_f32le"),
         ("silent", bytearray(encode(silent, "pcm_f32le")), sr, 250,
          "pcm_f32le")],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string")
    got = {r.clip_id: r
           for r in audio_sim.normalize_gain(df, target_rms=0.1).collect()}
    for cid in ("quiet", "loud"):
        pcm = decode(bytes(got[cid].bytes), "pcm_f32le").astype(np.float64)
        assert abs(float(np.sqrt(np.mean(pcm ** 2))) - 0.1) < 1e-3, cid
    assert got["quiet"].gain_db > 0 and got["loud"].gain_db < 0
    s = got["silent"]
    assert s.gain_db == 0.0
    assert np.all(decode(bytes(s.bytes), "pcm_f32le") == 0.0)


def test_denoise_clips(spark):
    """Wiener-mask denoise improves SNR on noisy clips and leaves
    near-clean clips unharmed, through the Spark path."""
    sr = 16000
    t = np.arange(sr // 2) / sr
    rng = np.random.default_rng(3)
    clean = (0.6 * np.sin(2 * np.pi * 440 * t))
    noisy = (clean + 0.05 * rng.standard_normal(len(t))).astype(np.float32)
    pure = (0.8 * np.sin(2 * np.pi * 700 * t)).astype(np.float32)
    df = spark.createDataFrame(
        [("noisy", bytearray(encode(noisy, "pcm_f32le")), sr, 500,
          "pcm_f32le"),
         ("pure", bytearray(encode(pure, "pcm_f32le")), sr, 500,
          "pcm_f32le")],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string")
    got = {r.clip_id: decode(bytes(r.bytes), "pcm_f32le").astype(np.float64)
           for r in audio_sim.denoise_clips(df).collect()}

    before = snr_db(clean, noisy.astype(np.float64))
    after = snr_db(clean, got["noisy"])
    assert after >= before + 3.0, (before, after)   # measured ~+5 dB
    # a clean tone passes through at high fidelity
    assert snr_db(pure.astype(np.float64), got["pure"]) >= 40.0
    # kernel parity: the Spark path equals the local kernel bit-for-bit
    local = np.clip(audio_sim._wiener_denoise(
        noisy.astype(np.float64), sr), -1, 1).astype(np.float32)
    assert np.array_equal(got["noisy"].astype(np.float32), local)


def test_audio_lsh_hot_band_bounded(spark):
    """Pathological corpus for a top-mel-band key: every clip's
    dominant tone sits in the SAME mel band (hot band), secondary
    content differs per clip.  A peak key would pile the whole corpus
    into one bucket (occupancy n -> quadratic candidate work at scale);
    LSH blocking spreads it across signatures (per-bucket occupancy
    bounded) while the planted true duplicate is still found."""
    sr, n = 16000, 120
    t = np.arange(sr * 4 // 10) / sr                   # 400 ms
    rows = []
    rng = np.random.default_rng(3)
    for i in range(n):
        # dominant 1 kHz tone (one mel band) + per-clip secondary tone
        f2 = 150.0 + 3200.0 * (i / n)
        pcm = (np.sin(2 * np.pi * 1000.0 * t)
               + 0.7 * np.sin(2 * np.pi * f2 * t + rng.uniform(0, 1)))
        pcm = (0.5 * pcm / np.abs(pcm).max()).astype(np.float32)
        rows.append((f"hot-{i:04d}", bytearray(encode(pcm, "pcm_f32le")),
                     sr, 400, "pcm_f32le"))
    # planted duplicate of clip 0: gain change only
    base0 = decode(bytes(rows[0][1]), "pcm_f32le")
    rows.append(("hot-dup0", bytearray(encode((0.8 * base0).astype(np.float32),
                                              "pcm_f32le")), sr, 400,
                 "pcm_f32le"))
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string")

    from pyspark.sql import functions as F

    idx = audio_sim.audio_embedding_index(df)
    lsh_occ = int(idx.groupBy("bucket").count().agg(
        {"count": "max"}).collect()[0][0])
    # LSH spreads the hot band across 2^16-key signatures per band
    assert lsh_occ <= n // 4, lsh_occ

    # candidate work is bounded accordingly: the same-bucket pair count
    # is a small fraction of the all-pairs count a one-bucket key gives
    a = idx.select(F.col("clip_id").alias("a"), "bucket")
    b = idx.select(F.col("clip_id").alias("b"), "bucket")
    n_lsh = (a.join(b, "bucket").filter(F.col("a") < F.col("b"))
             .select("a", "b").distinct().count())
    all_pairs = (n + 1) * n // 2               # 121 clips incl. the dup
    assert n_lsh <= all_pairs // 4, (n_lsh, all_pairs)

    # the true duplicate survives LSH blocking and the exact verify
    got = {(r.clip_id_a, r.clip_id_b)
           for r in audio_sim.audio_near_dup_pairs(df, 0.999).collect()}
    assert ("hot-0000", "hot-dup0") in got


def test_segment_clips_sample_exact(spark):
    """Segments are sample-exact slices of the decoded clip, and the
    window/hop/tail arithmetic matches a local replay."""
    from drain3_spark import fixtures as FX
    from drain3_spark.audio.codecs import decode
    from drain3_spark.audio.synth import reference_pcm
    from drain3_spark.pipeline.audio_sim import segment_clips

    clips = FX.gen_clips(spark, 40)
    segs = segment_clips(clips, win_ms=500, hop_ms=400, min_tail_ms=200)
    rows = segs.collect()
    assert rows

    per_clip = {}
    for r in rows:
        per_clip.setdefault(r.clip_id, []).append(r)
    for cid, rs in per_clip.items():
        m = FX.row_meta(int(cid.split("-")[1]))
        sr, dur = m["sr_hz"], m["dur_ms"]
        pcm = reference_pcm(cid, sr, dur)
        # re-encode the original the way the fixture did, then decode —
        # the segment slices must equal slices of THIS decoded signal
        from drain3_spark.audio.codecs import encode
        base = decode(encode(pcm, m["codec"]), m["codec"])
        n = len(base)
        win, hop = int(round(sr * 0.5)), int(round(sr * 0.4))
        expected = []
        k = 0
        while True:
            lo = int(round(sr * k * 400 / 1000.0))
            if lo >= n:
                break
            hi = min(lo + win, n)
            seg_ms = int(round((hi - lo) * 1000.0 / sr))
            if hi < lo + win and seg_ms < 200:
                break
            expected.append((k, lo, hi, seg_ms))
            if hi >= n:
                break
            k += 1
        assert sorted(r.seg_idx for r in rs) == [e[0] for e in expected], cid
        for r in rs:
            k, lo, hi, seg_ms = expected[r.seg_idx]
            assert r.seg_id == f"{cid}#{k}"
            assert r.dur_ms == seg_ms
            assert r.t0_ms == int(round(lo * 1000.0 / sr))
            got = decode(bytes(r.bytes), r.codec)
            # pcm/companded codecs re-encode losslessly on their own
            # quantization lattice, so the slice is bit-exact
            assert np.array_equal(got, base[lo:hi]), (cid, k)


def test_segment_clips_short_and_undecodable(spark):
    from drain3_spark.audio.codecs import encode
    from drain3_spark.pipeline.audio_sim import segment_clips
    from drain3_spark.util import local_df
    sr = 8000
    tiny = encode(np.zeros(sr // 10, dtype=np.float32), "pcm_s16le")  # 100ms
    rows = [("ok", bytearray(encode(np.ones(sr, dtype=np.float32) * 0.1,
                                    "pcm_s16le")), sr, 1000, "pcm_s16le"),
            ("short", bytearray(tiny), sr, 100, "pcm_s16le"),
            ("junk", bytearray(b"\x01\x02"), sr, 1000, "wav")]
    df = local_df(spark, rows, "clip_id string, bytes binary, sr_hz int, "
                               "dur_ms int, codec string")
    got = segment_clips(df, win_ms=500, hop_ms=400,
                        min_tail_ms=200).collect()
    ids = {r.clip_id for r in got}
    assert ids == {"ok"}          # short: below min_tail; junk: dropped
    assert sorted(r.seg_idx for r in got) == [0, 1, 2]  # 0-500,400-900,800-1000


def test_spec_augment_matches_local_replay(spark):
    """Spark SpecAugment == a cell-for-cell local replay: same decode,
    same mel kernel, same seeded mask geometry; masked rows/columns are
    exactly zero and re-running with another seed moves the masks."""
    from drain3_spark import fixtures as FX
    from drain3_spark.audio.codecs import decode, encode
    from drain3_spark.audio.synth import reference_pcm
    from drain3_spark.pipeline.audio_sim import (_augment_geometry,
                                                 _mel_frames_many,
                                                 spec_augment)

    clips = FX.gen_clips(spark, 12, dur_lo=250, dur_hi=500, partitions=2)
    rows = {r.clip_id: r for r in spec_augment(clips, seed=17).collect()}
    assert len(rows) == 12

    for i in range(12):
        m = FX.row_meta(i, dur_lo=250, dur_hi=500)
        cid = m["clip_id"]
        pcm = decode(encode(reference_pcm(cid, m["sr_hz"], m["dur_ms"]),
                            m["codec"]), m["codec"]).astype(np.float64)
        E = _mel_frames_many([pcm], m["sr_hz"], 64, 32, 64, 100.0,
                             3500.0)[0]
        L = np.log(E + 1e-12)
        t_masks, f_masks = _augment_geometry(cid, 17, len(L), 64, 2, 10, 2, 8)
        for s, w in t_masks:
            L[s:s + w, :] = 0.0
        for s, w in f_masks:
            L[:, s:s + w] = 0.0
        got = np.array(rows[cid].features)
        assert got.shape == L.shape
        assert np.allclose(got, L, atol=1e-9), cid
        # masked regions are exactly zero
        for s, w in f_masks:
            assert not got[:, s:s + w].any() or w == 0
    # a different seed produces different masks somewhere in the corpus
    rows31 = {r.clip_id: r for r in spec_augment(clips, seed=31).collect()}
    assert any(not np.allclose(np.array(rows31[c].features),
                               np.array(rows[c].features))
               for c in rows)


def test_sinc_resample_rejects_aliases(spark):
    """Downsampling content above the target Nyquist: the windowed-sinc
    method suppresses it (>25 dB below the linear method's aliased
    copy), while in-band content survives at high SNR and the linear
    default's behavior is unchanged."""
    from drain3_spark.audio.codecs import encode as enc
    from drain3_spark.pipeline.audio_sim import (resample_clips,
                                                 sinc_resample_kernel)

    fs, tsr = 48000, 16000
    t = np.arange(fs) / fs
    hi = (0.5 * np.sin(2 * np.pi * 10000 * t)).astype(np.float32)  # >8k
    lo = (0.5 * np.sin(2 * np.pi * 3000 * t)).astype(np.float32)   # <8k
    schema = ("clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string")
    clips = spark.createDataFrame(
        [("hi", bytearray(enc(hi, "pcm_f32le")), fs, 1000, "pcm_f32le"),
         ("lo", bytearray(enc(lo, "pcm_f32le")), fs, 1000, "pcm_f32le")],
        schema)

    def rms_db(x):
        x = np.asarray(x, dtype=np.float64)
        return 10 * np.log10(np.mean(x ** 2) + 1e-20)

    got_sinc = {r.clip_id: decode(bytes(r.bytes), "pcm_f32le")
                for r in resample_clips(clips, tsr, method="sinc").collect()}
    got_lin = {r.clip_id: decode(bytes(r.bytes), "pcm_f32le")
               for r in resample_clips(clips, tsr).collect()}
    # the 10 kHz tone must be suppressed by sinc, passed (aliased) by linear
    assert rms_db(got_lin["hi"]) > -12.0
    assert rms_db(got_sinc["hi"]) < rms_db(got_lin["hi"]) - 25.0
    # in-band content survives sinc at high SNR vs the analytic signal
    y = got_sinc["lo"]
    ref = 0.5 * np.sin(2 * np.pi * 3000 * np.arange(len(y)) / tsr)
    err = y[100:-100] - ref[100:-100]
    snr = 10 * np.log10(np.mean(ref[100:-100] ** 2) / np.mean(err ** 2))
    assert snr > 40.0, snr
    # spark path == local kernel bit-for-bit
    np.testing.assert_array_equal(
        got_sinc["hi"], sinc_resample_kernel(hi.astype(np.float64), fs, tsr))

    import pytest
    with pytest.raises(ValueError):
        resample_clips(clips, tsr, method="cubic")


def test_sinc_resample_heavy_ratio_rejection():
    """The kernel width scales with the decimation ratio: at 6:1
    (48k->8k) out-of-band rejection must hold (~-31 dB before the
    ratio scaling, ~-47 dB after), and the passband must survive."""
    from drain3_spark.pipeline.audio_sim import sinc_resample_kernel

    fs, tsr = 48000, 8000
    t = np.arange(fs) / fs

    def rms_db(y):
        y = np.asarray(y, dtype=np.float64)
        return 10 * np.log10(np.mean(y ** 2) + 1e-20)

    hi = 0.5 * np.sin(2 * np.pi * 6000 * t)   # above the 4 kHz Nyquist
    rej = rms_db(sinc_resample_kernel(hi, fs, tsr)) - rms_db(hi)
    assert rej < -40.0, rej
    lo = 0.5 * np.sin(2 * np.pi * 2000 * t)
    y = sinc_resample_kernel(lo, fs, tsr)
    ref = 0.5 * np.sin(2 * np.pi * 2000 * np.arange(len(y)) / tsr)
    err = y[100:-100] - ref[100:-100]
    snr = 10 * np.log10(np.mean(ref[100:-100] ** 2) / np.mean(err ** 2))
    assert snr > 40.0, snr
