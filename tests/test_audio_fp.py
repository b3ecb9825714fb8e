"""Audio fingerprinting (constellation hashing + query-by-excerpt).

The Spark operator is pinned against the local kernel
(``fingerprint_kernel`` is the single source of truth both replay),
and retrieval quality is pinned against the melody fixture's planted
ground truth (``fp_query_meta``)."""

import numpy as np
import pytest

from drain3_spark import fixtures as FX
from drain3_spark.audio.codecs import decode, encode
from drain3_spark.audio.synth import melody_pcm
from drain3_spark.pipeline.audio_fp import (audio_fingerprints,
                                            fingerprint_kernel,
                                            fingerprint_matches)


def _decoded_melody(i):
    m = FX.melody_meta(i)
    raw = melody_pcm(m["clip_id"], m["sr_hz"], m["dur_ms"])
    return m, decode(encode(raw, m["codec"]), m["codec"]).astype(np.float64)


def test_fingerprint_kernel_deterministic_and_packed():
    m, pcm = _decoded_melody(0)
    h1, t1 = fingerprint_kernel(pcm, m["sr_hz"])
    h2, t2 = fingerprint_kernel(pcm.copy(), m["sr_hz"])
    assert np.array_equal(h1, h2) and np.array_equal(t1, t2)
    assert len(h1) > 50                       # melodies are hash-dense
    assert int(h1.max()) < 1 << 24            # 24-bit pack
    assert int(t1.min()) >= 0


def test_fingerprint_spark_matches_kernel(spark):
    """The mapInArrow pass emits exactly the kernel's rows, clip by
    clip (decode included)."""
    n = 12
    fps = (audio_fingerprints(FX.gen_clips_melody(spark, n))
           .groupBy("clip_id")
           .agg({"hash": "count"})
           .withColumnRenamed("count(hash)", "n_hashes"))
    got = {r.clip_id: r.n_hashes for r in fps.collect()}
    for i in range(n):
        m, pcm = _decoded_melody(i)
        h, _ = fingerprint_kernel(pcm, m["sr_hz"])
        assert got[m["clip_id"]] == len(h), m["clip_id"]


def test_fingerprint_spark_rows_exact(spark):
    """Full row-level equality on a few clips, not just counts."""
    n = 4
    fps = audio_fingerprints(FX.gen_clips_melody(spark, n))
    got = {(r.clip_id, r.hash, r.t) for r in fps.collect()}
    want = set()
    for i in range(n):
        m, pcm = _decoded_melody(i)
        h, t = fingerprint_kernel(pcm, m["sr_hz"])
        want |= {(m["clip_id"], int(hh), int(tt)) for hh, tt in zip(h, t)}
    assert got == want


def test_fingerprint_matches_planted_excerpts(spark):
    """Every planted excerpt retrieves its base clip at the EXACT
    planted frame offset; none of the out-of-corpus negatives match."""
    n, every = 120, 10
    idx = audio_fingerprints(FX.gen_clips_melody(spark, n))
    qfp = audio_fingerprints(FX.gen_fp_queries(spark, n, every=every,
                                               n_negatives=6))
    rows = {r.query_id: r for r in fingerprint_matches(qfp, idx).collect()}
    n_pos = (n + every - 1) // every
    for i in range(n_pos):
        qm = FX.fp_query_meta(i, every=every)
        r = rows.get(qm["clip_id"])
        assert r is not None, f"missed {qm['clip_id']}"
        assert r.match_id == qm["base_clip_id"]
        assert r.offset_frames == qm["offset_frames"]
        assert r.vote_frac >= 0.7
    assert not [q for q in rows if q.startswith("fpneg-")]


def test_fingerprint_negative_margin(spark):
    """With thresholds disabled, the negatives' best accidental
    alignment stays clearly under the decision line (the measured
    margin the default min_vote_frac=0.7 rests on)."""
    idx = audio_fingerprints(FX.gen_clips_melody(spark, 120))
    qfp = audio_fingerprints(
        FX.gen_fp_queries(spark, 120, every=10, n_negatives=8)
        .filter("clip_id like 'fpneg-%'"))
    rows = fingerprint_matches(qfp, idx, min_votes=1,
                               min_vote_frac=0.0).collect()
    assert rows, "negatives should still produce unthresholded rows"
    assert max(r.vote_frac for r in rows) < 0.6


def test_fingerprint_df_cap_drops_hot_hashes(spark):
    """A hash whose index document-frequency exceeds df_cap votes for
    nobody — and leaves the vote_frac denominator on the query side."""
    idx_rows = ([(f"c{i:03d}", 777, 5) for i in range(5)]     # hot: df=5
                + [("c000", 42, 9), ("c000", 43, 11)])        # informative
    q_rows = [("q0", 777, 1), ("q0", 42, 3), ("q0", 43, 5)]
    idx = spark.createDataFrame(idx_rows, "clip_id string, hash long, t int")
    q = spark.createDataFrame(q_rows, "clip_id string, hash long, t int")
    r = fingerprint_matches(q, idx, min_votes=1, min_vote_frac=0.0,
                            df_cap=4).collect()
    assert len(r) == 1
    assert r[0].match_id == "c000"
    assert r[0].votes == 2 and r[0].q_hashes == 2      # 777 gone both sides
    assert r[0].offset_frames == 6
    assert r[0].vote_frac == 1.0


def test_fingerprint_undecodable_payload_yields_no_rows(spark):
    clips = FX.gen_clips_melody(spark, 3).limit(0).unionByName(
        spark.createDataFrame(
            [("bad-1", bytearray(b"\x00\x01"), 16000, 100, "pcm_f32le",
              "", "2026-08-01")],
            "clip_id string, bytes binary, sr_hz int, dur_ms int, "
            "codec string, transcript string, ds string"))
    assert audio_fingerprints(clips).count() == 0


def test_update_fingerprint_index_two_batches_equal_one_shot(spark):
    """Index appended across two ingest batches answers a query
    exactly like a one-shot index over the union."""
    b1 = FX.gen_clips_melody(spark, 40)
    b2 = FX.gen_clips_melody(spark, 80).filter(
        "clip_id >= 'mel-0000000040'")
    fp1, fp2 = audio_fingerprints(b1), audio_fingerprints(b2)
    oneshot = audio_fingerprints(FX.gen_clips_melody(spark, 80))
    merged = fp1.unionByName(fp2)
    q = audio_fingerprints(FX.gen_fp_queries(spark, 80, every=10,
                                             n_negatives=0))
    a = sorted(tuple(r) for r in fingerprint_matches(q, merged).collect())
    b = sorted(tuple(r) for r in fingerprint_matches(q, oneshot).collect())
    assert a == b and len(a) == 8


def test_fingerprint_index_bucketed_scan_no_exchange(spark, tmp_path):
    """The persisted index asset is hash-bucketed: loading it back gives
    a scan already clustered on the join/agg key, so (a) the df-cap
    aggregate plans with NO Exchange at all, (b) the retrieval join
    shuffles ONLY the query side, and (c) retrieval results equal the
    in-memory-index run."""
    from pyspark.sql import functions as F
    from drain3_spark.pipeline.assets import write_index_asset

    n, every = 60, 15
    fps = audio_fingerprints(FX.gen_clips_melody(spark, n))
    write_index_asset(fps, str(tmp_path / "fp_idx"), "fp_idx_bucket_test",
                      ["hash"], buckets=8)
    try:
        idx = spark.table("fp_idx_bucket_test")

        # (a) groupBy on the bucket key: zero Exchange
        agg_plan = (idx.groupBy("hash").agg(F.count("*").alias("df"))
                    ._jdf.queryExecution().executedPlan().toString())
        assert "Exchange" not in agg_plan, agg_plan

        # (b) join on the bucket key: exactly one Exchange (query side)
        qfp = audio_fingerprints(FX.gen_fp_queries(spark, n, every=every,
                                                   n_negatives=4))
        join_plan = (qfp.join(idx, "hash")
                     ._jdf.queryExecution().executedPlan().toString())
        assert join_plan.count("Exchange") == 1, join_plan

        # (c) end-to-end retrieval over the loaded index == in-memory run
        got = {(r.query_id, r.match_id)
               for r in fingerprint_matches(qfp, idx).collect()}
        ref = {(r.query_id, r.match_id)
               for r in fingerprint_matches(qfp, fps).collect()}
        assert got == ref and got
    finally:
        spark.sql("drop table if exists fp_idx_bucket_test")
