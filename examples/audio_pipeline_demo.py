"""End-to-end audio training-data pipeline demo: validate -> dedup ->
normalize -> feature-extract, all on a synthesized clip corpus with
planted near-duplicates.

1. validate: the full check family (row-local, uniqueness, referential,
   audio decode SNR, drift) over a dirty corpus;
2. near-dup detection: mel-spectral embeddings + spectral-peak blocked
   exact-cosine pairs, then connected components -> keeper per group;
3. incremental maintenance: a second ingest batch deduped against the
   kept corpus's embedding index (no corpus re-decode);
4. transformations: resample the keepers to 16 kHz, denoise,
   loudness-normalize, trim silence;
5. features: spectral stats + MFCCs for the final corpus.

Run: python examples/audio_pipeline_demo.py
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from drain3_spark import fixtures as FX
from drain3_spark.pipeline.audio_sim import (audio_embedding_index,
                                             audio_incremental_duplicates,
                                             audio_mfcc, audio_near_dup_pairs,
                                             denoise_clips, normalize_gain,
                                             resample_clips, trim_silence)
from drain3_spark.pipeline.dedup import connected_components
from drain3_spark.pipeline.multimodal import audio_spectral_features
from drain3_spark.session import get_spark
from drain3_spark.validation.runner import ValidationConfig, ValidationEngine


def main() -> None:
    spark = get_spark("audio_pipeline_demo", master="local[8]",
                      shuffle_partitions=16)

    # -- 1. validate a dirty corpus --------------------------------
    clips = FX.gen_clips(spark, 300, dirty=True, dur_lo=250, dur_hi=600)
    ref = FX.gen_transcripts_ref(spark, 300, dirty=True, dur_lo=250,
                                 dur_hi=600)
    report = ValidationEngine(ValidationConfig()).validate(clips, ref)
    print("== violations by check ==")
    report.violations.groupBy("check").count().orderBy("check").show()

    # -- 2. near-dup -> groups -> keepers --------------------------
    clean = FX.gen_clips(spark, 200, dirty=False, dur_lo=250, dur_hi=600)
    dups = FX.gen_clip_dups(spark, 200, every=10, dur_lo=250, dur_hi=600)
    corpus = clean.unionByName(dups)
    pairs = audio_near_dup_pairs(corpus, threshold=0.999)
    pairs.cache()
    print(f"== near-dup pairs: {pairs.count()} "
          f"(20 planted + natural same-band tones) ==")
    groups = connected_components(pairs, id_a="clip_id_a", id_b="clip_id_b")
    keepers = groups.groupBy("group_id").agg(F.min("id").alias("clip_id"))
    dropped = groups.count() - keepers.count()
    kept = corpus.join(groups.select(F.col("id").alias("clip_id"),
                                     "group_id"), "clip_id", "left_anti") \
        .unionByName(corpus.join(keepers, "clip_id", "left_semi"))
    print(f"== dedup: {corpus.count()} clips -> {kept.count()} "
          f"({dropped} near-dups dropped) ==")

    # -- 3. incremental batch vs the kept corpus's index -----------
    # persist the index the production way: hash-BUCKETED on the probe
    # key, so every future batch's probe join streams the corpus-scale
    # index straight from its files (no index-side shuffle)
    import tempfile

    from drain3_spark.pipeline.assets import write_index_asset
    work = tempfile.mkdtemp(prefix="audio_idx_")
    write_index_asset(audio_embedding_index(kept), f"{work}/idx",
                      "demo_audio_index", ["bucket"], buckets=8)
    idx = spark.table("demo_audio_index")
    batch = FX.gen_clip_dups(spark, 200, every=40, dur_lo=250, dur_hi=600) \
        .withColumn("clip_id", F.concat(F.lit("b2-"), F.col("clip_id")))
    inc = audio_incremental_duplicates(batch, idx, threshold=0.999)
    print("== incremental batch duplicates (vs stored bucketed index) ==")
    inc.orderBy("new_id").show(5, truncate=False)

    # -- 4. transformations over the keepers -----------------------
    resampled = resample_clips(kept, 16000)
    denoised = denoise_clips(resampled)
    normalized = normalize_gain(denoised, target_rms=0.1)
    trimmed = trim_silence(normalized.select(
        "clip_id", "bytes", "sr_hz", "codec"))
    print("== transformed corpus (resampled 16k, rms 0.1, trimmed) ==")
    trimmed.select("clip_id", "sr_hz", "dur_ms",
                   "trimmed_lead_ms").orderBy("clip_id").show(5)

    # -- 5. features ------------------------------------------------
    spec = audio_spectral_features(trimmed)
    mf = audio_mfcc(trimmed)
    print("== feature summary ==")
    spec.agg(F.count("*").alias("n"),
             F.round(F.avg("dominant_freq_hz"), 1).alias("avg_dom_hz"),
             F.round(F.avg("silence_ratio"), 4).alias("avg_sil")).show()
    mf.select("clip_id", F.round(F.element_at("mfcc", 1), 2).alias("c0"),
              F.round(F.element_at("mfcc", 2), 2).alias("c1")) \
        .orderBy("clip_id").show(5)

    # -- 6. loudness + VAD + stratified sampling (round 7) ----------
    from drain3_spark.pipeline.audio_loudness import loudness_stats
    from drain3_spark.pipeline.audio_vad import speech_ratio_stats
    from drain3_spark.pipeline.sampling import stratified_sample
    print("== BS.1770 loudness (per codec) ==")
    loudness_stats(kept, carry=("codec",)).groupBy("codec") \
        .agg(F.count("*").alias("n"),
             F.round(F.avg("integrated_lufs"), 2).alias("avg_lufs")).show()
    print("== VAD speech coverage ==")
    speech_ratio_stats(kept).agg(
        F.round(F.avg("speech_ratio"), 4).alias("avg_speech_ratio"),
        F.sum("n_segments").alias("segments")).show()
    print("== stratified sample (hash-deterministic, codec strata) ==")
    sampled = stratified_sample(kept, "codec",
                                {"pcm_s16le": 0.25, "pcm_f32le": 1.0},
                                key_col="clip_id", default_rate=0.5)
    sampled.groupBy("codec").count().orderBy("codec").show()
    pairs.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
