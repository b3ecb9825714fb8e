"""Bucketed index assets (pipeline/assets.py): the three corpus-scale
stored indexes load back with their probe-key clustering intact, so
per-batch incremental joins never re-shuffle the corpus side.

Plan comparisons are stored-vs-stored: the same rows written as plain
parquet (scan loses clustering -> index-side Exchange) vs written
through write_index_asset and read back with spark.table (bucketed
scan -> no index-side Exchange),
with broadcast disabled so the join is sort-merge either way — the
corpus-scale shape where bucketing matters."""

import contextlib

import pytest
from pyspark.sql import functions as F

from drain3_spark import fixtures as FX
from drain3_spark.pipeline.assets import write_index_asset

SF = "/root/testdata/sf0.001"


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


@contextlib.contextmanager
def _sort_merge_only(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_band_index_asset_bucketed_no_corpus_exchange(spark, tmp_path):
    """Text LSH band index: the stored-vs-batch candidate join shuffles
    only the batch side, and incremental dedup over the loaded asset
    equals the in-memory-index run."""
    from drain3_spark.pipeline.dedup import (lsh_incremental_duplicates,
                                             minhash_band_index)

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)

    banded = minhash_band_index(corpus)
    write_index_asset(banded, str(tmp_path / "band_idx"),
                      "band_idx_asset_test", ["band", "band_key"], buckets=8)
    banded.write.mode("overwrite").parquet(str(tmp_path / "band_plain"))
    try:
        loaded = spark.table("band_idx_asset_test")
        plain = spark.read.parquet(str(tmp_path / "band_plain"))
        new_banded = minhash_band_index(batch)

        probe = ["band", "band_key"]
        with _sort_merge_only(spark):
            n_bucketed = _plan(new_banded.join(loaded, probe)
                               ).count("Exchange")
            n_plain = _plan(new_banded.join(plain, probe)).count("Exchange")
        assert n_bucketed == n_plain - 1, (n_bucketed, n_plain)

        got = {(r.new_id, r.old_id) for r in lsh_incremental_duplicates(
            batch, corpus, index=loaded).collect()}
        ref = {(r.new_id, r.old_id) for r in lsh_incremental_duplicates(
            batch, corpus, index=banded).collect()}
        assert got == ref
    finally:
        spark.sql("drop table if exists band_idx_asset_test")


def test_audio_index_asset_bucketed_no_corpus_exchange(spark, tmp_path):
    """Audio embedding index: same property on the ``bucket`` probe key,
    with result equality for incremental audio dedup (which must find
    the planted duplicates through the loaded asset)."""
    from drain3_spark.pipeline.audio_sim import (audio_embedding_index,
                                                 audio_incremental_duplicates)

    corpus = FX.gen_clips(spark, 40, dur_lo=250, dur_hi=500, partitions=4)
    # batch = re-synthesized corpus clips 0..9 -> guaranteed near-dups
    batch = (FX.gen_clips(spark, 10, dur_lo=250, dur_hi=500, partitions=2)
             .withColumn("clip_id", F.concat(F.lit("new-"), "clip_id")))

    idx = audio_embedding_index(corpus)
    write_index_asset(idx, str(tmp_path / "audio_idx"),
                      "audio_idx_asset_test", ["bucket"], buckets=8)
    idx.write.mode("overwrite").parquet(str(tmp_path / "audio_plain"))
    try:
        loaded = spark.table("audio_idx_asset_test")
        plain = spark.read.parquet(str(tmp_path / "audio_plain"))
        probe_rows = audio_embedding_index(batch)

        with _sort_merge_only(spark):
            n_bucketed = _plan(probe_rows.join(loaded, "bucket")
                               ).count("Exchange")
            n_plain = _plan(probe_rows.join(plain, "bucket")
                            ).count("Exchange")
        assert n_bucketed == n_plain - 1, (n_bucketed, n_plain)

        got = {(r.new_id, r.old_id) for r in
               audio_incremental_duplicates(batch, loaded).collect()}
        ref = {(r.new_id, r.old_id) for r in
               audio_incremental_duplicates(batch, idx).collect()}
        assert got == ref
        assert got, "planted re-synthesized duplicates must be found"
    finally:
        spark.sql("drop table if exists audio_idx_asset_test")
