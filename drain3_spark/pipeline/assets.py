"""Persisted INDEX ASSETS, bucket-partitioned on their probe keys.

The incremental pipelines keep three corpus-scale index assets between
ingest batches.  Each is written with :func:`write_index_asset`, and
the caller names its probe key:

* the text MinHash band index (``dedup.minhash_band_index``), probed on
  ``["band", "band_key"]``;
* the audio embedding index (``audio_sim.audio_embedding_index``),
  probed on ``["bucket"]``;
* the audio fingerprint index (``audio_fp.audio_fingerprints``), probed
  on ``["hash"]``.

Each batch's probe join has a tiny new-batch side and a corpus-scale
stored side — at 100 TB the stored side must NEVER re-shuffle per
batch.  Appending a batch is ``index.unionByName(new_rows)``.

``write_index_asset`` persists any of them HASH-BUCKETED on the probe
key(s): parquet files at ``path``, bucketing metadata in the catalog
under ``table``.  A bucketed scan reports
``HashPartitioning(bucket_cols)``, which satisfies the clustered
distribution of any join/aggregate whose keys are a superset of the
bucket columns — so the probe join plans with ONE Exchange (the batch
side) and key-aggregates over the index plan with none.  Plan-asserted
by ``test_fingerprint_index_bucketed_scan_no_exchange`` and
``test_index_assets_bucketed_no_corpus_exchange``.

Reading back MUST go through ``spark.table(table)``, not
``read.parquet(path)`` — bucketing metadata lives in the catalog, not
in the files.

Reference analog: the miner's persisted snapshot state
(drain3/persistence_handler.py:10-21) is the same write-once/probe-many
asset contract, held as a distributed table instead of a blob.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame


def write_index_asset(df: DataFrame, path: str, table: str,
                      bucket_cols: Sequence[str], buckets: int = 32) -> None:
    """Persist ``df`` as external parquet table ``table`` at ``path``,
    bucketed and sorted in-file by ``bucket_cols`` (keeps postings for
    one key adjacent).  ``buckets`` should approximate the target
    parallelism of index scans on the deployment; the probe keys are
    high-cardinality (band hashes / LSH buckets / 24-bit pair hashes),
    so buckets stay balanced."""
    cols = list(bucket_cols)
    (df.write.mode("overwrite")
       .bucketBy(buckets, cols[0], *cols[1:])
       .sortBy(cols[0], *cols[1:])
       .option("path", path)
       .format("parquet")
       .saveAsTable(table))
