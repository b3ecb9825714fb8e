"""Partitioning of ``validate()``'s persisted violations.

The violations are the union of every check's findings, and a union's
partitions are its children's concatenated: the row-local scan, the
uniqueness and referential shuffles (8 partitions each in the test
session, on ``local[4]``) and the audio cache.  Adaptive execution does
not coalesce a cached plan, so ``validate()`` coalesces the union to one
partition per core before it persists it."""

from drain3_spark.validation.runner import ValidationConfig, ValidationEngine
from tests.test_validation import dirty_tables  # the module fixture


def test_violations_cache_runs_one_partition_per_core(spark, dirty_tables):
    clips, ref, _ = dirty_tables
    report = ValidationEngine(ValidationConfig(with_drift=False)).validate(
        clips, ref)
    par = spark.sparkContext.defaultParallelism
    assert par != int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert report.violations.rdd.getNumPartitions() == par
    report.violations.unpersist()
