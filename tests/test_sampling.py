"""Deterministic stratified sampling: exact cross-engine (DuckDB)
oracle on the shared parquet corpus, partitioning-independence, seed
sensitivity, rate validation, and the scan-side plan shape."""

import duckdb
import pytest
from pyspark.sql import functions as F

from drain3_spark.pipeline.sampling import (oracle_sample_hash_sql,
                                            sample_hash, stratified_sample)

DOCS = "/root/testdata/sf0.001/documents.parquet"
RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.0}


def test_sample_hash_matches_duckdb(spark):
    got = (spark.read.parquet(DOCS)
           .select("doc_id", sample_hash(F.col("doc_id"), seed=7).alias("h"))
           .collect())
    want = dict(duckdb.connect().execute(
        f"select doc_id, {oracle_sample_hash_sql('doc_id', 7)} "
        f"from '{DOCS}'").fetchall())
    assert len(got) == len(want)
    for r in got:
        assert r.h == want[r.doc_id], r.doc_id


def test_stratified_sample_matches_duckdb_exactly(spark):
    got = sorted(r.doc_id for r in stratified_sample(
        spark.read.parquet(DOCS), "source", RATES, "doc_id",
        seed=3, default_rate=0.1).select("doc_id").collect())
    h = oracle_sample_hash_sql("doc_id", 3)
    want = sorted(r[0] for r in duckdb.connect().execute(f"""
        select doc_id from '{DOCS}'
        where {h} < case source
            when 'src0' then 1000000 when 'src1' then 500000
            when 'src2' then 250000 when 'src3' then 0
            else 100000 end""").fetchall())
    assert got == want and len(got) > 0


def test_stratified_sample_rates_and_independence(spark):
    """Kept fraction tracks the rate, the decision is partitioning-
    independent, re-running is idempotent (same keys kept), and NULL-key
    rows are dropped even at rate 1.0 (their hash is NULL)."""
    n = 4000
    nulls = spark.range(8).select(F.lit(None).cast("long").alias("id"),
                                  F.lit("3").alias("stratum"))
    base = (spark.range(n)
            .withColumn("stratum", (F.col("id") % 4).cast("string"))
            .unionByName(nulls))
    rates = {"0": 0.3, "1": 0.8, "2": 0.0, "3": 1.0}
    a = stratified_sample(base.repartition(13), "stratum", rates, "id")
    b = stratified_sample(base.coalesce(1), "stratum", rates, "id")
    ka = sorted(r.id for r in a.collect())
    assert ka == sorted(r.id for r in b.collect())
    counts = {r.stratum: r.n for r in
              a.groupBy("stratum").agg(F.count("*").alias("n")).collect()}
    assert counts.get("2", 0) == 0
    assert counts["3"] == n // 4
    assert abs(counts["0"] / (n / 4) - 0.3) < 0.05
    assert abs(counts["1"] / (n / 4) - 0.8) < 0.05


def test_stratified_sample_seed_changes_selection(spark):
    base = spark.range(1000).withColumn("s", F.lit("x"))
    a = {r.id for r in stratified_sample(base, "s", {"x": 0.5}, "id",
                                         seed=0).collect()}
    b = {r.id for r in stratified_sample(base, "s", {"x": 0.5}, "id",
                                         seed=1).collect()}
    assert a != b
    assert 0.4 < len(a & b) / 500 < 0.6  # seeds are independent draws


def test_rate_validation():
    with pytest.raises(ValueError):
        stratified_sample(None, "s", {"x": 1.5}, "id")


def test_stratified_sample_plan_is_scan_side(spark):
    """The rate sampler must stay a whole-stage-codegen filter on the
    scan: no Exchange, no Python eval — at 100 TB it subsamples in the
    same pass that reads the data."""
    df = spark.read.parquet(DOCS)
    plan = (stratified_sample(df, "source", {"src0": 0.5}, "doc_id")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    assert "Python" not in plan and "ArrowEvalPython" not in plan
    assert "Filter" in plan and "FileScan parquet" in plan
