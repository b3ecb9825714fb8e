"""Deterministic stratified sampling: exact cross-engine (DuckDB)
oracle on the shared parquet corpus, partitioning-independence,
per-stratum exactness of stratified_take, and the prefilter's
identical-output guarantee."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from drain3_spark.pipeline.sampling import (oracle_sample_hash_sql,
                                            sample_hash, stratified_sample,
                                            stratified_take)

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
    independent, and re-running is idempotent (same keys kept)."""
    n = 4000
    base = (spark.range(n)
            .withColumn("stratum", (F.col("id") % 4).cast("string")))
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


def test_stratified_take_exact_and_deterministic(spark):
    base = (spark.range(500)
            .withColumn("stratum", (F.col("id") % 5).cast("string")))
    a = stratified_take(base.repartition(11), "stratum", 7, "id")
    b = stratified_take(base.repartition(2), "stratum", 7, "id")
    rows_a = sorted((r.stratum, r.id) for r in a.collect())
    assert rows_a == sorted((r.stratum, r.id) for r in b.collect())
    per = {}
    for s, _ in rows_a:
        per[s] = per.get(s, 0) + 1
    assert per == {str(k): 7 for k in range(5)}
    # starved stratum returns all its rows
    tiny = base.filter((F.col("id") < 3) | (F.col("stratum") != "0"))
    got = stratified_take(tiny, "stratum", 7, "id")
    n0 = got.filter(F.col("stratum") == "0").count()
    assert n0 == 1  # ids 0,1,2 -> stratum 0 keeps only id 0


def test_stratified_take_matches_duckdb(spark):
    got = sorted(r.doc_id for r in stratified_take(
        spark.read.parquet(DOCS), "source", 4, "doc_id", seed=11)
        .select("doc_id").collect())
    h = oracle_sample_hash_sql("doc_id", 11)
    want = sorted(r[0] for r in duckdb.connect().execute(f"""
        select doc_id from (
          select doc_id, row_number() over (
            partition by source order by {h}, doc_id) as rk
          from '{DOCS}') where rk <= 4""").fetchall())
    assert got == want and len(got) == 80


def test_prefilter_take_identical_when_not_starved(spark):
    """The rank orders by the hash the prefilter thresholds on, so a
    prefilter keeping >= n rows per stratum changes NOTHING."""
    base = (spark.range(2000)
            .withColumn("stratum", (F.col("id") % 2).cast("string")))
    full = sorted((r.stratum, r.id) for r in
                  stratified_take(base, "stratum", 10, "id").collect())
    thin = sorted((r.stratum, r.id) for r in
                  stratified_take(base, "stratum", 10, "id",
                                  prefilter_rate=0.1).collect())
    assert full == thin


def test_take_null_keys_rank_last_on_both_paths(spark):
    """NULL keys hash to NULL: ranked first they took the top slots of
    the unfiltered take while the prefilter dropped them, so the two
    paths disagreed.  Ranked last, both paths return the same keyed
    rows."""
    keyed = (spark.range(400)
             .withColumn("stratum", (F.col("id") % 2).cast("string")))
    nulls = (spark.range(12)
             .select(F.lit(None).cast("long").alias("id"),
                     (F.col("id") % 2).cast("string").alias("stratum")))
    base = keyed.unionByName(nulls)
    full = sorted((r.stratum, r.id) for r in
                  stratified_take(base, "stratum", 10, "id").collect())
    thin = sorted((r.stratum, r.id) for r in
                  stratified_take(base, "stratum", 10, "id",
                                  prefilter_rate=0.5).collect())
    assert full == thin and len(full) == 20
    assert all(i is not None for _, i in full)
    # a stratum with fewer than n keyed rows is topped up from its
    # NULL-key rows: the take still returns min(n, stratum size)
    small = keyed.filter(F.col("id") < 6).unionByName(nulls)
    got = stratified_take(small, "stratum", 10, "id").collect()
    assert len(got) == 18 and sum(r.id is None for r in got) == 12


def test_rate_validation():
    with pytest.raises(ValueError):
        stratified_sample(None, "s", {"x": 1.5}, "id")
    with pytest.raises(ValueError):
        stratified_take(None, "s", 0, "id")


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
