"""Salted two-phase mining: cluster-table equivalence with unsalted
scalable mining on well-separated formats, determinism, incremental use."""

import pytest
from pyspark.sql import functions as F

from drain3_spark.config import EngineConfig, MaskRule
from drain3_spark.operators.mining import mine_templates

MASKS = [MaskRule(r"((?<=[^A-Za-z0-9])|^)(\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3})((?=[^A-Za-z0-9])|$)", "IP"),
         MaskRule(r"((?<=[^A-Za-z0-9])|^)([\-\+]?\d+)((?=[^A-Za-z0-9])|$)", "NUM")]


def corpus(spark, n=3000):
    rows = []
    for i in range(n):
        k = i % 4
        if k == 0:
            t = f"Failed password for user u{i % 40} from 10.0.{i % 200}.{i % 250} port {4000 + i % 999} ssh2"
        elif k == 1:
            t = f"session opened for user root by uid {i % 5}"
        elif k == 2:
            t = f"job {i % 777} finished in {i % 300} ms"
        else:
            t = f"cache flush completed at offset {i % 12345}"
        rows.append((f"2026-08-{1 + i % 3:02d}", f"clip-{i:010d}", t))
    return spark.createDataFrame(rows, "ds string, clip_id string, transcript string")


def cluster_key_set(res):
    return {(r.cluster_id, r.group_key, r.template, r.size)
            for r in res.clusters.collect()}


def test_salted_equals_unsalted(spark):
    df = corpus(spark).cache()
    base_cfg = EngineConfig(mining_mode="scalable", masking=MASKS)
    salt_cfg = EngineConfig(mining_mode="scalable", masking=MASKS, mining_salt=8)
    base = mine_templates(df, base_cfg)
    salt = mine_templates(df, salt_cfg)
    assert cluster_key_set(base) == cluster_key_set(salt)
    # assignments: same final cluster id per row (bank-local sizes differ)
    b = {r.clip_id: r.cluster_id for r in base.assignments.collect()}
    s = {r.clip_id: r.cluster_id for r in salt.assignments.collect()}
    assert b == s
    # a merged cluster's updated_key is the max over its bank copies,
    # so the LRU order is salt-invariant too
    def updated(res):
        return {(r.cluster_id, r.updated_key) for r in res.clusters.collect()}
    assert updated(base) == updated(salt)
    # the salted approximation is surfaced IN DATA: bank-local
    # change_type/cluster_size rows carry change_scope='bank', unsalted
    # rows 'global' (VERDICT r04 #5)
    assert {r.change_scope for r in salt.assignments
            .select("change_scope").distinct().collect()} == {"bank"}
    assert {r.change_scope for r in base.assignments
            .select("change_scope").distinct().collect()} == {"global"}
    base.unpersist(); salt.unpersist(); df.unpersist()


def test_salted_deterministic(spark):
    df = corpus(spark, 1200).cache()
    cfg = EngineConfig(mining_mode="scalable", masking=MASKS, mining_salt=8)
    a = cluster_key_set(mine_templates(df, cfg))
    b = cluster_key_set(mine_templates(df, cfg))
    assert a == b
    df.unpersist()


def test_auto_salt_equals_explicit(spark):
    """mining_salt=0 resolves to cluster parallelism; cluster table must
    equal the unsalted result on separated formats."""
    df = corpus(spark, 1200).cache()
    base = mine_templates(df, EngineConfig(mining_mode="scalable", masking=MASKS))
    auto = mine_templates(df, EngineConfig(mining_mode="scalable", masking=MASKS,
                                           mining_salt=0))
    assert cluster_key_set(base) == cluster_key_set(auto)
    base.unpersist(); auto.unpersist(); df.unpersist()


def test_salted_jaccard_variable_length(spark):
    """Jaccard engine + salt: bank copies of a prior cluster can differ in
    LENGTH (jaccard merge keeps the longer sequence, reference
    drain3/jaccard_drain.py:183-202).  The merge pass must use jaccard
    semantics — the old positional zip silently truncated templates."""
    prior = [(1, "login", 3, "login user alpha", 5, "a-000", "a-000")]
    rows = [
        ("2026-08-01", "clip-0000000001", "login user alpha now"),
        ("2026-08-01", "clip-0000000002", "login user beta"),
        ("2026-08-01", "clip-0000000003", "restart of node seven done"),
        ("2026-08-01", "clip-0000000004", "restart of node nine done"),
    ]
    df = spark.createDataFrame(rows, "ds string, clip_id string, transcript string")
    base_cfg = EngineConfig(engine="jaccard")
    salt_cfg = EngineConfig(engine="jaccard", mining_salt=4)
    base = mine_templates(df, base_cfg, prior_clusters=prior, prior_counter=1)
    salt = mine_templates(df, salt_cfg, prior_clusters=prior, prior_counter=1)
    want = {(r.group_key, r.template, r.size) for r in base.clusters.collect()}
    got = {(r.group_key, r.template, r.size) for r in salt.clusters.collect()}
    assert got == want
    # the prior cluster grew to length 4 — no zip truncation
    tpl = {r.cluster_id: r.template for r in salt.clusters.collect()}[1]
    assert len(tpl.split(" ")) == 4
    base.unpersist(); salt.unpersist()


def test_salted_incremental(spark):
    df = corpus(spark, 1200).cache()
    cfg = EngineConfig(mining_mode="scalable", masking=MASKS, mining_salt=4)
    b1 = mine_templates(df.filter(F.col("ds") == "2026-08-01"), cfg)
    state = [tuple(r) for r in b1.clusters.collect()]
    counter = max(r[0] for r in state)
    b2 = mine_templates(df.filter(F.col("ds") != "2026-08-01"), cfg,
                        prior_clusters=state, prior_counter=counter)
    full = mine_templates(df, cfg)
    got = {(r.group_key, r.template, r.size) for r in b2.clusters.collect()}
    want = {(r.group_key, r.template, r.size) for r in full.clusters.collect()}
    assert got == want
    b1.unpersist(); b2.unpersist(); full.unpersist(); df.unpersist()
