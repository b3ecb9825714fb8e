"""Partitioning and ordering of the persisted mining fold.

The fold is cached, and adaptive execution does not coalesce a cached
plan's shuffle partitions, so ``mine_templates`` sizes the fold's one
hash Exchange to the cluster's cores itself: one Python task per core,
whatever ``spark.sql.shuffle.partitions`` says (8 in the test session,
on ``local[4]``).  Each task folds its sorted partition as one stream
of Arrow batches, so a group may span batches."""

import hashlib
import re

import pandas as pd
import pytest

from drain3_spark.config import EngineConfig
from drain3_spark.core.kernel import tokenize
from drain3_spark.operators.mining import KEY_SEP, make_bank, mine_templates
from tests.test_mining_salted import MASKS, corpus


def _cached_plan(spark, df) -> str:
    """The final physical plan that filled ``df``'s cache."""
    cached = (spark._jsparkSession.sharedState().cacheManager()
              .lookupCachedData(df._jdf))
    return (cached.get().cachedRepresentation().cacheBuilder()
            .cachedPlan().executedPlan().toString())


@pytest.mark.parametrize("salt,gnames", [
    (1, ["token_count", "prefix_key"]),
    (8, ["token_count", "prefix_key", "_salt"]),
])
def test_fold_runs_one_task_per_core(spark, salt, gnames):
    df = corpus(spark, 1200).cache()
    df.count()
    cfg = EngineConfig(mining_mode="scalable", masking=MASKS, mining_salt=salt)
    mined = mine_templates(df, cfg)
    par = spark.sparkContext.defaultParallelism
    assert par != int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert mined.raw.rdd.getNumPartitions() == par

    plan = _cached_plan(spark, mined.raw)
    exchanges = re.findall(r"Exchange (\w+)\(([^)]*)\)", plan)
    assert len(exchanges) == 1
    kind, args = exchanges[0]
    assert kind == "hashpartitioning"
    assert [re.sub(r"#\d+L?$", "", a.strip()) for a in args.split(",")] \
        == gnames + [str(par)]
    # one Python call per task, not one per group
    assert "MapInArrow" in plan
    assert "FlatMapGroupsInPandas" not in plan
    mined.unpersist()
    df.unpersist()


def _mine_twice(df, cfg):
    """Cluster tuples, assignments digest and counter of a two-batch
    incremental mine (the second batch folds on prior clusters)."""
    b1 = mine_templates(df.filter(df.ds == "2026-08-01"), cfg)
    state = [tuple(r) for r in b1.clusters.collect()]
    b2 = mine_templates(df.filter(df.ds != "2026-08-01"), cfg,
                        prior_clusters=state,
                        prior_counter=b1.updated_counter())
    rows = sorted(tuple(r) for b in (b1, b2) for r in b.assignments.collect())
    out = (sorted(tuple(r) for r in b2.clusters.collect()),
           hashlib.sha256(repr(rows).encode()).hexdigest(),
           b2.updated_counter())
    b1.unpersist()
    b2.unpersist()
    return out


@pytest.mark.parametrize("cfg", [
    EngineConfig(mining_mode="scalable", masking=MASKS, mining_salt=1),
    EngineConfig(mining_mode="scalable", masking=MASKS, mining_salt=8),
    EngineConfig(engine="jaccard", masking=MASKS),
], ids=["salt1", "salt8", "jaccard"])
def test_fold_carries_banks_across_arrow_batches(spark, cfg):
    """Seven-row Arrow batches split every group across batches: the
    bank, its memo and its refs carry over, so nothing changes."""
    df = corpus(spark, 1200).cache()
    want = _mine_twice(df, cfg)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        got = _mine_twice(df, cfg)
    finally:
        spark.conf.set(key, old)
    assert got == want
    df.unpersist()


def test_null_order_values_fold_last(spark):
    """A NULL ``clip_id`` folds after the non-NULL rows of its ``ds``,
    as a pandas sort puts it.  Its position matters here: folded first,
    the odd user would found the cluster and every row after it would
    report a different change."""
    rows = []
    for d in ("2026-08-01", "2026-08-02"):
        rows += [(d, f"clip-{i:04d}", f"user alice logged in from host{i % 3}")
                 for i in range(40)]
        rows.insert(len(rows) - 23, (d, None, "user bob logged in from host9"))
    cfg = EngineConfig()
    mined = mine_templates(
        spark.createDataFrame(rows, "ds string, clip_id string, transcript string"),
        cfg)
    got = {(r.ds, r.clip_id): (r.cluster_id, r.change_type, r.cluster_size,
                               r.template_mined)
           for r in mined.assignments.collect()}
    mined.unpersist()

    pdf = pd.DataFrame(rows, columns=["ds", "clip_id", "transcript"])
    bank = make_bank(cfg)
    want = {}
    for d, clip, text in pdf.sort_values(["ds", "clip_id"],
                                         kind="mergesort").itertuples(index=False):
        ckey = KEY_SEP.join(v for v in (d, clip) if v is not None)
        r = bank.ingest_tokens(tokenize(text), order_key=ckey)
        want[(d, clip)] = (r["cluster_id"], r["change_type"],
                           r["cluster_size"], r["template_mined"])
    assert {k: v[1:] for k, v in got.items()} == {k: v[1:] for k, v in want.items()}
    # the same rows share a cluster (ids are renumbered by creation key)
    pairs = {(want[k][0], got[k][0]) for k in want}
    assert len(pairs) == len({a for a, _ in pairs}) == len({b for _, b in pairs})
