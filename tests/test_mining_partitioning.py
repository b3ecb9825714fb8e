"""Partitioning of the persisted mining fold.

The fold is cached, and adaptive execution does not coalesce a cached
plan's shuffle partitions, so ``mine_templates`` sizes the fold's one
hash Exchange to the cluster's cores itself: one Python task per core,
whatever ``spark.sql.shuffle.partitions`` says (8 in the test session,
on ``local[4]``)."""

import re

import pytest

from drain3_spark.config import EngineConfig
from drain3_spark.operators.mining import mine_templates
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

    exchanges = re.findall(r"Exchange (\w+)\(([^)]*)\)",
                           _cached_plan(spark, mined.raw))
    assert len(exchanges) == 1
    kind, args = exchanges[0]
    assert kind == "hashpartitioning"
    assert [re.sub(r"#\d+L?$", "", a.strip()) for a in args.split(",")] \
        == gnames + [str(par)]
    mined.unpersist()
    df.unpersist()
