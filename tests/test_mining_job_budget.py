"""Spark-job budget of template mining.

``mine_templates`` runs its fold as one action and finishes on the
driver, so the cluster table it returns is a local relation and the
counter is known when it returns: reading either launches no Spark
job, and neither does building ``match_clusters`` over it (the
cluster collect and broadcast inside).  Jobs are counted from the
status tracker as the set of new job ids around each step."""

from drain3_spark.config import EngineConfig
from drain3_spark.operators.matching import match_clusters
from drain3_spark.operators.mining import mine_templates
from tests.test_mining_salted import MASKS, corpus

# a salted mine is one action on the persisted fold: adaptive execution
# runs it as the fold's shuffle-map job, the job that fills the fold
# cache and the collect of the cluster rows.  A distributed bank merge
# needs its own Exchange and action on top (six jobs in all).
SALTED_MINE_JOBS = 3


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it launched)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty(60_000)
    before = set(tracker.getJobIdsForGroup(None))
    out = fn()
    bus.waitUntilEmpty(60_000)
    return out, len(set(tracker.getJobIdsForGroup(None)) - before)


def test_mining_job_budget(spark):
    df = corpus(spark, 1200).cache()
    df.count()
    cfg = EngineConfig(mining_mode="scalable", masking=MASKS, mining_salt=8)

    mined, n = _jobs(spark, lambda: mine_templates(df, cfg))
    assert n <= SALTED_MINE_JOBS

    rows, n = _jobs(spark, mined.clusters.collect)
    assert n == 0 and len(rows) == 4
    counter, n = _jobs(spark, mined.updated_counter)
    assert n == 0 and counter == 4
    _, n = _jobs(spark, lambda: match_clusters(df, mined.clusters, cfg))
    assert n == 0
    assert {r.cluster_id for r in mined.assignments.collect()} == {1, 2, 3, 4}
    mined.unpersist()
    df.unpersist()
