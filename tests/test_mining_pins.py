"""Value pins of ``mine_templates`` on the salted-mining corpus.

Every case mines ``test_mining_salted.corpus`` once in full and once as
two batches (the first ``ds`` partition, then the rest against the
first batch's state and counter), and pins for each mine:

* the cluster table: ``(cluster_id, template, size)`` per cluster, plus a
  digest of the full ``CLUSTER_SCHEMA`` tuples (group key, token count,
  created / updated keys and routing included);
* the clip -> ``cluster_id`` map, as a digest plus the row count per id;
* ``change_scope`` and ``updated_counter()``.

The matrix is salt {1, 8} x ``max_clusters`` {None, 3}, with the drain
engine in exact mode (the job and cache formats share a token-count
group, so the salted merge re-ingests colliding bank clusters), plus the
Jaccard engine at salt 8.  ``max_clusters=3`` keeps fewer clusters than
the corpus has, so the global LRU bound decides which survive.
"""

import hashlib
from collections import Counter

import pytest
from pyspark.sql import functions as F

from drain3_spark.config import EngineConfig
from drain3_spark.operators.mining import mine_templates
from tests.test_mining_salted import MASKS, corpus


def _digest(items) -> str:
    return hashlib.sha256(repr(sorted(items)).encode()).hexdigest()[:16]


def _summary(res) -> dict:
    clusters = [tuple(r) for r in res.clusters.collect()]
    assign = [(r.clip_id, r.cluster_id, r.change_scope)
              for r in res.assignments.collect()]
    return {
        "clusters": sorted((c[0], c[3], c[4]) for c in clusters),
        "clusters_digest": _digest(clusters),
        "assign_digest": _digest((a[0], a[1]) for a in assign),
        "rows_per_cluster": dict(sorted(Counter(a[1] for a in assign).items())),
        "scope": sorted({a[2] for a in assign}),
        "counter": res.updated_counter(),
    }


def _mine_cases(spark, cfg):
    """(full, first batch, second batch) summaries."""
    df = corpus(spark).cache()
    full = mine_templates(df, cfg)
    b1 = mine_templates(df.filter(F.col("ds") == "2026-08-01"), cfg)
    state = [tuple(r) for r in b1.clusters.collect()]
    b2 = mine_templates(df.filter(F.col("ds") != "2026-08-01"), cfg,
                        prior_clusters=state,
                        prior_counter=b1.updated_counter())
    out = (_summary(full), _summary(b1), _summary(b2))
    for r in (full, b1, b2):
        r.unpersist()
    df.unpersist()
    return out


FAILED = "Failed password for user <*> from <IP> port <NUM> ssh2"
CACHE = "cache flush completed at offset <NUM>"
JOB = "job <NUM> finished in <NUM> ms"
SESSION = "session opened for user root by uid <NUM>"

# (full, batch 1, batch 2) per (engine, salt, max_clusters)
EXPECTED = {
    ("drain", 1, None): (
        dict(clusters=[(1, FAILED, 750), (2, CACHE, 750),
                       (3, JOB, 750), (4, SESSION, 750)],
             clusters_digest="ab2a01b532d44e1c",
             assign_digest="8825b42fca432b6b",
             rows_per_cluster={1: 750, 2: 750, 3: 750, 4: 750},
             scope=["global"], counter=4),
        dict(clusters=[(1, FAILED, 250), (2, CACHE, 250),
                       (3, JOB, 250), (4, SESSION, 250)],
             clusters_digest="b6cf5266e796db2f",
             assign_digest="1de0fc318d7a68c3",
             rows_per_cluster={1: 250, 2: 250, 3: 250, 4: 250},
             scope=["global"], counter=4),
        dict(clusters=[(1, FAILED, 750), (2, CACHE, 750),
                       (3, JOB, 750), (4, SESSION, 750)],
             clusters_digest="ab2a01b532d44e1c",
             assign_digest="21176f55454d9412",
             rows_per_cluster={1: 500, 2: 500, 3: 500, 4: 500},
             scope=["global"], counter=4),
    ),
    ("drain", 1, 3): (
        dict(clusters=[(1, FAILED, 750), (2, CACHE, 750),
                       (4, SESSION, 750)],
             clusters_digest="ecb58b44beec1033",
             assign_digest="8825b42fca432b6b",
             rows_per_cluster={1: 750, 2: 750, 3: 750, 4: 750},
             scope=["global"], counter=4),
        dict(clusters=[(2, CACHE, 250), (3, JOB, 250),
                       (4, SESSION, 250)],
             clusters_digest="9225676afc578777",
             assign_digest="1de0fc318d7a68c3",
             rows_per_cluster={1: 250, 2: 250, 3: 250, 4: 250},
             scope=["global"], counter=4),
        dict(clusters=[(2, CACHE, 750), (4, SESSION, 750),
                       (5, FAILED, 500)],
             clusters_digest="310f7f3cf9244aff",
             assign_digest="87aa2476d5c9538e",
             rows_per_cluster={2: 500, 3: 500, 4: 500, 5: 500},
             scope=["global"], counter=5),
    ),
    ("drain", 8, None): (
        dict(clusters=[(1, FAILED, 750), (2, CACHE, 750),
                       (3, JOB, 750), (4, SESSION, 750)],
             clusters_digest="ab2a01b532d44e1c",
             assign_digest="8825b42fca432b6b",
             rows_per_cluster={1: 750, 2: 750, 3: 750, 4: 750},
             scope=["bank"], counter=4),
        dict(clusters=[(1, FAILED, 250), (2, CACHE, 250),
                       (3, JOB, 250), (4, SESSION, 250)],
             clusters_digest="b6cf5266e796db2f",
             assign_digest="1de0fc318d7a68c3",
             rows_per_cluster={1: 250, 2: 250, 3: 250, 4: 250},
             scope=["bank"], counter=4),
        dict(clusters=[(1, FAILED, 750), (2, CACHE, 750),
                       (3, JOB, 750), (4, SESSION, 750)],
             clusters_digest="ab2a01b532d44e1c",
             assign_digest="21176f55454d9412",
             rows_per_cluster={1: 500, 2: 500, 3: 500, 4: 500},
             scope=["bank"], counter=4),
    ),
    ("drain", 8, 3): (
        dict(clusters=[(1, FAILED, 750), (2, CACHE, 750),
                       (4, SESSION, 750)],
             clusters_digest="ecb58b44beec1033",
             assign_digest="8825b42fca432b6b",
             rows_per_cluster={1: 750, 2: 750, 3: 750, 4: 750},
             scope=["bank"], counter=4),
        dict(clusters=[(2, CACHE, 250), (3, JOB, 250),
                       (4, SESSION, 250)],
             clusters_digest="9225676afc578777",
             assign_digest="1de0fc318d7a68c3",
             rows_per_cluster={1: 250, 2: 250, 3: 250, 4: 250},
             scope=["bank"], counter=4),
        dict(clusters=[(2, CACHE, 750), (4, SESSION, 750),
                       (5, FAILED, 500)],
             clusters_digest="310f7f3cf9244aff",
             assign_digest="87aa2476d5c9538e",
             rows_per_cluster={2: 500, 3: 500, 4: 500, 5: 500},
             scope=["bank"], counter=5),
    ),
    ("jaccard", 8, None): (
        dict(clusters=[(1, FAILED, 750), (2, CACHE, 750),
                       (3, JOB, 750), (4, SESSION, 750)],
             clusters_digest="e75f3d5d8abb0de9",
             assign_digest="8825b42fca432b6b",
             rows_per_cluster={1: 750, 2: 750, 3: 750, 4: 750},
             scope=["bank"], counter=4),
        dict(clusters=[(1, FAILED, 250), (2, CACHE, 250),
                       (3, JOB, 250), (4, SESSION, 250)],
             clusters_digest="63c9c676cc4c40b1",
             assign_digest="1de0fc318d7a68c3",
             rows_per_cluster={1: 250, 2: 250, 3: 250, 4: 250},
             scope=["bank"], counter=4),
        dict(clusters=[(1, FAILED, 750), (2, CACHE, 750),
                       (3, JOB, 750), (4, SESSION, 750)],
             clusters_digest="e75f3d5d8abb0de9",
             assign_digest="21176f55454d9412",
             rows_per_cluster={1: 500, 2: 500, 3: 500, 4: 500},
             scope=["bank"], counter=4),
    ),
}


@pytest.mark.parametrize("engine,salt,max_clusters", list(EXPECTED))
def test_mine_templates_pins(spark, engine, salt, max_clusters):
    cfg = EngineConfig(engine=engine, masking=MASKS, mining_salt=salt,
                       max_clusters=max_clusters)
    got = _mine_cases(spark, cfg)
    for name, g, want in zip(("full", "batch 1", "batch 2"), got,
                             EXPECTED[(engine, salt, max_clusters)]):
        assert g == want, name


def test_salted_jaccard_variable_length_pin(spark):
    """Bank copies of a prior Jaccard cluster that differ in length,
    merged at salt 4: the full cluster table and every assignment row."""
    prior = [(1, "login", 3, "login user alpha", 5, "a-000", "a-000")]
    rows = [
        ("2026-08-01", "clip-0000000001", "login user alpha now"),
        ("2026-08-01", "clip-0000000002", "login user beta"),
        ("2026-08-01", "clip-0000000003", "restart of node seven done"),
        ("2026-08-01", "clip-0000000004", "restart of node nine done"),
    ]
    df = spark.createDataFrame(
        rows, "ds string, clip_id string, transcript string")
    res = mine_templates(df, EngineConfig(engine="jaccard", mining_salt=4),
                         prior_clusters=prior, prior_counter=1)
    k = "2026-08-01\x1fclip-000000000"
    assert sorted(tuple(r) for r in res.clusters.collect()) == [
        (1, "login", 4, "login user <*> <*>", 7, "a-000", "a-000",
         "login user alpha"),
        (2, "restart", 5, "restart of node <*> done", 2, k + "3", k + "4",
         "restart of node seven done"),
    ]
    assert sorted((r.clip_id, r.cluster_id, r.change_type, r.cluster_size,
                   r.template_mined, r.change_scope)
                  for r in res.assignments.collect()) == [
        ("clip-0000000001", 1, "cluster_template_changed", 6,
         "login user alpha <*>", "bank"),
        ("clip-0000000002", 1, "cluster_template_changed", 6,
         "login user <*>", "bank"),
        ("clip-0000000003", 2, "cluster_created", 1,
         "restart of node seven done", "bank"),
        ("clip-0000000004", 2, "cluster_created", 1,
         "restart of node nine done", "bank"),
    ]
    assert res.updated_counter() == 2
    res.unpersist()
