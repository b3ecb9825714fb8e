"""Spark mining pipeline golden tests.

The reference SSH corpus (tests/test_drain.py:29-58) is stored as
``transcript`` values of a clips-shaped table; per-row mined templates,
change types, and cluster ids must match the reference expectations.
"""

import re

import pytest
from pyspark.sql import functions as F

from drain3_spark.config import EngineConfig, MaskRule
from drain3_spark.operators.mining import make_bank, mine_templates
from drain3_spark.operators.matching import match_clusters
from drain3_spark.operators.extraction import extract_params_col

SSH_LINES = [
    "Dec 10 07:07:38 LabSZ sshd[24206]: input_userauth_request: invalid user test9 [preauth]",
    "Dec 10 07:08:28 LabSZ sshd[24208]: input_userauth_request: invalid user webmaster [preauth]",
    "Dec 10 09:12:32 LabSZ sshd[24490]: Failed password for invalid user ftpuser from 0.0.0.0 port 62891 ssh2",
    "Dec 10 09:12:35 LabSZ sshd[24492]: Failed password for invalid user pi from 0.0.0.0 port 49289 ssh2",
    "Dec 10 09:12:44 LabSZ sshd[24501]: Failed password for invalid user ftpuser from 0.0.0.0 port 60836 ssh2",
    "Dec 10 07:28:03 LabSZ sshd[24245]: input_userauth_request: invalid user pgadmin [preauth]",
]

EXPECTED_TEMPLATES = [
    "Dec 10 07:07:38 LabSZ sshd[24206]: input_userauth_request: invalid user test9 [preauth]",
    "Dec 10 <*> LabSZ <*> input_userauth_request: invalid user <*> [preauth]",
    "Dec 10 09:12:32 LabSZ sshd[24490]: Failed password for invalid user ftpuser from 0.0.0.0 port 62891 ssh2",
    "Dec 10 <*> LabSZ <*> Failed password for invalid user <*> from 0.0.0.0 port <*> ssh2",
    "Dec 10 <*> LabSZ <*> Failed password for invalid user <*> from 0.0.0.0 port <*> ssh2",
    "Dec 10 <*> LabSZ <*> input_userauth_request: invalid user <*> [preauth]",
]


def clips_df(spark, lines, ds="2026-08-01"):
    rows = [(ds, f"clip-{i:010d}", line) for i, line in enumerate(lines)]
    return spark.createDataFrame(rows, "ds string, clip_id string, transcript string")


@pytest.mark.parametrize("mode", ["exact", "scalable"])
def test_ssh_corpus_spark(spark, mode):
    cfg = EngineConfig(mining_mode=mode)
    res = mine_templates(clips_df(spark, SSH_LINES), cfg)
    got = res.assignments.orderBy("clip_id").collect()
    assert [r.template_mined for r in got] == EXPECTED_TEMPLATES
    # reference sequential ids in creation order (drain3/drain.py:201-202)
    assert [r.cluster_id for r in got] == [1, 1, 2, 2, 2, 1]
    assert [r.change_type for r in got] == [
        "cluster_created", "cluster_template_changed", "cluster_created",
        "cluster_template_changed", "none", "none"]
    clusters = {r.cluster_id: r for r in res.clusters.collect()}
    assert len(clusters) == 2
    assert clusters[1].size == 3 and clusters[2].size == 3
    assert clusters[1].template == \
        "Dec 10 <*> LabSZ <*> input_userauth_request: invalid user <*> [preauth]"
    res.unpersist()


def test_incremental_batches_equal_single_run(spark):
    """Mining ds-batches sequentially through state equals one run
    (checkpoint/resume semantics, SURVEY.md C10)."""
    cfg = EngineConfig()
    full = mine_templates(clips_df(spark, SSH_LINES), cfg)
    full_clusters = {(r.cluster_id, r.template, r.size)
                     for r in full.clusters.collect()}

    b1 = mine_templates(clips_df(spark, SSH_LINES[:3]), cfg)
    state1 = [tuple(r) for r in b1.clusters.collect()]
    # batch-2 order keys sort after batch-1 keys
    rows2 = [("2026-08-02", f"clip-{i+3:010d}", line)
             for i, line in enumerate(SSH_LINES[3:])]
    df2 = spark.createDataFrame(rows2, "ds string, clip_id string, transcript string")
    b2 = mine_templates(df2, cfg, prior_clusters=state1,
                        prior_counter=max(r[0] for r in state1))
    resumed = {(r.cluster_id, r.template, r.size) for r in b2.clusters.collect()}
    assert resumed == full_clusters
    full.unpersist(); b1.unpersist(); b2.unpersist()


def test_match_and_extract_spark(spark):
    cfg = EngineConfig(masking=[
        MaskRule(r"((?<=[^A-Za-z0-9])|^)([\-\+]?\d+)((?=[^A-Za-z0-9])|$)", "NUM")])
    train = clips_df(spark, ["sent 5 bytes to host", "sent 9 bytes to host",
                             "connection reset by peer"])
    res = mine_templates(train, cfg)

    probe = clips_df(spark, ["sent 123 bytes to host", "unseen line shape zz",
                             "connection reset by peer"], ds="2026-08-02")
    # tree-only strategy
    got = {r.clip_id: r.matched_cluster_id
           for r in match_clusters(probe, res.clusters, cfg,
                                   strategy="never").collect()}
    assert got["clip-0000000000"] == 1
    assert got["clip-0000000001"] is None
    assert got["clip-0000000002"] == 2

    # the default 'always' scan, over a cluster frame built from rows
    from drain3_spark.operators.mining import CLUSTER_SCHEMA
    state = [tuple(r) for r in res.clusters.collect()]
    clusters_df = spark.createDataFrame(state, CLUSTER_SCHEMA)
    got_always = {r.clip_id: r.matched_cluster_id
                  for r in match_clusters(probe, clusters_df, cfg).collect()}
    assert got_always == got

    # parameter extraction over the matched template
    matched = match_clusters(probe, clusters_df, cfg) \
        .filter(F.col("matched_template").isNotNull()) \
        .withColumn("params", extract_params_col(
            F.col("matched_template"), F.col("transcript"), cfg))
    rows = {r.clip_id: r.params for r in matched.collect()}
    assert [(p.value, p.mask_name) for p in rows["clip-0000000000"]] == [("123", "NUM")]
    res.unpersist()


def test_empty_and_short_messages_spark(spark):
    cfg = EngineConfig()
    df = clips_df(spark, ["", "  ", "hello", "hello", "otherword"])
    res = mine_templates(df, cfg)
    got = res.assignments.orderBy("clip_id").collect()
    assert [r.template_mined for r in got] == ["", "", "hello", "hello", "otherword"]
    assert [r.change_type for r in got] == [
        "cluster_created", "none", "cluster_created", "none", "cluster_created"]
    res.unpersist()


def test_unicode_whitespace_tokenize_parity(spark):
    """Spark tokenization must split on Unicode whitespace like the
    reference's str.split() (drain3/drain.py:181-186): NBSP, line/para
    separators, ideographic space."""
    from drain3_spark.core.kernel import tokenize
    from drain3_spark.operators.tokenize import tokens_col

    msgs = ["user\u00a0u7 logged\u2028in ok",
            "\u00a0leading and trailing\u3000",
            "narrow\u202fand math\u205fspaces",
            "plain ascii words here",
            ""]
    df = spark.createDataFrame([(m,) for m in msgs], "transcript string")
    got = [r[0] for r in df.select(tokens_col(F.col("transcript"))).collect()]
    want = [tokenize(m) for m in msgs]
    assert got == want


def test_sql_match_all_strategies_equal_kernel_deep_tree(spark):
    """The Spark ``always`` scan must equal a driver-side kernel loop
    row-for-row on a DEEP tree (depth=6); the probes exercise numeric
    wildcard routing, wildcard fallback at inner levels, tree misses,
    and token counts absent from the bank.  The ``never`` descent must
    differ from ``always`` on it, or the corpus would not gate the
    tree."""
    cfg = EngineConfig(depth=6, mining_salt=1)
    train = []
    for i in range(40):
        train.append(f"svc{i % 4} node {i} connect ok port {i}")
        train.append(f"svc{i % 4} node {i} drop err code {i} retry")
    train += ["alpha beta gamma", "alpha beta delta", "one two",
              # "job <*> start" lives under the wildcard child (numeric
              # routing); "job go stop" creates an exact "go" child —
              # probing "job go start" then descends into the exact
              # child's leaf and must MISS under never (the perfect
              # match sits in the wildcard leaf), but hit under
              # always (drain3/drain.py:301-314 no-backtracking)
              "job 5 start", "job 7 start", "job go stop"]
    res = mine_templates(clips_df(spark, train), cfg)

    probe = train + [
        "svc0 node 99 connect ok port 12",      # numeric -> wildcard route
        "svc9 node 1 connect ok port 2",        # unseen level-1 token
        "alpha beta zeta", "alpha zeta gamma",  # inner-level miss/fallback
        "one two three four five six seven",    # token count not in bank
        "one three",
        "job go start",                          # tree-gated perfect match
    ]
    pdf = clips_df(spark, probe, ds="2026-08-02")
    bank = make_bank(cfg, res.clusters.collect())
    driver = [getattr(bank.match(line, "always"), "cid", None)
              for line in probe]

    def spark_match(strategy):
        return [r.matched_cluster_id for r in
                match_clusters(pdf, res.clusters, cfg, strategy=strategy)
                .orderBy("clip_id").collect()]

    always = spark_match("always")
    assert always == driver
    assert any(c is not None for c in always) and None in always
    assert spark_match("never") != always
    res.unpersist()


def test_match_clusters_rejects_unknown_strategy(spark):
    """A misspelt strategy is an error, not a silent ``fallback``."""
    cfg = EngineConfig(mining_salt=1)
    df = clips_df(spark, ["alpha beta gamma"])
    with pytest.raises(ValueError, match="Never"):
        match_clusters(df, df, cfg, strategy="Never")


def test_local_tables_plan_local_scan_without_arrow_conf(spark):
    """``local_df`` plans a ``LocalTableScan``, not a Python-RDD scan,
    even when the session leaves pandas-to-Arrow conversion off."""
    from drain3_spark.util import local_df

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        cands = local_df(
            spark, [(3, [(0, 1, "a <*> c"), (1, None, None)]), (None, None)],
            "_cands_tc long, "
            "_cands array<struct<rank:int,cid:long,template:string>>")
        assert "LocalTableScan" in plan(cands)
        assert cands.collect()[0]._cands[1].template is None
        empty = local_df(spark, [], "a long, b string")
        assert "LocalTableScan" in plan(empty) and empty.collect() == []
    finally:
        spark.conf.set(key, before)


def test_match_null_empty_and_blank_content(spark):
    """A NULL content matches nothing and keeps both output columns
    NULL; an empty and a whitespace-only content tokenize to no tokens
    and take the empty-template cluster, as the kernel does."""
    cfg = EngineConfig(mining_salt=1)
    res = mine_templates(clips_df(spark, ["", "hello world"]), cfg)
    rows = [("2026-08-02", "clip-0", None), ("2026-08-02", "clip-1", ""),
            ("2026-08-02", "clip-2", " \t "),
            ("2026-08-02", "clip-3", "hello world")]
    probe = spark.createDataFrame(
        rows, "ds string, clip_id string, transcript string")
    empty_cid = {r.template: r.cluster_id
                 for r in res.clusters.collect()}[""]
    for strategy in ("never", "fallback", "always"):
        got = {r.clip_id: (r.matched_cluster_id, r.matched_template)
               for r in match_clusters(probe, res.clusters, cfg,
                                       strategy=strategy).collect()}
        assert got["clip-0"] == (None, None), strategy
        assert got["clip-1"] == got["clip-2"] == (empty_cid, ""), strategy
        assert got["clip-3"][1] == "hello world", strategy
    res.unpersist()


def test_match_plan_is_one_python_eval(spark):
    """The matcher plans one Arrow Python eval node over the scan, which
    returns the cluster id only (a long): no broadcast join and no
    interpreted higher-order-function lambda."""
    cfg = EngineConfig(mining_salt=1)
    df = clips_df(spark, SSH_LINES)
    res = mine_templates(df, cfg)
    plan = match_clusters(df, res.clusters, cfg) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert re.search(r"ArrowEvalPython \[match_udf\([^]]*\)#\d+L\]", plan), plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "lambdafunction" not in plan, plan
    res.unpersist()
