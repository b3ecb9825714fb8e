"""Differential oracle: run the ACTUAL reference implementation
(/root/reference, imported read-only via tests/ref_compat shims) over the
full sf0.001 documents corpus and assert the engine's mining, cluster
table, and match inference agree ROW-FOR-ROW.

This upgrades the mining family (q6/q7/q26/q29 surfaces) from
golden-corpus-pinned to full-corpus-verified: the oracle is the
reference itself, not hand-copied expectations.

Order contract: the reference consumes a single sequential stream; the
engine mines with order_cols=(ds, clip_id).  Feeding the reference in
(source, doc_id) order — identical to the engine's (ds, clip_id) sort,
clip_id being zero-padded doc_id — makes the two streams comparable.
"""

import os

import pyarrow.parquet as pq
import pytest

from drain3_spark.config import EngineConfig
from drain3_spark.operators.matching import match_clusters
from drain3_spark.operators.mining import mine_templates

from tests.ref_compat import install_reference_shims

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.exists("/root/reference/drain3/drain.py"),
    reason="reference repo not present")


def _corpus():
    rows = pq.read_table(f"{SF_DIR}/documents.parquet",
                         columns=["doc_id", "text", "source"]).to_pylist()
    rows.sort(key=lambda r: (r["source"], r["doc_id"]))
    return rows


def _clips(spark, rows):
    return spark.createDataFrame(
        [(r["source"], "doc-%012d" % r["doc_id"], r["text"]) for r in rows],
        "ds string, clip_id string, transcript string")


def _reference_miner():
    install_reference_shims()
    from drain3.template_miner import TemplateMiner
    from drain3.template_miner_config import TemplateMinerConfig
    return TemplateMiner(config=TemplateMinerConfig())


@pytest.fixture(scope="module")
def mined(spark):
    """Reference miner + engine mining over the same corpus, once."""
    rows = _corpus()
    tm = _reference_miner()
    ref = [tm.add_log_message(r["text"]) for r in rows]
    cfg = EngineConfig(mining_mode="exact", mining_salt=1)
    clips = _clips(spark, rows)
    res = mine_templates(clips, cfg)
    yield rows, tm, ref, cfg, clips, res
    res.unpersist()


def test_differential_drain_mining(mined):
    rows, tm, ref, cfg, clips, res = mined
    got = res.assignments.orderBy("ds", "clip_id").collect()
    assert len(got) == len(ref) == len(rows)
    for i, (g, r) in enumerate(zip(got, ref)):
        assert g.template_mined == r["template_mined"], i
        assert g.cluster_id == r["cluster_id"], i
        assert g.change_type == r["change_type"], i

    ref_clusters = {c.cluster_id: c for c in tm.drain.clusters}
    eng = {r.cluster_id: r for r in res.clusters.collect()}
    assert set(eng) == set(ref_clusters)
    for cid, c in ref_clusters.items():
        assert eng[cid].template == c.get_template(), cid
        assert eng[cid].size == c.size, cid


@pytest.mark.parametrize("strategy", ["never", "fallback", "always"])
def test_differential_match_kernel(mined, strategy):
    rows, tm, ref, cfg, clips, res = mined
    ref_ids = []
    for r in rows:
        m = tm.match(r["text"], full_search_strategy=strategy)
        ref_ids.append(m.cluster_id if m is not None else None)
    out = (match_clusters(clips, res.clusters, cfg, strategy=strategy)
           .orderBy("ds", "clip_id").collect())
    assert [o.matched_cluster_id for o in out] == ref_ids


def test_differential_jaccard_mining(spark):
    rows = _corpus()
    install_reference_shims()
    from drain3.jaccard_drain import JaccardDrain
    jd = JaccardDrain(depth=4, sim_th=0.4, max_children=100,
                      parametrize_numeric_tokens=True)
    ref = []
    for r in rows:
        cluster, change = jd.add_log_message(r["text"])
        ref.append((cluster.cluster_id, cluster.get_template(), change))

    cfg = EngineConfig(engine="jaccard", mining_salt=1)
    clips = _clips(spark, rows)
    res = mine_templates(clips, cfg)
    got = res.assignments.orderBy("ds", "clip_id").collect()
    assert len(got) == len(ref)
    for i, (g, (cid, tpl, change)) in enumerate(zip(got, ref)):
        assert g.cluster_id == cid, i
        assert g.template_mined == tpl, i
        assert g.change_type == change, i

    ref_clusters = {c.cluster_id: c for c in jd.clusters}
    eng = {r.cluster_id: r for r in res.clusters.collect()}
    assert set(eng) == set(ref_clusters)
    for cid, c in ref_clusters.items():
        assert eng[cid].template == c.get_template(), cid
        assert eng[cid].size == c.size, cid

    # the jaccard bulk-inference path against the reference's match
    ref_match = []
    for r in rows:
        m = jd.match(r["text"], full_search_strategy="always")
        ref_match.append(m.cluster_id if m is not None else None)
    out = (match_clusters(clips, res.clusters, cfg, strategy="always")
           .orderBy("ds", "clip_id").collect())
    assert [o.matched_cluster_id for o in out] == ref_match
    res.unpersist()


def test_differential_extract_parameters_spark(spark):
    """Spark-path parameter extraction (match_clusters +
    extract_params_col) vs the reference's own extract_parameters
    (template_miner.py:205-249), row-for-row over the full q28
    events-derived corpus — closes the loop the kernel property tests
    leave open: the DISTRIBUTED path (kernel match UDF, Arrow extract UDF)
    against the reference, not just the local ParamExtractor."""
    import __spark_entry__ as entry
    from drain3_spark.config import MaskRule
    from drain3_spark.operators.extraction import extract_params_col
    from pyspark.sql import functions as F

    clips = entry._events_corpus(spark, SF_DIR)
    rows = clips.orderBy("ds", "clip_id").collect()
    assert rows, "events corpus is empty"

    install_reference_shims()
    from drain3.masking import MaskingInstruction
    from drain3.template_miner import TemplateMiner
    from drain3.template_miner_config import TemplateMinerConfig
    rcfg = TemplateMinerConfig()
    rcfg.masking_instructions = [MaskingInstruction(r"\d+", "NUM")]
    tm = TemplateMiner(config=rcfg)
    for r in rows:
        tm.add_log_message(r.transcript)

    cfg = EngineConfig(mining_mode="exact", mining_salt=1,
                       masking=[MaskRule(r"\d+", "NUM")])
    res = mine_templates(clips, cfg)
    matched = match_clusters(clips, res.clusters, cfg)
    got = (matched
           .withColumn("params", extract_params_col(
               F.col("matched_template"), F.col("transcript"), cfg))
           .orderBy("ds", "clip_id")
           .collect())

    # approximate mode too: the reference's get_parameter_list path
    # (template_miner.py:188-203) extracts with exact_matching=False
    got_approx = (matched
                  .withColumn("params", extract_params_col(
                      F.col("matched_template"), F.col("transcript"), cfg,
                      exact_matching=False))
                  .orderBy("ds", "clip_id")
                  .collect())

    n_nonempty = 0
    for i, (r, g, ga) in enumerate(zip(rows, got, got_approx)):
        m = tm.match(r.transcript, full_search_strategy="always")
        assert m is not None and g.matched_cluster_id == m.cluster_id, i
        for exact, row in ((True, g), (False, ga)):
            ref_params = tm.extract_parameters(m.get_template(), r.transcript,
                                               exact_matching=exact)
            want = (None if ref_params is None else
                    [(p.value, p.mask_name) for p in ref_params])
            have = (None if row.params is None else
                    [(p.value, p.mask_name) for p in row.params])
            assert have == want, (i, exact, r.transcript)
            if want and exact:
                n_nonempty += 1
    # the corpus must actually exercise extraction, not vacuously agree
    assert n_nonempty > 0
    res.unpersist()


def test_config_ini_matches_reference_loader(tmp_path):
    """The reference's own example ini parsed by BOTH loaders must yield
    identical drain/masking/snapshot/profiling settings — and the
    end-to-end check: mining a masked corpus under that config agrees."""
    install_reference_shims()
    from drain3.template_miner import TemplateMiner
    from drain3.template_miner_config import TemplateMinerConfig

    ini = "/root/reference/examples/drain3.ini"
    rcfg = TemplateMinerConfig()
    rcfg.load(ini)

    from drain3_spark.config import EngineConfig
    cfg = EngineConfig.load_ini(ini)

    assert cfg.sim_th == rcfg.drain_sim_th
    assert cfg.depth == rcfg.drain_depth
    assert cfg.max_children == rcfg.drain_max_children
    assert cfg.max_clusters == rcfg.drain_max_clusters
    assert cfg.parametrize_numeric_tokens == rcfg.parametrize_numeric_tokens
    assert list(cfg.extra_delimiters) == list(rcfg.drain_extra_delimiters)
    assert cfg.mask_prefix == rcfg.mask_prefix
    assert cfg.mask_suffix == rcfg.mask_suffix
    assert cfg.snapshot_interval_minutes == rcfg.snapshot_interval_minutes
    assert cfg.snapshot_compress_state == rcfg.snapshot_compress_state
    assert cfg.profiling_enabled == rcfg.profiling_enabled
    assert cfg.profiling_report_sec == rcfg.profiling_report_sec
    assert [(m.pattern, m.mask_with) for m in cfg.masking] == \
        [(mi.pattern_str if hasattr(mi, "pattern_str") else mi.regex.pattern,
          mi.mask_with) for mi in rcfg.masking_instructions]

    # end-to-end under the loaded configs: masked mining agrees
    from drain3_spark.core.kernel import TemplateBank
    from drain3_spark.core.masking import Masker
    tm = TemplateMiner(config=rcfg)
    masker = Masker(cfg.masking, cfg.mask_prefix, cfg.mask_suffix)
    bank = TemplateBank(sim_th=cfg.sim_th, depth=cfg.depth,
                        max_children=cfg.max_children,
                        max_clusters=cfg.max_clusters,
                        param_str=cfg.param_str,
                        parametrize_numeric_tokens=cfg.parametrize_numeric_tokens)
    lines = [
        "connected to 10.0.0.1:8080 from user alice",
        "connected to 192.168.7.9:443 from user bob",
        "heap used 12345678 bytes limit 0x7fffffff",
        "request took 250 ms status 200",
        "request took 900 ms status 500",
    ]
    for i, line in enumerate(lines):
        ref = tm.add_log_message(line)
        got = bank.ingest(masker.mask(line), order_key=f"{i:04d}")
        assert got["template_mined"] == ref["template_mined"], line
        assert got["cluster_id"] == ref["cluster_id"], line
