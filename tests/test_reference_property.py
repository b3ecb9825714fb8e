"""Property-based differential tests: random corpora through the ACTUAL
reference implementation and this engine's kernel, asserted identical
per row.  Kernel-level (no Spark) — hypothesis explores corpus shapes
the fixed golden/differential corpora cannot: repeated merges, numeric
routing flips, max_children overflow, deep wildcard chains, empty
messages, LRU eviction orders.
"""

import os

import pytest
from hypothesis import given, settings, strategies as st

from drain3_spark.config import EngineConfig, MaskRule
from drain3_spark.core.extract import ParamExtractor
from drain3_spark.core.kernel import TemplateBank
from drain3_spark.core.kernel_jaccard import JaccardBank
from drain3_spark.core.masking import Masker

from tests.ref_compat import install_reference_shims

pytestmark = pytest.mark.skipif(
    not os.path.exists("/root/reference/drain3/drain.py"),
    reason="reference repo not present")

# small alphabets force collisions: same token counts, shared prefixes,
# numeric tokens that route to the wildcard child
_WORD = st.sampled_from(["alpha", "beta", "gamma", "delta", "svc", "node",
                         "up", "down", "x1", "7", "42", "n9", ""])
_LINE = st.lists(_WORD, min_size=0, max_size=8).map(" ".join)
_CORPUS = st.lists(_LINE, min_size=1, max_size=60)


def _ref_miner(max_clusters=None, depth=4, sim_th=0.4, max_children=100):
    install_reference_shims()
    from drain3.template_miner import TemplateMiner
    from drain3.template_miner_config import TemplateMinerConfig
    cfg = TemplateMinerConfig()
    cfg.drain_max_clusters = max_clusters
    cfg.drain_depth = depth
    cfg.drain_sim_th = sim_th
    cfg.drain_max_children = max_children
    return TemplateMiner(config=cfg)


@settings(max_examples=60, deadline=None, derandomize=True)
@given(corpus=_CORPUS)
def test_drain_ingest_matches_reference(corpus):
    tm = _ref_miner()
    bank = TemplateBank()
    for i, line in enumerate(corpus):
        ref = tm.add_log_message(line)
        got = bank.ingest(line, order_key=f"{i:06d}")
        assert got["template_mined"] == ref["template_mined"], (i, line)
        assert got["cluster_id"] == ref["cluster_id"], (i, line)
        assert got["change_type"] == ref["change_type"], (i, line)
        assert got["cluster_size"] == ref["cluster_size"], (i, line)
    ref_clusters = {c.cluster_id: c for c in tm.drain.clusters}
    eng = {r[0]: r for r in bank.export_state()}
    assert set(eng) == set(ref_clusters)
    for cid, c in ref_clusters.items():
        assert " ".join(eng[cid][1]) == c.get_template()
        assert eng[cid][2] == c.size

    # match parity for every line and strategy on the trained state
    for strategy in ("never", "fallback", "always"):
        for line in corpus:
            ref_m = tm.match(line, full_search_strategy=strategy)
            got_m = bank.match(line, strategy)
            assert (got_m.cid if got_m else None) == \
                (ref_m.cluster_id if ref_m else None), (strategy, line)


@settings(max_examples=30, deadline=None, derandomize=True)
@given(corpus=_CORPUS, max_clusters=st.integers(min_value=1, max_value=4))
def test_drain_lru_eviction_matches_reference(corpus, max_clusters):
    tm = _ref_miner(max_clusters=max_clusters)
    bank = TemplateBank(max_clusters=max_clusters)
    for i, line in enumerate(corpus):
        ref = tm.add_log_message(line)
        got = bank.ingest(line, order_key=f"{i:06d}")
        assert got["template_mined"] == ref["template_mined"], (i, line)
        assert got["cluster_id"] == ref["cluster_id"], (i, line)
        assert got["change_type"] == ref["change_type"], (i, line)
    ref_ids = sorted(c.cluster_id for c in tm.drain.clusters)
    assert sorted(r[0] for r in bank.export_state()) == ref_ids


@settings(max_examples=30, deadline=None, derandomize=True)
@given(corpus=_CORPUS)
def test_jaccard_ingest_matches_reference(corpus):
    install_reference_shims()
    from drain3.jaccard_drain import JaccardDrain
    jd = JaccardDrain(depth=4, sim_th=0.4, max_children=100,
                      parametrize_numeric_tokens=True)
    bank = JaccardBank()
    for i, line in enumerate(corpus):
        cluster, change = jd.add_log_message(line)
        got = bank.ingest(line, order_key=f"{i:06d}")
        assert got["template_mined"] == cluster.get_template(), (i, line)
        assert got["cluster_id"] == cluster.cluster_id, (i, line)
        assert got["change_type"] == change, (i, line)


_MSG_WORD = st.sampled_from(["user", "login", "from", "port", "ok",
                             "10.0.0.7", "192.168.1.2", "8080", "alice",
                             "x-9", "id=77"])
_MSG = st.lists(_MSG_WORD, min_size=1, max_size=8).map(" ".join)

_MASKS = [MaskRule(r"((?<=[^A-Za-z0-9])|^)(\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3})((?=[^A-Za-z0-9])|$)", "IP"),
          MaskRule(r"((?<=[^A-Za-z0-9])|^)([\-\+]?\d+)((?=[^A-Za-z0-9])|$)", "NUM")]


@settings(max_examples=40, deadline=None, derandomize=True)
@given(corpus=st.lists(_MSG, min_size=1, max_size=30))
def test_extract_parameters_matches_reference(corpus):
    """Mine with masking on both sides, then extract parameters for every
    (template, raw message) pair and compare ordered (value, mask_name)
    lists — including None on mismatch."""
    install_reference_shims()
    from drain3.masking import MaskingInstruction
    from drain3.template_miner import TemplateMiner
    from drain3.template_miner_config import TemplateMinerConfig
    rcfg = TemplateMinerConfig()
    rcfg.masking_instructions = [MaskingInstruction(m.pattern, m.mask_with)
                                 for m in _MASKS]
    tm = TemplateMiner(config=rcfg)

    cfg = EngineConfig(masking=list(_MASKS))
    masker = Masker(cfg.masking, cfg.mask_prefix, cfg.mask_suffix)
    bank = TemplateBank()
    ex = ParamExtractor(masker)

    templates = []
    for i, line in enumerate(corpus):
        ref = tm.add_log_message(line)
        got = bank.ingest(masker.mask(line), order_key=f"{i:06d}")
        assert got["template_mined"] == ref["template_mined"], (i, line)
        templates.append(ref["template_mined"])

    for template in templates:
        for line in corpus:
            ref_params = tm.extract_parameters(template, line)
            got_params = ex.extract(template, line)
            ref_norm = ([(p.value, p.mask_name) for p in ref_params]
                        if ref_params is not None else None)
            assert got_params == ref_norm, (template, line)


@settings(max_examples=40, deadline=None, derandomize=True)
@given(corpus_a=_CORPUS, corpus_b=_CORPUS)
def test_export_restore_matches_live_reference(corpus_a, corpus_b):
    """State round-trip fidelity: the engine exports after corpus A and
    restores into a FRESH bank before corpus B; the reference stays live
    throughout.  Per-row outputs on B and the final cluster tables must
    match — this pins the routing-token tree reconstruction (a restored
    tree must be path-identical to an uninterrupted run)."""
    tm = _ref_miner()
    bank1 = TemplateBank()
    for i, line in enumerate(corpus_a):
        tm.add_log_message(line)
        bank1.ingest(line, order_key=f"a{i:06d}")

    bank2 = TemplateBank.from_state(bank1.export_state(),
                                    counter=bank1.counter)
    for i, line in enumerate(corpus_b):
        ref = tm.add_log_message(line)
        got = bank2.ingest(line, order_key=f"b{i:06d}")
        assert got["template_mined"] == ref["template_mined"], (i, line)
        assert got["cluster_id"] == ref["cluster_id"], (i, line)
        assert got["change_type"] == ref["change_type"], (i, line)
        assert got["cluster_size"] == ref["cluster_size"], (i, line)

    ref_clusters = {c.cluster_id: (c.get_template(), c.size)
                    for c in tm.drain.clusters}
    eng = {r[0]: (" ".join(r[1]), r[2]) for r in bank2.export_state()}
    assert eng == ref_clusters

    for strategy in ("never", "fallback", "always"):
        for line in corpus_a + corpus_b:
            ref_m = tm.match(line, full_search_strategy=strategy)
            got_m = bank2.match(line, strategy)
            assert (got_m.cid if got_m else None) == \
                (ref_m.cluster_id if ref_m else None), (strategy, line)


@settings(max_examples=60, deadline=None, derandomize=True)
@given(line=st.text(alphabet=st.sampled_from(
    list("abz XYZ019.:-=/[]#") ), min_size=0, max_size=80))
def test_masker_matches_reference(line):
    """Masker parity on arbitrary text under the reference's own example
    masking rules (IP/NUM-style regexes from examples/drain3.ini)."""
    install_reference_shims()
    from drain3.masking import LogMasker, MaskingInstruction
    from drain3_spark.config import EngineConfig
    cfg = EngineConfig.load_ini("/root/reference/examples/drain3.ini")
    ref_masker = LogMasker([MaskingInstruction(m.pattern, m.mask_with)
                            for m in cfg.masking],
                           cfg.mask_prefix, cfg.mask_suffix)
    eng_masker = Masker(cfg.masking, cfg.mask_prefix, cfg.mask_suffix)
    assert eng_masker.mask(line) == ref_masker.mask(line), line
