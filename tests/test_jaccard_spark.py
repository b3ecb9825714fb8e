"""Jaccard engine through the distributed mining path."""

from drain3_spark.config import EngineConfig
from drain3_spark.operators.matching import match_clusters
from drain3_spark.operators.mining import mine_templates

LINES = [
    "check pass; user unknown",
    "check pass; user Lisa",
    "check pass; user li Sa",
    "session opened for user cyrus by (uid=0)",
    "session closed for user cyrus",
]


def test_jaccard_spark_mining_and_match(spark):
    df = spark.createDataFrame(
        [("2026-08-01", f"clip-{i:010d}", t) for i, t in enumerate(LINES)],
        "ds string, clip_id string, transcript string")
    cfg = EngineConfig(engine="jaccard")
    res = mine_templates(df, cfg)
    clusters = {r.cluster_id: r for r in res.clusters.collect()}
    # variable-length merging: all three "check pass" lines share cluster 1
    got = {r.clip_id: r.cluster_id for r in res.assignments.collect()}
    assert got["clip-0000000000"] == got["clip-0000000001"] == got["clip-0000000002"] == 1
    # jaccard group key = first token; both "session ..." lines share a group
    probe = spark.createDataFrame(
        [("2026-08-02", "p-0", "check pass; user boris"),
         ("2026-08-02", "p-1", "session opened for user cyrus by (uid=1)"),
         ("2026-08-02", "p-2", "nothing")],
        "ds string, clip_id string, transcript string")
    m = {r.clip_id: r.matched_cluster_id
         for r in match_clusters(probe, res.clusters, cfg,
                                 strategy="never").collect()}
    assert m["p-0"] == 1
    assert m["p-1"] == 2
    assert m["p-2"] is None
    res.unpersist()


def _driver_match_always(state, cfg, texts):
    """Driver-side reference for the Spark match path: rebuild the
    Jaccard bank from the cluster rows and match each text with the
    kernel's ``always`` strategy, one row at a time."""
    from drain3_spark.core.kernel import tokenize
    from drain3_spark.core.kernel_jaccard import JaccardBank
    from drain3_spark.core.masking import Masker
    from drain3_spark.operators.mining import cluster_tuples_to_state

    rows = sorted(cluster_tuples_to_state(state), key=lambda s: s[0])
    bank = JaccardBank.from_state(
        rows, sim_th=cfg.sim_th, depth=cfg.depth,
        max_children=cfg.max_children, max_clusters=None,
        param_str=cfg.param_str,
        parametrize_numeric_tokens=cfg.parametrize_numeric_tokens)
    masker = Masker(cfg.masking, cfg.mask_prefix, cfg.mask_suffix)
    out = []
    for text in texts:
        rec = bank.match_tokens(
            tokenize(masker.mask(text), cfg.extra_delimiters), "always")
        out.append(rec.cid if rec is not None else None)
    return out


def test_q29_kernel_equals_sql_formulation(spark):
    """q29 grades the Arrow-kernel jaccard match; its result must equal
    a driver-side kernel match of the same corpus, aggregated
    identically."""
    import os
    from collections import Counter

    import pytest
    sf = "/root/testdata/sf0.001"
    if not os.path.exists(f"{sf}/documents.parquet"):
        pytest.skip("driver testdata not present")
    import __spark_entry__ as entry

    kernel = {(r.matched_cluster_id, r.n_docs)
              for r in entry._q29_jaccard_match(spark, sf).collect()}
    cfg = EngineConfig(engine="jaccard")
    clips = entry._docs_as_clips(spark, sf)
    res = entry._mined(spark, sf, engine="jaccard")
    state = [tuple(r) for r in res.clusters.collect()]
    texts = [r.transcript for r in clips.select("transcript").collect()]
    driver = set(Counter(_driver_match_always(state, cfg, texts)).items())
    assert kernel == driver
    assert len(kernel) > 1


def test_jaccard_sql_match_equals_kernel(spark):
    """Spark jaccard inference (``match_clusters``, strategy
    ``always``) must equal the driver-side kernel match row-for-row on
    the golden corpus."""
    corpus = LINES + [
        "check fail; user unknown",
        "disk /dev/sda1 is 97% full",
        "disk /dev/sdb2 is 13% full",
        "backup finished ok",
        "backup finished with 3 warnings now",
    ]
    df = spark.createDataFrame(
        [("2026-08-01", f"clip-{i:010d}", t) for i, t in enumerate(corpus)],
        "ds string, clip_id string, transcript string")
    cfg = EngineConfig(engine="jaccard")
    res = mine_templates(df, cfg)
    state = [tuple(r) for r in res.clusters.collect()]

    probes = corpus + [
        "check pass; user zeta",
        "session opened for user root by (uid=9)",
        "disk /dev/sdc3 is 55% full",
        "backup finished ok today",
        "completely different line with no anchor",
        "",
    ]
    probe = spark.createDataFrame(
        [("2026-08-02", f"p-{i:04d}", t) for i, t in enumerate(probes)],
        "ds string, clip_id string, transcript string")

    want = {r.clip_id: r.matched_cluster_id
            for r in match_clusters(probe, res.clusters, cfg).collect()}
    got = dict(zip((f"p-{i:04d}" for i in range(len(probes))),
                   _driver_match_always(state, cfg, probes)))
    assert got == want, {k: (got[k], want[k]) for k in got if got[k] != want[k]}
    # at least one real match and one null in the comparison
    assert any(v is not None for v in want.values())
    assert any(v is None for v in want.values())
    res.unpersist()
