"""Read-only template matching (inference).

Reference semantics: drain3/drain.py:427-472 — perfect wildcard-aware
match (required similarity 1.0, wildcard slots count as matches), no
state mutation; strategies ``never`` (tree descent only), ``fallback``
(tree, then linear scan of same-token-count clusters), ``always``
(linear scan).

One implementation, :func:`match_clusters`: a kernel-backed
``arrow_udf`` for both engines and all three strategies.  The cluster
table is a local relation, so the driver collects it without a job and
broadcasts the rows; each task rebuilds the kernel bank once and reuses
it across its Arrow batches.  The UDF returns only the matched cluster
id; the JVM looks its template up in a literal ``cluster_id ->
template`` map, so no template crosses back from Python.  The kernel
is the one tree search, and its ``always`` candidate order is the
reference's first-winner-on-ties order (drain3/drain.py:116-150).  The
per-(row, candidate) perfect-match test and the Jaccard set similarity
run as Python over the bank, not as interpreted Catalyst
higher-order-function lambdas (PLANS.md "Higher-order functions vs
Arrow UDFs").
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import arrow_udf

from drain3_spark.config import EngineConfig
from drain3_spark.core.kernel import check_strategy
from drain3_spark.operators.masking import mask_col


def match_clusters(df: DataFrame,
                   clusters: DataFrame,
                   cfg: EngineConfig,
                   content_col: str = "transcript",
                   strategy: str = "always") -> DataFrame:
    """``df`` plus ``matched_cluster_id`` and ``matched_template``: the
    perfect match of each row's masked ``content_col`` against
    ``clusters`` (a CLUSTER_SCHEMA frame, as ``mine_templates`` returns
    it) under ``strategy``.

    A row without a match, and a NULL content, keep both columns NULL
    (violation candidates, SURVEY.md C6).  An unknown ``strategy``
    raises ``ValueError``.
    """
    check_strategy(strategy)
    spark = df.sparkSession
    from drain3_spark.shipping import ship_package
    from drain3_spark.util import widen_small_scan
    ship_package(spark)
    # one scan partition would mean ONE match-UDF task while 31 cores
    # idle (measured 2.6-2.9s -> 0.7-1.4s at sf0.1 local[32])
    df = widen_small_scan(df)
    bc = spark.sparkContext.broadcast([tuple(r) for r in clusters.collect()])
    extra_delims = tuple(cfg.extra_delimiters)

    @arrow_udf("long")
    def match_udf(it: Iterator[pa.Array]) -> Iterator[pa.Array]:
        from drain3_spark.core.kernel import tokenize
        from drain3_spark.operators.mining import make_bank
        bank = make_bank(cfg, bc.value)
        for batch in it:
            cids = []
            for masked in batch.to_pylist():
                # tokenize in-UDF: the Arrow boundary moves one string
                # per row instead of a list<string> column (the kernel
                # tokenizer is parity-locked to the Catalyst one)
                rec = None if masked is None else bank.match_tokens(
                    tokenize(masked, extra_delims), strategy)
                cids.append(None if rec is None else rec.cid)
            yield pa.array(cids, type=pa.int64())

    # each id's template as the bank restores it (a later row of an id
    # wins, a NULL template is ""), as one SQL literal of hex UTF-8
    templates = {int(r[0]): r[3] or "" for r in bc.value}
    ids = ", ".join(f"{c}L" for c in templates)
    hexes = ", ".join(f"X'{t.encode().hex()}'" for t in templates.values())
    template_of = F.expr(f"CAST(map_from_arrays(array({ids}), array({hexes}))"
                         " AS MAP<BIGINT, STRING>)")
    masked = mask_col(F.col(content_col), cfg.masking, cfg.mask_prefix, cfg.mask_suffix)
    return (df.withColumn("matched_cluster_id", match_udf(masked))
            .withColumn("matched_template",
                        F.try_element_at(template_of,
                                         F.col("matched_cluster_id"))))


# perfbench (frozen with the benchmark) calls and wraps the matcher by
# this name; it is its only caller
match_clusters_sql = match_clusters
