"""Read-only template matching (inference).

Reference semantics: drain3/drain.py:427-472 — perfect wildcard-aware
match (required similarity 1.0, wildcard slots count as matches), no
state mutation; strategies ``never`` (tree descent only), ``fallback``
(tree, then linear scan of same-token-count clusters), ``always``
(linear scan).

Two implementations, one tree search (the kernel's):

* :func:`match_clusters_sql` — Drain ``always`` only.  One Catalyst
  broadcast join keyed on token count: the bounded cluster table is
  rebuilt into a kernel bank on the driver, which lists each token
  count's candidates in its tree-walk order.  Perfect-match filter via
  ``forall(zip_with(...))``, argmax selection with ``array_max`` over
  (wildcard_count, -iteration_rank).  No shuffle of the big side; this
  is the scale path for Drain bulk inference (SURVEY.md §3.2).
* :func:`match_clusters` — kernel-backed Arrow pandas UDF for both
  engines and all three strategies; the bank is built once per task
  from the broadcast state.  It is the one path for the ``never`` /
  ``fallback`` tree descent and for Jaccard inference (q29): the Jaccard
  similarity argmax is a set computation per (row, candidate), which
  Catalyst can only express as interpreted higher-order-function
  lambdas, measured 2-4x slower than python sets over the bank.
"""

from __future__ import annotations

from typing import Iterator, List

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.functions import pandas_udf

from drain3_spark.config import EngineConfig
from drain3_spark.core.kernel import check_strategy
from drain3_spark.operators.masking import mask_col
from drain3_spark.operators.tokenize import tokens_col


def _candidates(spark, clusters: DataFrame, cfg: EngineConfig) -> DataFrame:
    """(token count, candidate array) rows, grouped on the driver: the
    bounded cluster table is rebuilt into a kernel bank once, and each
    token count's live clusters are listed in the bank's tree-walk order,
    which ``rank`` carries into the argmax."""
    from drain3_spark.operators.mining import make_bank
    from drain3_spark.util import local_df
    bank = make_bank(cfg, [tuple(r) for r in clusters.collect()])
    return local_df(
        spark,
        [(tc, [(rank, rec.cid, rec.template) for rank, rec in enumerate(recs)])
         for tc, recs in bank.clusters_by_token_count().items()],
        "_cands_tc long, "
        "_cands array<struct<rank:int,cid:long,template:string>>")


def _best_expr(cands_col, mtoks, w):
    """Perfect-match argmax over a candidate array: highest wildcard
    count wins, ties go to the EARLIEST candidate in kernel iteration
    order (rank carries that order; reference drain3/drain.py:116-150
    keeps the first winner)."""
    tpl = lambda c: F.when(c["template"] == "", F.array().cast("array<string>")) \
        .otherwise(F.split(c["template"], " "))

    def perfect(c):
        return F.forall(F.zip_with(tpl(c), mtoks,
                                   lambda a, b: (a == F.lit(w)) | (a == b)),
                        lambda x: x)

    ranked = F.transform(
        F.filter(cands_col, perfect),
        lambda c: F.struct(
            F.size(F.filter(tpl(c), lambda t: t == F.lit(w))).alias("wc"),
            (-c["rank"]).alias("negrank"),
            c["cid"].alias("cid"),
            c["template"].alias("template")))
    return F.array_max(ranked)


def match_clusters_sql(df: DataFrame,
                       clusters: DataFrame,
                       cfg: EngineConfig,
                       content_col: str = "transcript") -> DataFrame:
    """Bulk ``always`` inference (drain3/drain.py:449-451) as one
    broadcast join keyed on token count — the scale path (SURVEY.md
    §3.2); unmatched rows keep a null ``matched_cluster_id`` (violation
    candidates, SURVEY.md C6).

    Each row meets its token count's candidate array and takes the
    perfect-match argmax.  ZERO shuffle of the big side; selection
    reproduces the kernel's first-winner-on-ties iteration order via
    driver-assigned candidate ranks (verified row-for-row against the
    reference in tests/test_reference_differential.py).

    Drain engine only: the candidate table encodes Drain's perfect-match
    semantics, so a Jaccard ``cfg`` raises ``ValueError``.  The
    ``never`` / ``fallback`` tree search and Jaccard inference go through
    :func:`match_clusters`.
    """
    if cfg.engine != "drain":
        raise ValueError(
            f"match_clusters_sql implements Drain matching only, not "
            f"engine={cfg.engine!r}; use match_clusters")
    # no widen_small_scan (measured neutral): the per-row work here is
    # whole-stage-codegen'd and cheap per row — unlike the kernel-UDF
    # and HOF-lambda paths below, a one-task stage isn't the bottleneck
    cands = _candidates(df.sparkSession, clusters, cfg)
    masked = mask_col(F.col(content_col), cfg.masking, cfg.mask_prefix, cfg.mask_suffix)
    toks = tokens_col(masked, cfg.extra_delimiters)
    best = _best_expr(F.col("_cands"), F.col("_tokens"), cfg.param_str)
    return (df.withColumn("_tokens", toks)
            .join(F.broadcast(cands), F.size("_tokens") == F.col("_cands_tc"),
                  "left")
            .withColumn("_best", best)
            .withColumn("matched_cluster_id", F.col("_best.cid"))
            .withColumn("matched_template", F.col("_best.template"))
            .drop("_tokens", "_cands_tc", "_cands", "_best"))


def match_clusters(df: DataFrame,
                   cluster_rows: List[tuple],
                   cfg: EngineConfig,
                   content_col: str = "transcript",
                   strategy: str = "never") -> DataFrame:
    """Exact all-strategy inference via a kernel-backed Arrow UDF.

    ``cluster_rows`` are state-table tuples (see mining.CLUSTER_SCHEMA);
    the bank is rebuilt once per task and reused across its Arrow
    batches.  An unknown ``strategy`` raises ``ValueError``.
    """
    check_strategy(strategy)
    spark = df.sparkSession
    from drain3_spark.shipping import ship_package
    from drain3_spark.util import widen_small_scan
    ship_package(spark)
    # one scan partition would mean ONE match-UDF task while 31 cores
    # idle (measured 2.6-2.9s -> 0.7-1.4s at sf0.1 local[32])
    df = widen_small_scan(df)
    bc = spark.sparkContext.broadcast(list(cluster_rows))
    extra_delims = tuple(cfg.extra_delimiters)

    @pandas_udf(T.LongType())
    def match_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        from drain3_spark.core.kernel import tokenize
        from drain3_spark.operators.mining import make_bank
        bank = make_bank(cfg, bc.value)
        for series in it:
            out = []
            for masked in series:
                # tokenize in-UDF: the Arrow boundary moves one string
                # per row instead of a list<string> column (the kernel
                # tokenizer is parity-locked to the Catalyst one)
                rec = bank.match_tokens(tokenize(masked, extra_delims),
                                        strategy)
                out.append(rec.cid if rec is not None else None)
            yield pd.Series(out, dtype="object")

    masked = mask_col(F.col(content_col), cfg.masking, cfg.mask_prefix, cfg.mask_suffix)
    return df.withColumn("matched_cluster_id", match_udf(masked))
