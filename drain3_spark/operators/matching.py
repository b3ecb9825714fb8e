"""Read-only template matching (inference).

Reference semantics: drain3/drain.py:427-472 — perfect wildcard-aware
match (required similarity 1.0, wildcard slots count as matches), no
state mutation; strategies ``never`` (tree descent only), ``fallback``
(tree, then linear scan of same-token-count clusters), ``always``
(linear scan).

Two implementations:

* :func:`match_clusters_sql` — Drain engine only.  Pure Catalyst
  broadcast joins for ALL three strategies: the bounded cluster table
  is rebuilt into a kernel bank on the driver, flattened into
  scan/leaf/tree-level join tables, and the fixed-depth descent (exact
  child first, wildcard fallback, no backtracking) is unrolled into one
  tiny broadcast join per tree level (exactly ONE for the default
  depth=4).  Perfect-match filter via ``forall(zip_with(...))``, argmax
  selection with ``array_max`` over (wildcard_count, -iteration_rank).
  No shuffle of the big side in any strategy; this is the scale path
  for Drain bulk inference (SURVEY.md §3.2).
* :func:`match_clusters` — kernel-backed Arrow pandas UDF for both
  engines; the bank is built once per executor from the broadcast state
  and cached.  It is the one Jaccard inference path (q29): the Jaccard
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
from drain3_spark.operators.masking import mask_col
from drain3_spark.operators.tokenize import tokens_col


_CAND_SCHEMA = ("tc long, key array<string>, rank int, cid long, "
                "template string")


def _bank_from_clusters(clusters: DataFrame, cfg: EngineConfig):
    """Driver-side kernel bank rebuilt from the (broadcast-small, bounded
    by max_clusters) cluster table — the same rebuild the kernel UDF does
    per worker, done once on the driver to derive join tables."""
    from drain3_spark.core.kernel import TemplateBank
    from drain3_spark.operators.mining import cluster_tuples_to_state
    state = cluster_tuples_to_state([tuple(r) for r in clusters.collect()])
    state.sort(key=lambda s: s[0])
    return TemplateBank.from_state(
        state, sim_th=cfg.sim_th, depth=cfg.depth,
        max_children=cfg.max_children, max_clusters=None,
        param_str=cfg.param_str,
        parametrize_numeric_tokens=cfg.parametrize_numeric_tokens)


def _tree_tables(bank):
    """Flatten the bank's prefix tree into relational rows.

    Returns (scan_rows, leaf_rows, parent_rows):

    * scan_rows — (tc, [], rank, cid, template): every live cluster under
      a token-count node in TREE-WALK order (drain3/drain.py:234-253) —
      the ``always`` candidate order, so rank reproduces the kernel's
      first-winner-on-ties iteration exactly (including post-merge banks
      where id order ≠ walk order).
    * leaf_rows — (tc, path, rank, cid, template): candidates at each
      leaf in node-id order — the ``never`` candidate set.
    * parent_rows — per descent level: (level, tc, parent_path,
      children): the existing child tokens under each internal node,
      driving the exact-child-first / wildcard-fallback walk
      (drain3/drain.py:282-318) without backtracking.
    """
    from drain3_spark.core.kernel import _CHILD, _IDS
    scan_rows, leaf_rows, parent_rows = [], [], []
    for tc, level1 in bank.root[_CHILD].items():
        for rank, cid in enumerate(bank._ids_for_token_count(tc)):
            rec = bank.registry.get(cid)
            if rec is not None:
                scan_rows.append((tc, [], rank, cid, rec.template))
        stack = [(level1, [])]
        while stack:
            node, path = stack.pop()
            live = [cid for cid in node[_IDS] if cid in bank.registry]
            for rank, cid in enumerate(live):
                leaf_rows.append((tc, path, rank, cid,
                                  bank.registry[cid].template))
            if node[_CHILD]:
                parent_rows.append((len(path) + 1, tc, path,
                                    list(node[_CHILD].keys())))
                for tok, child in node[_CHILD].items():
                    stack.append((child, path + [tok]))
    return scan_rows, leaf_rows, parent_rows


def _cands_rhs(spark, rows, key_col: str):
    """(tc, key) -> rank-ordered candidate array, Arrow-local then
    aggregated (tiny: bounded by the cluster table)."""
    from drain3_spark.util import local_df
    flat = local_df(spark, rows, _CAND_SCHEMA)
    return (flat.groupBy(F.col("tc").alias(f"_{key_col}_tc"),
                         F.col("key").alias(f"_{key_col}_key"))
            .agg(F.array_sort(F.collect_list(F.struct(
                "rank", "cid", "template"))).alias(f"_{key_col}_cands")))


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
                       content_col: str = "transcript",
                       strategy: str = "always") -> DataFrame:
    """Bulk inference for ALL three reference strategies as broadcast
    joins — the scale path (SURVEY.md §3.2); unmatched rows keep a null
    ``matched_cluster_id`` (violation candidates, SURVEY.md C6).

    * ``always`` (drain3/drain.py:449-451): one broadcast join keyed on
      token count; perfect-match argmax over the tree-walk-ordered
      candidate array.
    * ``never`` (drain3/drain.py:437-447): the fixed-depth tree descent
      is join-unrolled — the tree is rebuilt once on the driver from the
      bounded cluster table, its internal levels become (depth-3)+1 tiny
      broadcast joins (ONE for the default depth=4): each level resolves
      the child via exact-token-first / wildcard-fallback against the
      node's child set, a miss nulls the path (no backtracking, exactly
      the reference walk), and the final join maps (token_count, path)
      to that leaf's candidates.
    * ``fallback``: ``never`` result, else the ``always`` scan — the
      scan argmax is guarded by a ``when`` so it only evaluates on
      tree-miss rows.

    ZERO shuffle of the big side in every strategy; selection reproduces
    the kernel's first-winner-on-ties iteration order via driver-assigned
    candidate ranks (verified row-for-row against the reference in
    tests/test_reference_differential.py).

    Drain engine only: the join tables encode Drain's perfect-match
    semantics, so a Jaccard ``cfg`` raises ``ValueError`` (use
    :func:`match_clusters`).
    """
    if cfg.engine != "drain":
        raise ValueError(
            f"match_clusters_sql implements Drain matching only, not "
            f"engine={cfg.engine!r}; use match_clusters")
    assert strategy in ("never", "fallback", "always")
    spark = df.sparkSession
    # no widen_small_scan (measured neutral): the per-row work here is
    # whole-stage-codegen'd and cheap per row — unlike the kernel-UDF
    # and HOF-lambda paths below, a one-task stage isn't the bottleneck
    w = cfg.param_str
    bank = _bank_from_clusters(clusters, cfg)
    scan_rows, leaf_rows, parent_rows = _tree_tables(bank)

    masked = mask_col(F.col(content_col), cfg.masking, cfg.mask_prefix, cfg.mask_suffix)
    toks = tokens_col(masked, cfg.extra_delimiters)
    lhs = df.withColumn("_tokens", toks).withColumn("_tc", F.size("_tokens"))
    mtoks = F.col("_tokens")
    drop_cols = ["_tokens", "_tc", "_best"]

    best_scan = None
    if strategy in ("always", "fallback"):
        rhs = _cands_rhs(spark, scan_rows, "scan")
        lhs = lhs.join(F.broadcast(rhs),
                       F.col("_tc") == F.col("_scan_tc"), "left")
        best_scan = _best_expr(F.col("_scan_cands"), mtoks, w)
        drop_cols += ["_scan_tc", "_scan_key", "_scan_cands"]

    best_tree = None
    if strategy in ("never", "fallback"):
        from drain3_spark.util import local_df
        lhs = lhs.withColumn("_path", F.array().cast("array<string>"))
        for level in range(1, bank.max_node_depth):
            prows = [r[1:] for r in parent_rows if r[0] == level]
            pdf = local_df(spark, prows,
                           f"_p{level}_tc long, _p{level}_path array<string>, "
                           f"_p{level}_children array<string>")
            lhs = lhs.join(F.broadcast(pdf),
                           (F.col("_tc") == F.col(f"_p{level}_tc"))
                           & (F.col("_path") == F.col(f"_p{level}_path")),
                           "left")
            tok = F.get(mtoks, level - 1)
            kids = F.col(f"_p{level}_children")
            # level active only while the walk would consume a token
            # (depth < max_node_depth enforced by the loop bound,
            # depth < token_count checked per row; drain3/drain.py:288-292)
            lhs = lhs.withColumn(
                "_path",
                F.when(F.lit(level) >= F.col("_tc"), F.col("_path"))
                .when(F.array_contains(kids, tok), F.array_append("_path", tok))
                .when(F.array_contains(kids, F.lit(w)),
                      F.array_append("_path", F.lit(w)))
                .otherwise(F.lit(None).cast("array<string>")))
            drop_cols += [f"_p{level}_tc", f"_p{level}_path",
                          f"_p{level}_children"]
        leaf_rhs = _cands_rhs(spark, leaf_rows, "leaf")
        lhs = lhs.join(F.broadcast(leaf_rhs),
                       (F.col("_tc") == F.col("_leaf_tc"))
                       & (F.col("_path") == F.col("_leaf_key")), "left")
        best_tree = _best_expr(F.col("_leaf_cands"), mtoks, w)
        drop_cols += ["_path", "_leaf_tc", "_leaf_key", "_leaf_cands"]

    if strategy == "always":
        best = best_scan
    elif strategy == "never":
        best = best_tree
    else:
        # Coalesce short-circuits per row in codegen: the scan argmax
        # only evaluates on tree-miss rows
        best = F.coalesce(best_tree, best_scan)

    return (lhs.withColumn("_best", best)
            .withColumn("matched_cluster_id", F.col("_best.cid"))
            .withColumn("matched_template", F.col("_best.template"))
            .drop(*drop_cols))


def match_clusters(df: DataFrame,
                   cluster_rows: List[tuple],
                   cfg: EngineConfig,
                   content_col: str = "transcript",
                   strategy: str = "never") -> DataFrame:
    """Exact all-strategy inference via a kernel-backed Arrow UDF.

    ``cluster_rows`` are state-table tuples (see mining.CLUSTER_SCHEMA);
    the bank is rebuilt once per Python worker and reused across batches.
    """
    assert strategy in ("never", "fallback", "always")
    spark = df.sparkSession
    from drain3_spark.shipping import ship_package
    from drain3_spark.util import widen_small_scan
    ship_package(spark)
    # one scan partition would mean ONE match-UDF task while 31 cores
    # idle (measured 2.6-2.9s -> 0.7-1.4s at sf0.1 local[32])
    df = widen_small_scan(df)
    bc = spark.sparkContext.broadcast(list(cluster_rows))
    kw = dict(sim_th=cfg.sim_th, depth=cfg.depth, max_children=cfg.max_children,
              max_clusters=None, param_str=cfg.param_str,
              parametrize_numeric_tokens=cfg.parametrize_numeric_tokens)

    engine_name = cfg.engine
    extra_delims = tuple(cfg.extra_delimiters)

    @pandas_udf(T.LongType())
    def match_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        from drain3_spark.core.kernel import TemplateBank, tokenize
        if engine_name == "jaccard":
            from drain3_spark.core.kernel_jaccard import JaccardBank as TemplateBank
        from drain3_spark.operators.mining import cluster_tuples_to_state
        rows = bc.value
        state = cluster_tuples_to_state(rows)
        state.sort(key=lambda s: s[0])
        bank = TemplateBank.from_state(state, **kw)
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
