"""Similarity search over embedding columns (array<float>).

* brute-force cosine top-k — the correctness baseline: one narrow pass
  computing dot/norms with ``F.zip_with`` + ``F.aggregate`` (JVM
  higher-order functions, no UDF), then a global top-k (Spark's
  ``orderBy().limit(k)`` is a per-partition heap + driver merge, not a
  full sort).
* IVF top-k — the scale path: deterministic coarse centroids (the first
  C vectors by id), every vector assigned to its ``probes`` nearest
  centroids in one narrow pass (:func:`assign_ivf_buckets_multiprobe`;
  single-probe assignment is its ``probes=1`` case), queries probe only
  the P nearest buckets.  Recall < 1 by construction; the bench reports
  both.
* cosine near-dup pairs within blocks (embedding dedup).  Every near-dup
  operator — labeled, self-blocking, and the audio operators in
  :mod:`drain3_spark.pipeline.audio_sim` — blocks its candidates its own
  way and then runs ONE exact verify: :func:`_verify_pairs` (Catalyst
  expressions, bit-reproducible against the DuckDB oracle) or
  :func:`_blas_pairs_by_block` (one Gram-matrix Arrow task per block).
"""

from __future__ import annotations

import operator
from typing import Callable, Sequence, Tuple

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_col(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _vec_lit(vec: Sequence[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in vec])


def cosine_topk(embeddings: DataFrame, query: Sequence[float], k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Brute-force cosine top-k against a literal query vector."""
    from drain3_spark.util import widen_small_scan
    q = _vec_lit(query)
    # per-row HOF cosine is interpreted — don't let a one-partition
    # scan serialize the whole corpus onto one task (no-op at scale)
    return (widen_small_scan(embeddings)
            .select(F.col(id_col),
                    F.round(cosine_col(F.col(vec_col).cast("array<double>"), q), 6)
                    .alias("cosine"))
            .orderBy(F.desc("cosine"), F.col(id_col))
            .limit(k))


def _collect_centroids(embeddings: DataFrame, num_centroids: int,
                       id_col: str, vec_col: str):
    """First ``num_centroids`` vectors by id, sorted by centroid id —
    the deterministic coarse quantizer shared by every IVF operator."""
    rows = (embeddings.orderBy(id_col).limit(num_centroids)
            .select(F.col(id_col).alias("centroid_id"),
                    F.col(vec_col).cast("array<double>").alias("cvec"))
            .collect())
    rows.sort(key=lambda r: r["centroid_id"])
    return rows


def _centroid_array_df(spark, cent_rows) -> DataFrame:
    """ONE-row DataFrame whose single column is the centroid table as
    ``array<struct<cid,cvec>>`` — attached to the embedding scan by a
    broadcast of one row, so the assignment stays a zero-Exchange
    narrow pass.  The former shape inlined C x dim double LITERALS into
    the expression tree; at C=8, dim=64 that is a 512-literal codegen
    method that janino takes seconds to compile on a query's first run
    (the doubles here travel via Arrow instead, bit-exactly)."""
    from drain3_spark.util import local_df
    data = [([(int(r["centroid_id"]), [float(v) for v in r["cvec"]])
              for r in cent_rows],)]
    return local_df(
        spark, data,
        "_cents array<struct<cid:bigint,cvec:array<double>>>")


def assign_ivf_buckets(embeddings: DataFrame, num_centroids: int = 16,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Assign each vector to its nearest coarse centroid in ONE NARROW
    PASS — zero Exchange: ``(id, bucket, vec)``, the ``probes=1`` case of
    :func:`assign_ivf_buckets_multiprobe`.

    Centroids are the first ``num_centroids`` vectors by id —
    deterministic, no iterative k-means needed for a bucketing layout.
    The centroid table is tiny and bounded, so it is collected once and
    pushed to executors as a broadcast one-row array; the argmin happens
    per row with no shuffle.  (The naive broadcast-join + min_by
    formulation materializes N x C rows through an Exchange — a 1024x
    row blowup at C=1024; at 10^12 rows that Exchange IS the job.)
    Ties break to the lowest centroid id.
    """
    return assign_ivf_buckets_multiprobe(embeddings, num_centroids, 1,
                                         id_col, vec_col).drop("probe")


def assign_ivf_buckets_multiprobe(embeddings: DataFrame,
                                  num_centroids: int = 16, probes: int = 2,
                                  id_col: str = "vec_id",
                                  vec_col: str = "embedding") -> DataFrame:
    """Multi-probe IVF assignment: each vector lands in its ``probes``
    NEAREST coarse buckets — ``(id, probe, bucket, vec)``, one row per
    (vector, probe), still a single narrow pass with zero Exchange
    (see :func:`assign_ivf_buckets`; the explode is a per-row
    generator, not a shuffle).

    This is the SELF-BLOCKING layer for unlabeled corpora: with
    ``probes=1`` a near-dup pair straddling a Voronoi boundary is
    silently lost; replicating every vector into its second-nearest
    bucket recovers exactly the boundary-straddling pairs (both members
    of a close pair have nearly equal distances to their two nearest
    centroids, so the probe sets intersect).  Index blowup is bounded:
    ``probes``× rows, never quadratic.  Ties break to the lowest
    centroid id.
    """
    cent_rows = _collect_centroids(embeddings, num_centroids, id_col, vec_col)
    probes = min(probes, len(cent_rows))
    e = embeddings.select(id_col, F.col(vec_col).cast("array<double>").alias("vec"))

    cents = _centroid_array_df(embeddings.sparkSession, cent_rows)
    scored = F.transform(
        F.col("_cents"),
        lambda c: F.struct(
            F.aggregate(F.zip_with(F.col("vec"), c["cvec"],
                                   lambda x, y: (x - y) * (x - y)),
                        F.lit(0.0), lambda acc, v: acc + v).alias("d"),
            c["cid"].alias("cid")))
    # struct sort orders by (d, cid) — the first `probes` entries are
    # the nearest buckets with deterministic low-cid tie-break
    top = F.slice(F.array_sort(scored), 1, probes)
    return (e.crossJoin(F.broadcast(cents))
            .select(id_col, "vec",
                    F.posexplode(top).alias("probe", "_s"))
            .select(id_col, F.col("probe").cast("int").alias("probe"),
                    F.col("_s")["cid"].alias("bucket"), "vec"))


def cosine_near_dup_pairs_auto(embeddings: DataFrame, threshold: float = 0.95,
                               num_centroids: int = 16, probes: int = 2,
                               id_col: str = "vec_id",
                               vec_col: str = "embedding",
                               method: str = "catalyst") -> DataFrame:
    """Embedding near-duplicate pairs WITHOUT a label column — the
    turnkey shape for a real unlabeled 100-TB embedding corpus:
    :func:`assign_ivf_buckets_multiprobe` supplies the block column,
    then pairs form only within shared buckets (the pair space is
    bounded by the largest bucket, never the corpus) and a pair probed
    into several common buckets is deduplicated after the verify, on
    the slim pair rows (:func:`_verify_pairs`).

    Approximate by construction: a pair whose probe sets are disjoint
    is missed.  With ``probes=2`` the boundary-straddling pairs that
    single-probe blocking loses are recovered (measured recall on the
    fixture corpus is pinned by
    ``test_auto_near_dup_multiprobe_recall``); the returned cosines are
    exact and identical to the blocked-brute-force operator, so
    precision is 1 by construction.

    ``method="catalyst"`` (default) evaluates per-pair cosines as pure
    expressions — bit-reproducible against the DuckDB oracle.
    ``method="blas"`` is the scale path: each bucket's pairs come out of
    one Gram-matrix Arrow task (:func:`_blas_pairs_by_block`), then the
    cross-probe duplicates are dropped; same pairs, cosines agree to
    float tolerance (pinned by
    ``test_auto_near_dup_blas_matches_catalyst``).
    """
    assigned = assign_ivf_buckets_multiprobe(embeddings, num_centroids,
                                             probes, id_col, vec_col)
    e = assigned.select(F.col(id_col).alias("id"),
                        F.col("bucket").alias("blk"), "vec")
    if method == "blas":
        return (_blas_pairs_by_block(e, threshold)
                .dropDuplicates(["id_a", "id_b"]))
    # the per-pair cosine is an interpreted HOF expression: widen a
    # one-partition scan (no-op at scale, see widen_small_scan)
    from drain3_spark.util import widen_small_scan
    e = widen_small_scan(e)
    return _verify_pairs(e, e, threshold, operator.lt)


def ivf_topk(embeddings: DataFrame, query: Sequence[float], k: int = 10,
             num_centroids: int = 16, probes: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF-style approximate top-k: search only the ``probes`` buckets
    whose centroids are nearest the query."""
    assigned = assign_ivf_buckets(embeddings, num_centroids, id_col, vec_col)
    cents = (embeddings.orderBy(id_col).limit(num_centroids)
             .select(F.col(id_col).alias("centroid_id"),
                     F.col(vec_col).cast("array<double>").alias("cvec")))
    q = _vec_lit(query)
    qdist = F.aggregate(F.zip_with(F.col("cvec"), q, lambda x, y: (x - y) * (x - y)),
                        F.lit(0.0), lambda acc, v: acc + v)
    probe_ids = [r["centroid_id"] for r in
                 cents.orderBy(qdist).limit(probes).collect()]
    return (assigned
            .filter(F.col("bucket").isin(probe_ids))
            .select(F.col(id_col),
                    F.round(cosine_col(F.col("vec"), q), 6).alias("cosine"))
            .orderBy(F.desc("cosine"), F.col(id_col))
            .limit(k))


def _verify_pairs(a: DataFrame, b: DataFrame, threshold: float,
                  pair: Callable[[Column, Column], Column],
                  names: Tuple[str, str] = ("id_a", "id_b")) -> DataFrame:
    """The exact Catalyst cosine verify of every near-dup operator: join
    the ``(id, blk, vec)`` sides ``a`` and ``b`` on ``blk`` where
    ``pair(id_a, id_b)`` holds (``operator.lt`` for a self-join,
    ``operator.ne`` for batch-vs-index), keep the pairs whose rounded
    cosine reaches ``threshold``, and return one slim
    ``(names[0], names[1], cosine)`` row per id pair.

    * Norms are per-ROW quantities, computed once on each side, so each
      candidate pair evaluates the dot fold alone.  dot/(norm_a*norm_b)
      over the SAME doubles is bit-identical to the inlined cosine — no
      float reassociation, so the rounded cosine (and the oracle hash)
      cannot move.
    * The threshold sits in the join condition: candidates die inside
      the join operator and only survivors leave it.
    * A pair that shares several blocks (multi-probe IVF buckets, LSH
      bands) is deduplicated AFTER the threshold, on the slim rows.
      Deduplicating the raw candidates shuffled every pair WITH both
      vectors attached (guide §2.3: shuffle keys, not payloads —
      measured 736 s for q38 on a 20k-vector corpus).  Every occurrence
      of a pair yields the same cosine, so the row set is identical.
    """
    ia, ib = names

    def side(df: DataFrame, id_name: str, s: str) -> DataFrame:
        return df.select(F.col("id").alias(id_name),
                         F.col("blk").alias(f"_blk_{s}"),
                         F.col("vec").alias(f"_vec_{s}"),
                         _norm(F.col("vec")).alias(f"_nrm_{s}"))

    cosine = F.round(_dot(F.col("_vec_a"), F.col("_vec_b"))
                     / (F.col("_nrm_a") * F.col("_nrm_b")), 6)
    return (side(a, ia, "a")
            .join(side(b, ib, "b"),
                  (F.col("_blk_a") == F.col("_blk_b"))
                  & pair(F.col(ia), F.col(ib)) & (cosine >= threshold))
            .select(ia, ib, cosine.alias("cosine"))
            .dropDuplicates([ia, ib]))


def _blas_pairs_by_block(e: DataFrame, threshold: float) -> DataFrame:
    """Gram-matrix near-dup pairs within blocks: ONE shuffle groups each
    block's ``(id, blk, vec)`` rows into an Arrow task, numpy computes
    the normalized ``X @ X.T`` (BLAS, dim-vectorized) and emits only
    above-threshold pairs ``(id_a, id_b, cosine)`` with ``id_a < id_b`` —
    per-block work is O(n² d) in native code and the quadratic
    intermediate never leaves the task.  The Gram matrix is computed in
    ROW CHUNKS so peak allocation is O(chunk x n), not O(n²) — a hot
    block stays memory-bounded (n=8k with full ``triu_indices`` would
    transiently allocate ~1 GB of index arrays alone).  The output ids
    keep the input ``id`` type: numpy sorts strings by code point, which
    is the UTF-8 byte order of Spark's ``<``.  Shared by the labeled
    (:func:`cosine_near_dup_pairs`), self-blocking
    (:func:`cosine_near_dup_pairs_auto`), and audio
    (:func:`drain3_spark.pipeline.audio_sim.audio_near_dup_pairs`)
    operators."""
    import numpy as np
    from pyspark.sql import types as T

    id_type = e.schema["id"].dataType
    out_schema = T.StructType([
        T.StructField("id_a", id_type),
        T.StructField("id_b", id_type),
        T.StructField("cosine", T.DoubleType()),
    ])
    th = float(threshold)

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        # Arrow hands vec as an object column of ndarrays: stack, don't
        # round-trip through python lists (measured: the list conversion
        # dominated the task at 1e5 x 64-dim blocks)
        X = np.stack(pdf["vec"].to_numpy()[order]).astype(np.float64,
                                                          copy=False)
        norms = np.linalg.norm(X, axis=1)
        norms[norms == 0.0] = 1.0
        Xn = X / norms[:, None]
        n = len(ids)
        chunk = 1024
        ia, ib, cs = [ids[:0]], [ids[:0]], [np.array([], "float64")]
        for i0 in range(0, n - 1, chunk):
            i1 = min(i0 + chunk, n)
            S = np.round(Xn[i0:i1] @ Xn.T, 6)        # (chunk, n)
            # strict upper triangle of this row band: j > row index
            jgrid = np.arange(n)[None, :]
            igrid = np.arange(i0, i1)[:, None]
            keep = (S >= th) & (jgrid > igrid)
            ii, jj = np.nonzero(keep)
            ia.append(ids[ii + i0])
            ib.append(ids[jj])
            cs.append(S[ii, jj])
        return pd.DataFrame({"id_a": np.concatenate(ia),
                             "id_b": np.concatenate(ib),
                             "cosine": np.concatenate(cs)})

    return e.groupBy("blk").applyInPandas(block_pairs, out_schema)


def cosine_near_dup_pairs(embeddings: DataFrame, threshold: float = 0.95,
                          block_col: str = "label", id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          method: str = "catalyst") -> DataFrame:
    """Embedding near-duplicate pairs within blocks: the block column
    bounds the pair space (label, LSH bucket, or IVF bucket).

    ``method="catalyst"`` (default) is the pure-expression self-join
    (:func:`_verify_pairs`) — bit-reproducible against the DuckDB oracle
    (sequential double sums).
    ``method="blas"`` is the scale path: ONE shuffle groups each block
    into an Arrow task, numpy computes the normalized Gram matrix
    (X @ X.T — BLAS, dim-vectorized) and emits only above-threshold
    pairs; per-block work is O(n² d) in native code instead of
    interpreted expressions, and the quadratic intermediate never
    leaves the task.  Same pairs; cosines agree to float tolerance.
    """
    e = embeddings.select(F.col(id_col).alias("id"), F.col(block_col).alias("blk"),
                          F.col(vec_col).cast("array<double>").alias("vec"))
    if method == "blas":
        return _blas_pairs_by_block(e, threshold)
    # the per-pair cosine is a HOF expression (interpreted, see
    # PLANS.md): widen the probe side so a one-partition scan doesn't
    # serialize every pair's dot product onto a single task
    from drain3_spark.util import widen_small_scan
    e = widen_small_scan(e)
    return _verify_pairs(e, e, threshold, operator.lt)
