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
  way and then runs ONE exact verify, :func:`_verify_pairs`: a block
  stream (hash-partitioned on the block, sorted, one ``mapInArrow``
  task per core) that scores each block's pairs in numpy, with the
  dot folded in Spark's order and the rounded cosine left to Catalyst,
  so it stays bit-reproducible against the DuckDB oracle.  Its
  ``method="blas"`` mode takes the dot from a Gram product instead.
"""

from __future__ import annotations

from typing import Optional, Sequence, Tuple

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F, types as T


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

    ``method`` picks the verify's dot (:func:`_verify_pairs`):
    ``"catalyst"`` (default) folds it in Spark's order, bit-reproducible
    against the DuckDB oracle; ``"blas"`` takes it from a normalized
    Gram product, with cosines that agree to float tolerance (pinned by
    ``test_auto_near_dup_blas_matches_catalyst``).
    """
    assigned = assign_ivf_buckets_multiprobe(embeddings, num_centroids,
                                             probes, id_col, vec_col)
    e = assigned.select(F.col(id_col).alias("id"),
                        F.col("bucket").alias("blk"), "vec")
    return _verify_pairs(e, threshold, method=method)


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


#: pair-grid cells one kernel step scores: a chunk of a block's rows
#: meets at most this many partner rows, so a hot block's working set
#: stays a few MiB however large the block grows
_CHUNK_CELLS = 1 << 18


def _verify_pairs(a: DataFrame, threshold: float,
                  names: Tuple[str, str] = ("id_a", "id_b"),
                  index: Optional[DataFrame] = None,
                  method: str = "catalyst") -> DataFrame:
    """The one exact cosine verify of every near-dup operator.

    ``a`` (and ``index``) hold ``(id, blk, vec)`` rows.  Without
    ``index``, ``a`` is paired with itself within each ``blk`` where
    ``id_a < id_b``; with ``index``, each ``a`` row is paired with the
    ``index`` rows of its block where ``id_a != id_b``.  A pair is kept
    when ``round(dot / (nrm_a * nrm_b), 6) >= threshold``, and one
    ``(names[0], names[1], cosine)`` row is returned per id pair.

    One block stream: the rows are hash-partitioned on ``blk`` into one
    task per core and sorted on ``(blk, id)``, and one ``mapInArrow``
    call per task scores every pair of each contiguous ``blk`` run in
    numpy (:func:`_block_stream`).  Each vector crosses the Exchange and
    the Arrow boundary once, however many candidate pairs it is in.  The
    ``index`` side is first semi-joined to the blocks ``a`` touches, so a
    batch shuffles O(batch + touched blocks), not the corpus.  The
    touched blocks are read off ``a``'s own Exchange, so ``a`` (an
    embedding, say) is still evaluated once.

    * ``method="catalyst"`` folds the dot and the squared norms in
      Spark's order, ``acc = acc + x[d] * y[d]`` from ``acc = 0.0``,
      vectorized across pairs: ``dot``, ``nrm_a`` and ``nrm_b`` are the
      doubles the ``aggregate(zip_with(...))`` expressions give.  The
      division, the rounding and the threshold stay in Catalyst, so the
      cosines are bit-identical to the expression form and to the
      DuckDB oracle.  The kernel emits only the pairs whose cosine could
      round up to ``threshold`` or is NaN.
    * ``method="blas"`` scores each block with the chunked normalized
      Gram product (BLAS); its cosines agree to float tolerance.
    * A pair without a cosine is dropped, not scored: a NULL vector,
      vectors of different lengths or a NULL element (the expression's
      dot is NULL), and a zero norm product, as for an all-zero vector
      (the division has no value, and under ANSI mode it raises
      ``DIVIDE_BY_ZERO``).  A NaN cosine passes any threshold, since
      Spark orders NaN above every number.
    * Ids compare in Spark's order (the JVM sort orders them: UTF-8
      bytes for strings), and the output keeps the input id type.
    * A pair that shares several blocks (multi-probe IVF buckets, LSH
      bands) is deduplicated after the threshold, on the slim rows;
      every occurrence has the same cosine.
    """
    if method not in ("catalyst", "blas"):
        raise ValueError(f"unknown verify method {method!r}")
    ia, ib = names
    spark = a.sparkSession
    n = spark.sparkContext.defaultParallelism

    def blocked(df: DataFrame) -> DataFrame:
        # one Python task per core, as in the mining fold: the JVM sort
        # below lays each block out as one contiguous run in id order.
        # A no-op cast would leave an alias in one consumer's Exchange
        # only, and the Exchange would not be reused
        vec = F.col("vec")
        if df.schema["vec"].dataType.elementType != T.DoubleType():
            vec = vec.cast("array<double>").alias("vec")
        return (df.select("id", "blk", vec)
                .filter(F.col("id").isNotNull() & F.col("blk").isNotNull()
                        & F.col("vec").isNotNull())
                .repartition(n, "blk"))

    rows = blocked(a)
    cross = index is not None
    if cross:
        # the touched blocks are read off a's own Exchange: a distinct
        # over whole rows keeps every column, so column pruning cannot
        # slim that Exchange apart from the stream's, and AQE reuses it
        # (a is evaluated once)
        touched = F.broadcast(rows.dropDuplicates())
        rows = (rows.withColumn("side", F.lit(0))
                .unionByName(blocked(index.join(touched, "blk", "left_semi"))
                             .withColumn("side", F.lit(1))))
        # both sides share the hash partitioning, which the union keeps
        # unless this conf is off
        if spark.conf.get("spark.sql.unionOutputPartitioning") != "true":
            rows = rows.repartition(n, "blk")
    schema = T.StructType(
        [T.StructField(c, rows.schema["id"].dataType) for c in ("id_a", "id_b")]
        + [T.StructField(c, T.DoubleType()) for c in ("dot", "nrm_a", "nrm_b")])
    stream = _block_stream(threshold, cross, method == "blas", _CHUNK_CELLS)
    scored = rows.sortWithinPartitions("blk", "id").mapInArrow(stream, schema)
    cosine = F.round(F.col("dot") / (F.col("nrm_a") * F.col("nrm_b")), 6)
    return (scored.select(F.col("id_a").alias(ia), F.col("id_b").alias(ib),
                          cosine.alias("cosine"))
            .filter(F.col("cosine") >= threshold)
            .dropDuplicates([ia, ib]))


def _block_stream(threshold: float, cross: bool, blas: bool,
                  chunk_cells: int):
    """``mapInArrow`` body of :func:`_verify_pairs`: a task's batches
    arrive sorted on ``(blk, id)``; each batch's complete ``blk`` runs
    are scored together (:func:`_score_blocks`), and the run that may go
    on into the next batch is held back until it ends."""
    # round(c, 6) >= threshold needs c >= threshold - 5e-7
    lo = threshold - 1e-6

    def stream(batches):
        open_run, key = [], None
        for batch in batches:
            if not batch.num_rows:
                continue
            blk = batch.column("blk").to_numpy(zero_copy_only=False)
            edges = np.flatnonzero(blk[1:] != blk[:-1]) + 1
            if len(edges):
                done = open_run + [batch.slice(0, edges[-1])]
                open_run = [batch.slice(edges[-1])]
            elif open_run and blk[0] != key:
                done, open_run = open_run, [batch]
            else:
                done = []
                open_run.append(batch)
            key = blk[-1]
            if done:
                yield score(done)
        if open_run:
            yield score(open_run)

    def score(batches):
        import pyarrow as pa
        # NaN, infinite and zero-norm vectors are scored like Spark does
        with np.errstate(all="ignore"):
            return _score_blocks(pa.Table.from_batches(batches), lo, cross,
                                 blas, chunk_cells)

    return stream


def _score_blocks(tbl, lo: float, cross: bool, blas: bool,
                  chunk_cells: int):
    """``(id_a, id_b, dot, nrm_a, nrm_b)`` for the pairs of the whole
    ``blk`` runs in ``tbl`` whose cosine is not below ``lo``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    tbl = tbl.combine_chunks()
    ids = tbl.column("id").combine_chunks()
    blk = tbl.column("blk").to_numpy()
    vec = tbl.column("vec").combine_chunks()
    n = len(ids)
    # equal ids are adjacent, so counting id changes ranks the ids in
    # Spark's order: id_a < id_b is rank_a < rank_b
    rank = np.zeros(n, np.int64)
    rank[1:] = np.cumsum(pc.not_equal(ids[1:], ids[:-1])
                         .to_numpy(zero_copy_only=False))
    side = tbl.column("side").to_numpy() if cross else np.zeros(n, np.int8)
    lens = pc.list_value_length(vec).to_numpy()
    flat = pc.list_flatten(vec)
    vals = flat.to_numpy(zero_copy_only=False)
    starts = np.cumsum(lens) - lens
    holed = np.zeros(n, bool)
    holed[pc.list_parent_indices(vec).to_numpy()[
        flat.is_null().to_numpy(zero_copy_only=False)]] = True
    got = []

    # vectors of different lengths never pair, and an empty vector has
    # a zero norm
    for dim in np.unique(lens[~holed & (lens > 0)]):
        rows = np.flatnonzero(~holed & (lens == dim))
        b = blk[rows]
        run = np.r_[0, np.cumsum(b[1:] != b[:-1])]
        if cross:  # each run: its a rows, then its index rows, ids sorted
            rows = rows[np.lexsort((side[rows], run))]
        rk, sd = rank[rows], side[rows]
        xt = vals[starts[rows] + np.arange(dim)[:, None]]   # (dim, rows)
        sq = np.zeros(len(rows))
        for x in xt:
            sq = sq + x * x
        nrm = np.sqrt(sq)
        xn = (xt / np.where(nrm > 0, nrm, 1.0)).T if blas else None
        first = np.flatnonzero(np.r_[True, run[1:] != run[:-1]])
        ends = np.r_[first[1:], len(rows)]
        # the a rows of run r are [first, a_end); a row's partners run to
        # the run's end, from a_end (cross) or from the next row (self)
        if cross:
            a_end = first + np.add.reduceat((sd == 0).astype(np.int64), first)
        else:
            a_end = ends - 1
        pend, n_pend = [], 0
        for r in np.flatnonzero((a_end > first) & (ends > a_end)):
            s, e, a1 = first[r], ends[r], a_end[r]
            step = max(1, chunk_cells // (e - s))
            for c0 in range(s, a1, step):
                ca = np.arange(c0, min(c0 + step, a1))
                cb = np.arange(a1 if cross else c0 + 1, e)
                ok = ((rk[ca, None] != rk[cb]) if cross
                      else (rk[ca, None] < rk[cb]))
                ok &= nrm[ca, None] * nrm[cb] != 0
                if blas:
                    g = xn[ca] @ xn[cb].T
                    ii, jj = np.nonzero(ok & ~(g < lo))
                    one = np.ones(len(ii))
                    got.append((rows[ca[ii]], rows[cb[jj]], g[ii, jj],
                                one, one))
                    continue
                ii, jj = np.nonzero(ok)
                pend.append((ca[ii], cb[jj]))
                n_pend += len(ii)
                if n_pend >= chunk_cells:
                    got.append(_fold_dots(pend, xt, nrm, rows, lo))
                    pend, n_pend = [], 0
        if pend:
            got.append(_fold_dots(pend, xt, nrm, rows, lo))

    cols = [np.concatenate([g[k] for g in got]) if got else
            np.zeros(0, np.int64 if k < 2 else np.float64) for k in range(5)]
    return pa.RecordBatch.from_arrays(
        [ids.take(pa.array(cols[0])), ids.take(pa.array(cols[1]))]
        + [pa.array(c, pa.float64()) for c in cols[2:]],
        names=["id_a", "id_b", "dot", "nrm_a", "nrm_b"])


def _fold_dots(pend, xt, nrm, rows, lo: float):
    """Spark's ``aggregate(zip_with(a, b, x * y), 0.0, acc + v)`` over
    the pending pairs, vectorized across pairs: ``acc = acc + a[d] *
    b[d]`` in dimension order, so each dot is the same double."""
    ia = np.concatenate([p[0] for p in pend])
    ib = np.concatenate([p[1] for p in pend])
    dot = np.zeros(len(ia))
    for x in xt:
        dot = dot + x[ia] * x[ib]
    na, nb = nrm[ia], nrm[ib]
    keep = ~(dot / (na * nb) < lo)
    return rows[ia[keep]], rows[ib[keep]], dot[keep], na[keep], nb[keep]


def cosine_near_dup_pairs(embeddings: DataFrame, threshold: float = 0.95,
                          block_col: str = "label", id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          method: str = "catalyst") -> DataFrame:
    """Embedding near-duplicate pairs within blocks: the block column
    bounds the pair space (label, LSH bucket, or IVF bucket).

    Each block's pairs are scored in one block stream
    (:func:`_verify_pairs`): ``method="catalyst"`` (default) folds each
    dot in Spark's order, bit-reproducible against the DuckDB oracle
    (sequential double sums); ``method="blas"`` takes the block's pairs
    from a normalized Gram product (X @ X.T, BLAS), with the same pairs
    and cosines that agree to float tolerance.  A vector with a zero
    norm pairs with nothing.
    """
    e = embeddings.select(F.col(id_col).alias("id"), F.col(block_col).alias("blk"),
                          F.col(vec_col).cast("array<double>").alias("vec"))
    return _verify_pairs(e, threshold, method=method)
