"""Deduplication operators for training-data pipelines.

Families, each scale-shaped for Spark:

* exact        — one hash aggregation on a content fingerprint
* n-gram Jaccard — explode shingles → DF-capped inverted index →
                   ordered pairs streamed from posting-list tail
                   slices → count-based Jaccard (no shingle self-join
                   in the default plan)
* MinHash+LSH  — K md5-min signatures → band keys → bucket join →
                   candidate pairs verified by true Jaccard; the band
                   index doubles as the INCREMENTAL dedup asset
                   (new batch vs stored corpus index)
* SimHash      — 60-bit sign-aggregated token hashes, near-dups by
                   hamming distance within identical high-bit bands
* embedding    — cosine near-dups within label blocks (see similarity)
* connected components — any pair list above → ``(id, group_id)``
                   keeper groups in ONE Spark pass: the edges are
                   shuffled to one partition and an exact numpy
                   union-find labels every id with its component
                   minimum (one worker holds the graph; bound in
                   :func:`connected_components`)

The n-gram and MinHash families score pairs with one exact Jaccard
verify (:func:`_exact_jaccard`).  Hashes are md5-based so the DuckDB
oracle reproduces them bit-exactly.
"""

from __future__ import annotations

import time
import weakref
from typing import List, Optional, Sequence

from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.storagelevel import StorageLevel

from drain3_spark.pipeline.text import fingerprint_md5, normalize_text


class _SharedScope:
    """Catalyst does not reuse exchanges across the branches of one
    query's DAG, so a subtree consumed by k branches would scan, explode,
    and shuffle the corpus k times.  Operators persist such subtrees
    (MEMORY_AND_DISK: lineage kept, so executor loss recomputes — unlike
    localCheckpoint, which would fail the job) in a scope whose lifetime
    is tied to the RETURNED DataFrame: the result handle holds the only
    strong reference, and a ``weakref.finalize`` unpersists every shared
    subtree when the caller drops it.  No global mutable cache — one
    operator call can never evict a subtree another in-flight call still
    references."""

    def __init__(self):
        self._frames: List[DataFrame] = []

    def share(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` for multi-branch reuse and MATERIALIZE it
        immediately.  Lazy persist is a trap for shared subtrees: the
        consuming query's independent downstream stages
        are submitted concurrently by the DAG scheduler, and each one
        computes the un-cached shared partitions (block-lock serialized,
        but every concurrent Arrow stage still spawns its own python
        workers — measured 3 concurrent 52-task decode stages costing
        ~60s where the eager one-pass costs ~2s).  One count() here runs
        the shared work exactly once at full parallelism; every branch
        then scans cache."""
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._frames.append(df)
        df.count()
        return df

    def share_all(self, *dfs: DataFrame) -> List[DataFrame]:
        """Persist several INDEPENDENT subtrees and materialize them
        with CONCURRENT jobs (guide §2.6: actions are only sequential
        because driver code calls them sequentially; overlapping lets
        one job's task tail back-fill executors with the next job's
        tasks).  Use only for subtrees with no data dependency on each
        other — a dependent chain must stay sequential so the upstream
        cache is filled before the downstream job scans it."""
        dfs = [df.persist(StorageLevel.MEMORY_AND_DISK) for df in dfs]
        self._frames.extend(dfs)
        if len(dfs) > 1:
            from concurrent.futures import ThreadPoolExecutor
            with ThreadPoolExecutor(max_workers=len(dfs)) as pool:
                list(pool.map(lambda d: d.count(), dfs))
        elif dfs:
            dfs[0].count()
        return dfs

    def release(self) -> None:
        frames, self._frames = self._frames, []
        for f in frames:
            try:
                f.unpersist()
            except Exception:
                pass  # session already stopped / interpreter shutdown

    def attach(self, result: DataFrame) -> DataFrame:
        result._drain3_shared_scope = self  # strong ref: lives with the handle
        weakref.finalize(result, _SharedScope.release, self)
        return result


#: Default document-frequency cap for :func:`jaccard_pairs`.  The cap must
#: be O(1) in corpus size — posting lists are materialized arrays and each
#: shingle emits up to cap²/2 pair rows — so it cannot grow with N (a
#: sqrt(N) cap would collect million-id arrays at 10^12 docs).  256
#: bounds any one shingle to ≤32k pairs while keeping recall: near-dup
#: pairs share many *rare* shingles, and a shingle appearing in >256
#: documents carries no near-dup signal (standard DF-filter argument;
#: recall pinned by test_jaccard_default_cap_keeps_recall_on_straddling_pairs).
DEFAULT_DF_CAP = 256


# ---------------------------------------------------------- exact verify

def _shingle_counts(sh: DataFrame) -> DataFrame:
    """``(id, n_sh)``: distinct shingles per document."""
    return sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))


def _exact_jaccard(common: DataFrame, sizes_a: DataFrame,
                   sizes_b: DataFrame, threshold: float,
                   names: Sequence[str] = ("id_a", "id_b")) -> DataFrame:
    """The one exact k-gram Jaccard verify of every Jaccard operator:
    ``common`` holds ``(a, b, n_common)`` per pair, ``sizes_a`` and
    ``sizes_b`` hold ``(id, n_sh)`` per document of each side, and
    ``names`` are the output id columns.  |A∪B| = n_a + n_b - n_common;
    returns ``(a, b, jaccard)`` with ``jaccard >= threshold``, rounded
    to 6 places (the DuckDB oracles round the same way)."""
    a, b = names
    return (common
            .join(sizes_a.select(F.col("id").alias(a),
                                 F.col("n_sh").alias("n_a")), a)
            .join(sizes_b.select(F.col("id").alias(b),
                                 F.col("n_sh").alias("n_b")), b)
            .withColumn("jaccard",
                        F.round(F.col("n_common")
                                / (F.col("n_a") + F.col("n_b")
                                   - F.col("n_common")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select(a, b, "jaccard"))


def _verify_candidates(cand: DataFrame, sh_a: DataFrame, sh_b: DataFrame,
                       threshold: float,
                       names: Sequence[str] = ("id_a", "id_b")) -> DataFrame:
    """Exact Jaccard of candidate pairs ``cand`` (columns ``names``)
    over the shingle rows ``sh_a``/``sh_b`` of each side.  The common
    count joins the candidate table against the shingles, keyed on a
    candidate id at every step, so the work is O(candidate_pairs ×
    shingles_per_doc), never all-pairs."""
    a, b = names
    common = (cand
              .join(sh_a.select(F.col("id").alias(a), "shingle"), a)
              .join(sh_b.select(F.col("id").alias(b), "shingle"),
                    [b, "shingle"])
              .groupBy(a, b)
              .agg(F.count(F.lit(1)).alias("n_common")))
    return _exact_jaccard(common, _shingle_counts(sh_a),
                          _shingle_counts(sh_b), threshold, names)


# --------------------------------------------------------------------- exact

def exact_duplicates(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) documents; keeper = min id."""
    return (df
            .select(F.col(id_col), fingerprint_md5(F.col(text_col)).alias("content_hash"))
            .groupBy("content_hash")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min(id_col).alias("keeper_id"))
            .filter(F.col("n_docs") > 1))


# ------------------------------------------------------------------ shingles

def shingle_rows(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                 k: int = 3, block_col: Optional[str] = None) -> DataFrame:
    """(id[, _blk], shingle) rows: distinct k-gram word shingles of the
    normalized text.  Documents shorter than k words contribute their
    whole text as a single shingle.  ``block_col`` rides THROUGH the
    explode as ``_blk`` — carrying it beats joining the shingle rows
    back to the corpus for it (at 10^12 docs that join shuffles the
    whole shingle table; the carried column costs one string per
    pre-aggregation row)."""
    from drain3_spark.util import widen_small_scan
    toks = F.split(normalize_text(F.col(text_col)), " ")
    n = F.size(toks)
    shingles = F.when(
        n >= k,
        F.transform(F.sequence(F.lit(1), n - k + 1),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    carry = [F.col(block_col).alias("_blk")] if block_col else []
    # normalize+explode are pre-shuffle; widen a one-partition scan
    return (widen_small_scan(df)
            .select(F.col(id_col).alias("id"), *carry,
                    F.explode(F.array_distinct(shingles)).alias("shingle")))


def jaccard_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  k: int = 3, threshold: float = 0.7,
                  block_col: Optional[str] = None,
                  df_cap: Optional[int] = DEFAULT_DF_CAP) -> DataFrame:
    """Near-duplicate pairs by k-gram Jaccard >= threshold.

    Returns (id_a, id_b, jaccard) with id_a < id_b.

    ``df_cap`` is the scale guard, ON BY DEFAULT
    (:data:`DEFAULT_DF_CAP`): a shingle shared by s documents contributes
    s² join rows, so stopword-like k-grams make a naive shingle
    self-join quadratic on a large corpus.  The capped operator uses an
    INVERTED-INDEX formulation: one aggregation builds per-shingle
    posting lists (within ``block_col`` if given), shingles whose
    document frequency exceeds the cap are dropped by a free
    ``size(ids) <= cap`` filter, and candidate pairs stream out of the
    bounded lists via posexplode + tail slice (≤ cap²/2 pair rows per
    shingle, O(cap) peak allocation, no self-join at all).
    Jaccard is computed over the capped shingle universe — the standard
    document-frequency filter: near-duplicate pairs share many *rare*
    shingles, so recall is preserved.  With ``block_col`` the frequency
    is per (block, shingle).  Corpora where even capped traffic is too
    hot should route through :func:`minhash_lsh_duplicates` instead.

    ``df_cap=None`` is the explicit escape hatch to the exact all-pairs
    self-join (explode → self-join on shingle → per-pair common count;
    |A∪B| from per-doc distinct counts).  That plan is quadratic in the
    hottest shingle's document frequency — never the default.
    """
    scope = _SharedScope()
    sh = shingle_rows(df, id_col, text_col, k, block_col=block_col)

    if df_cap is not None:
        gcols = (["_blk"] if block_col else []) + ["shingle"]
        postings = (sh.groupBy(*gcols)
                    .agg(F.array_sort(F.collect_list("id")).alias("ids"))
                    .filter(F.size("ids") <= df_cap))
        # three consumers read the postings (sizes + both ends of the
        # pair join); without sharing, the corpus scan, shingle explode,
        # and posting-list shuffle all run 3x — at 100 TB that triples
        # the operator's dominant shuffle.  (A lazy persist was tried
        # here in r8 and REVERTED: the single deeper plan compiled and
        # planned slower than the two-job eager shape, 4.9s -> 7s
        # first-call at sf0.1.)
        postings = scope.share(postings)
        # per-doc shingle counts over the KEPT universe — derived from
        # the postings, so the text is exploded exactly once
        sizes = (postings.select(F.explode("ids").alias("id"))
                 .groupBy("id").agg(F.count(F.lit(1)).alias("n_sh")))
        # ordered pairs by posexplode + tail slice over the SORTED
        # posting list: each of the cap rows carries a <=cap slice, so
        # peak per-value allocation is O(cap), not the O(cap^2) struct
        # array a transform x transform -> flatten -> filter(a<b) chain
        # materializes per shingle (measured on 2000 at-cap lists,
        # local[32]: 8.2-29.5s flatten vs 4.7s this shape — PLANS.md)
        ex = postings.select(F.posexplode("ids").alias("_i", "id_a"),
                             F.col("ids"))
        common = (ex.select(
                      "id_a",
                      F.explode(F.slice(
                          "ids", F.col("_i") + F.lit(2),
                          F.greatest(F.size("ids") - F.col("_i") - 1,
                                     F.lit(0)))).alias("id_b"))
                  .groupBy("id_a", "id_b")
                  .agg(F.count(F.lit(1)).alias("n_common")))
        return scope.attach(_exact_jaccard(common, sizes, sizes, threshold))

    sizes = _shingle_counts(sh)

    a = sh.select(F.col("id").alias("id_a"), "shingle",
                  *([F.col("_blk")] if block_col else []))
    b = sh.select(F.col("id").alias("id_b"), "shingle",
                  *([F.col("_blk").alias("_blk_b")] if block_col else []))
    cond = [a.shingle == b.shingle, a.id_a < b.id_b]
    if block_col:
        cond.append(F.col("_blk") == F.col("_blk_b"))
    common = (a.join(b, cond)
              .groupBy("id_a", "id_b")
              .agg(F.count(F.lit(1)).alias("n_common")))
    return _exact_jaccard(common, sizes, sizes, threshold)


# ------------------------------------------------------------------- minhash

def _minhash_wide(df: DataFrame, id_col: str, text_col: str, k: int,
                  num_hashes: int) -> DataFrame:
    """One row per document with all ``num_hashes`` minhashes as
    columns ``m0..m{K-1}`` — ONE aggregation over the shingle rows.
    The former shape exploded every shingle row K ways before its
    shuffle (guide §2.3: aggregate before you shuffle); computing the
    K mins as K aggregate expressions shuffles K× fewer rows (partial
    aggregation reduces each map task to one wide row per document)
    and produces bit-identical minhash values (same
    ``md5(shingle || '#' || seed)`` strings, same per-seed min)."""
    sh = shingle_rows(df, id_col, text_col, k)
    return sh.groupBy("id").agg(*[
        F.min(F.md5(F.concat_ws("#", "shingle", F.lit(str(s)))))
        .alias(f"m{s}") for s in range(num_hashes)])


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", k: int = 3,
                       num_hashes: int = 16) -> DataFrame:
    """(id, seed, minhash) — K permutations simulated by min over
    ``md5(shingle || '#' || seed)`` (string min; identical in any SQL
    engine, no platform hash dependence).  Computed as one wide
    aggregation (:func:`_minhash_wide`) and unpivoted AFTER the
    shuffle, so the shingle rows are never replicated K ways."""
    wide = _minhash_wide(df, id_col, text_col, k, num_hashes)
    pairs = F.array(*[
        F.struct(F.lit(s).alias("seed"), F.col(f"m{s}").alias("minhash"))
        for s in range(num_hashes)])
    return (wide.select("id", F.explode(pairs).alias("_p"))
            .select("id", F.col("_p.seed").alias("seed"),
                    F.col("_p.minhash").alias("minhash")))


def minhash_band_index(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", k: int = 3,
                       num_hashes: int = 16, bands: int = 4) -> DataFrame:
    """``(id, band, band_key)`` LSH index rows: band key = md5 of the
    band's concatenated (seed, minhash) pairs.

    This is the PERSISTED ASSET of an incremental dedup pipeline: write
    it once per corpus (it is tiny next to the text — ``bands`` rows per
    document), then each new ingest batch joins its own banded
    signatures against the stored index
    (:func:`lsh_incremental_duplicates`) instead of re-reading and
    re-shingling the whole corpus.  Persist it with
    ``assets.write_index_asset(index, path, table, ["band",
    "band_key"])`` so the probe join does not shuffle the stored side,
    and append a batch with ``index.unionByName(batch_index)``.

    Band keys are pure expressions over the wide minhash row (the
    band's sorted ``seed:minhash`` strings are a literal-indexed array,
    no ``collect_list``), so the whole index is ONE aggregation — the
    former signature-explode + second band aggregation (two extra
    corpus-sized Exchanges) is gone; band_key values are identical.

    ``num_hashes`` must split evenly into ``bands``: a remainder would
    leave seeds in no band and silently weaken the index."""
    if bands <= 0 or num_hashes % bands:
        raise ValueError(f"num_hashes={num_hashes} does not split into "
                         f"{bands} equal bands")
    rows_per_band = num_hashes // bands
    wide = _minhash_wide(df, id_col, text_col, k, num_hashes)
    band_structs = []
    for band in range(bands):
        seeds = range(band * rows_per_band, (band + 1) * rows_per_band)
        items = F.array_sort(F.array(*[
            F.concat_ws(":", F.lit(str(s)), F.col(f"m{s}")) for s in seeds]))
        band_structs.append(F.struct(
            F.lit(band).alias("band"),
            F.md5(F.concat_ws("|", items)).alias("band_key")))
    return (wide.select("id", F.explode(F.array(*band_structs)).alias("_b"))
            .select("id", F.col("_b.band").alias("band"),
                    F.col("_b.band_key").alias("band_key")))


def lsh_candidate_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 3,
                        num_hashes: int = 16, bands: int = 4,
                        _scope: Optional[_SharedScope] = None) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band bucket.

    Band key = md5 of the band's concatenated minhashes; the bucket join
    shuffles on the band key only — no all-pairs blowup."""
    scope = _scope if _scope is not None else _SharedScope()
    # both sides of the bucket self-join read the banded signatures;
    # share so the K-permutation signature aggregation runs once
    banded = scope.share(
        minhash_band_index(df, id_col, text_col, k, num_hashes, bands))
    a = banded.select(F.col("id").alias("id_a"), "band", "band_key")
    b = banded.select(F.col("id").alias("id_b"), "band", "band_key")
    out = (a.join(b, ["band", "band_key"])
           .filter(F.col("id_a") < F.col("id_b"))
           .select("id_a", "id_b").distinct())
    # standalone call: the result handle owns the scope; nested call
    # (_scope given): the caller's result owns it
    return out if _scope is not None else scope.attach(out)


def minhash_lsh_duplicates(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", k: int = 3,
                           num_hashes: int = 16, bands: int = 4,
                           threshold: float = 0.7) -> DataFrame:
    """LSH candidates verified by exact Jaccard — two-stage: the cheap
    band-bucket join prunes the pair space, then true Jaccard is
    computed ONLY for candidate pairs.

    The verify stage is candidate-bounded end to end: shingle rows are
    semi-joined down to documents that appear in some candidate pair,
    and the common-shingle count joins the candidate-pair table against
    those shingles — every join is keyed on a candidate id, so the work
    is O(candidate_pairs × shingles_per_doc), never all-pairs.  Jaccard
    is exact (full per-document shingle universe, no DF cap), so the
    result for any candidate pair is identical to what the uncapped
    all-pairs formulation would produce.
    """
    # the candidate table (minhash + band-join subtree) feeds three
    # branches and the pruned shingles feed three more — share both so
    # the expensive subtrees materialize once (see _SharedScope)
    scope = _SharedScope()
    cand = scope.share(lsh_candidate_pairs(df, id_col, text_col, k,
                                           num_hashes, bands, _scope=scope))
    sh = shingle_rows(df, id_col, text_col, k)

    cand_ids = (cand.select(F.col("id_a").alias("id"))
                .unionByName(cand.select(F.col("id_b").alias("id")))
                .distinct())
    sh_c = scope.share(sh.join(cand_ids, "id", "left_semi"))
    return scope.attach(_verify_candidates(cand, sh_c, sh_c, threshold))


def lsh_incremental_duplicates(new_df: DataFrame, corpus_df: DataFrame,
                               index: Optional[DataFrame] = None,
                               id_col: str = "doc_id", text_col: str = "text",
                               k: int = 3, num_hashes: int = 16,
                               bands: int = 4,
                               threshold: float = 0.7) -> DataFrame:
    """Near-duplicates of a NEW ingest batch against an EXISTING corpus —
    the incremental shape a continuously-growing training corpus needs:
    per batch, the corpus is touched only through (a) its precomputed
    band INDEX (:func:`minhash_band_index`, ``bands`` tiny rows per
    document — pass the stored table via ``index``; it is recomputed
    from ``corpus_df`` only if omitted) and (b) the TEXT of candidate
    documents, fetched by a semi-join.  Per-batch cost is
    O(new_batch + candidates), never O(corpus): no corpus re-shingle,
    no corpus-wide shuffle.

    Returns ``(new_id, old_id, jaccard)`` with exact k-gram Jaccard
    (full shingle universe of the involved documents), ``jaccard >=
    threshold`` — the same verify semantics as
    :func:`minhash_lsh_duplicates`, candidate-bounded end to end.
    """
    scope = _SharedScope()
    if index is None:
        index = minhash_band_index(corpus_df, id_col, text_col, k,
                                   num_hashes, bands)
    # new_banded has exactly ONE consumer (the candidate join) — a
    # persist here would only add a materialization job barrier
    new_banded = minhash_band_index(new_df, id_col, text_col, k,
                                    num_hashes, bands)
    cand = scope.share(
        new_banded.select(F.col("id").alias("new_id"), "band", "band_key")
        .join(index.select(F.col("id").alias("old_id"), "band", "band_key"),
              ["band", "band_key"])
        .filter(F.col("new_id") != F.col("old_id"))
        .select("new_id", "old_id").distinct())

    # exact verify over the candidates only: shingle the new batch and
    # JUST the candidate corpus docs (semi-join prunes the corpus scan
    # to candidate ids — with id-partitioned/bucketed storage this is a
    # pruned read, not a full scan)
    new_ids = cand.select(F.col("new_id").alias("id")).distinct()
    old_ids = cand.select(F.col("old_id").alias("id")).distinct()
    # the two pruned shingle tables have no dependency on each other —
    # materialize them with concurrent jobs (guide §2.6)
    sh_new, sh_old = scope.share_all(
        shingle_rows(new_df, id_col, text_col, k)
        .join(new_ids, "id", "left_semi"),
        shingle_rows(corpus_df, id_col, text_col, k)
        .join(old_ids, "id", "left_semi"))
    return scope.attach(_verify_candidates(cand, sh_new, sh_old, threshold,
                                           ("new_id", "old_id")))


# ------------------------------------------------- connected components

def _min_label_components(batches, schema):
    """``mapInArrow`` body of :func:`connected_components`: every
    ``(u, v)`` edge batch of the single partition in, one
    ``(id, group_id)`` batch of ``schema`` out."""
    import numpy as np
    import pyarrow as pa
    from drain3_spark.util import arrow_batch

    batches = [b for b in batches if b.num_rows]
    if not batches:
        return
    edges = pa.Table.from_batches(batches)
    u = edges.column("u").to_numpy()
    v = edges.column("v").to_numpy()
    # sorted codes: code order is id order for longs and for strings
    # (UTF-8 byte order, Spark's string order, is code-point order)
    ids, codes = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = codes[:len(u)], codes[len(u):]
    label = np.arange(len(ids))
    while True:
        la, lb = label[a], label[b]
        if np.array_equal(la, lb):
            break
        # hook each edge's larger root under the smaller one, then jump
        # pointers until every label is a root again; labels only
        # decrease, so every root is its tree's minimum code
        np.minimum.at(label, np.maximum(la, lb), np.minimum(la, lb))
        while True:
            jumped = label[label]
            if np.array_equal(jumped, label):
                break
            label = jumped
    yield arrow_batch({"id": ids, "group_id": ids[label]}, schema)


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         stats: Optional[dict] = None) -> DataFrame:
    """Connected components over a near-duplicate pair list: returns
    ``(id, group_id)`` for every id that appears in some pair, where
    ``group_id`` is the smallest id in the component — the keeper a
    dedup pass retains while dropping the rest.

    This is the step that turns PAIRS (jaccard/minhash/simhash/embedding
    near-dups) into actionable dedup GROUPS: near-duplication is not
    transitive, so a pair list alone over-keeps (A~B, B~C with A!~C must
    still collapse to one keeper, the standard min-hash-dedup practice).

    Algorithm: one Spark pass.  The pairs are projected to ``(u, v)``
    and shuffled into ONE partition (a shuffle, so the caller's
    pair-finding stages keep their parallelism); one ``mapInArrow``
    task factorizes the ids with ``np.unique`` and runs an exact
    union-find in numpy — hook every edge's larger root under the
    smaller label, pointer-jump to a fixpoint, repeat until no edge
    spans two roots.  Every round with an unfinished edge merges each
    such tree with a neighbour, so rounds are O(log n); labels only
    decrease, so the loop always terminates exactly.  The result is
    materialized once with ``localCheckpoint(eager=True)``.  The
    session conf is never touched.

    Memory bound: the whole edge list lives in one Python worker, at
    ~120 B of numpy working memory per edge on top of the Arrow input.
    The largest pair graph any caller builds is ``bench.py``'s
    1.02M-edge ``cc_graph_1m``; on a 4-vCPU Xeon the kernel solves it
    exactly in 0.4 s (one hook round, 119 MiB peak), and a 1M-node path
    with shuffled ids in 1.7 s (14 rounds, 116 MiB).  One worker holds
    every graph this engine builds; graphs of hundreds of millions of
    edges would need a distributed algorithm.

    Ids may be any integer type (normalized to long) or strings
    (kept as strings — ``clip_id``-style corpora; ``group_id`` is then
    the lexicographically smallest member).  Mixing the two, or
    float/complex id types, raises ``TypeError`` up front.  A pair
    with a NULL endpoint is not an edge and is dropped.

    ``stats`` (optional dict) receives ``iterations`` (Spark passes:
    always 1), ``converged`` (always True — the union-find is exact)
    and ``iter_secs`` (``[wall seconds of the pass]``).
    """
    t0 = time.monotonic()
    dt_a = pairs.schema[id_a].dataType
    dt_b = pairs.schema[id_b].dataType
    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    if isinstance(dt_a, integral) and isinstance(dt_b, integral):
        ua, ub, id_type = (F.col(id_a).cast("long"), F.col(id_b).cast("long"),
                           T.LongType())
    elif isinstance(dt_a, T.StringType) and isinstance(dt_b, T.StringType):
        ua, ub, id_type = F.col(id_a), F.col(id_b), T.StringType()
    else:
        raise TypeError(
            f"connected_components needs matching integer or string id "
            f"columns; got {id_a}:{dt_a.simpleString()} / "
            f"{id_b}:{dt_b.simpleString()}")
    schema = T.StructType([T.StructField("id", id_type),
                           T.StructField("group_id", id_type)])
    labels = (pairs.select(ua.alias("u"), ub.alias("v"))
              .dropna()
              .repartition(1)
              .mapInArrow(lambda b: _min_label_components(b, schema), schema)
              .localCheckpoint(eager=True))
    if stats is not None:
        stats.update(iterations=1, converged=True,
                     iter_secs=[time.monotonic() - t0])
    return labels


def dedup_groups(pairs: DataFrame, id_a: str = "id_a",
                 id_b: str = "id_b",
                 stats: Optional[dict] = None) -> DataFrame:
    """Dedup decision table from a near-dup pair list: one row per
    involved id — ``(id, group_id, is_keeper)``; downstream drops rows
    where ``is_keeper`` is false.  Built on
    :func:`connected_components` (``stats`` passes through)."""
    cc = connected_components(pairs, id_a, id_b, stats=stats)
    return cc.withColumn("is_keeper", F.col("id") == F.col("group_id"))


# ------------------------------------------------------------------- simhash

def simhash64(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """60-bit SimHash over word tokens: per-bit sign of the sum of
    (+1/-1) votes from each token's md5 bits (60 = 15 hex chars, the
    widest md5 prefix that converts losslessly to a signed bigint in
    both Spark and DuckDB — the function name keeps the conventional
    "simhash64" label).  Explode + aggregate — no UDF, no all-pairs."""
    from drain3_spark.util import widen_small_scan
    toks = (widen_small_scan(df)
            .select(F.col(id_col).alias("id"),
                    F.explode(F.split(normalize_text(F.col(text_col)), " "))
                    .alias("tok")))
    # token hash: first 15 hex chars of md5 -> 60 bits (as bigint via conv)
    h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    bits = toks.select("id", *[
        (F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1))
        .alias(f"b{i}") for i in range(60)])
    agg = bits.groupBy("id").agg(*[F.sum(f"b{i}").alias(f"b{i}") for i in range(60)])
    sim = agg.select("id", sum(
        [F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
         for i in range(60)], F.lit(0)).cast("long").alias("simhash"))
    return sim


def simhash_duplicates(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", band_bits: int = 15) -> DataFrame:
    """Near-dup candidates: identical simhash within any of 4 bands of
    ``band_bits`` bits (classic rotation trick), verified by hamming
    distance <= 3."""
    # 4 band projections x 2 self-join sides would evaluate the 60-bit
    # sign aggregation 8x without sharing
    scope = _SharedScope()
    sim = scope.share(simhash64(df, id_col, text_col))
    parts = []
    for band in range(4):
        key = F.shiftright(F.col("simhash"),
                           band * band_bits).bitwiseAND(F.lit((1 << band_bits) - 1))
        parts.append(sim.select("id", "simhash", F.lit(band).alias("band"),
                                key.alias("band_key")))
    banded = parts[0]
    for p in parts[1:]:
        banded = banded.unionByName(p)
    a = banded.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"),
                      "band", "band_key")
    b = banded.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"),
                      "band", "band_key")
    pairs = (a.join(b, ["band", "band_key"]).filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b", "sh_a", "sh_b").distinct())
    xor = F.col("sh_a").bitwiseXOR(F.col("sh_b"))
    hamming = sum([F.shiftright(xor, i).bitwiseAND(F.lit(1))
                   for i in range(60)], F.lit(0))
    return scope.attach(
        pairs.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= 3)
        .select("id_a", "id_b", "hamming"))
