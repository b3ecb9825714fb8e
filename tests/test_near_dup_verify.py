"""The near-dup family's one exact verify: every operator in
``drain3_spark/pipeline/`` blocks its candidates its own way and then
calls :func:`drain3_spark.pipeline.similarity._verify_pairs`, one block
stream whose numpy kernel folds each dot in Spark's order.  Its cosines
are bit-identical to the ``round(aggregate(zip_with(...)), 6)``
expression, whatever the Arrow batch boundaries and kernel chunks; no
operator hand-rolls the per-pair cosine or hashes its ids."""

import ast
import pathlib
import re

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import drain3_spark
from drain3_spark import fixtures as FX
from drain3_spark.audio.codecs import encode
from drain3_spark.pipeline import audio_sim, similarity

PIPELINE = pathlib.Path(drain3_spark.__file__).parent / "pipeline"
ROWS = "id string, blk long, vec array<double>"


def _called_names(node):
    for n in ast.walk(node):
        if isinstance(n, ast.Call):
            f = n.func
            yield f.attr if isinstance(f, ast.Attribute) else getattr(
                f, "id", None)


def test_one_cosine_verify_no_hashed_ids():
    """No Spark: the per-row cosine expression ``_dot`` serves only
    ``cosine_col`` (the top-k queries), every near-dup operator calls
    ``_verify_pairs``, and the audio operators never hash clip ids."""
    callers = {"_dot": set(), "_verify_pairs": set()}
    for path in PIPELINE.glob("*.py"):
        tree = ast.parse(path.read_text())
        for fn in tree.body:
            if isinstance(fn, ast.FunctionDef):
                for name in set(_called_names(fn)) & set(callers):
                    callers[name].add(f"{path.name}:{fn.name}")
    assert callers["_dot"] == {"similarity.py:cosine_col"}, callers
    assert callers["_verify_pairs"] == {
        "similarity.py:cosine_near_dup_pairs",
        "similarity.py:cosine_near_dup_pairs_auto",
        "audio_sim.py:audio_near_dup_pairs",
        "audio_sim.py:audio_incremental_duplicates"}, callers
    audio = ast.parse((PIPELINE / "audio_sim.py").read_text())
    assert "xxhash64" not in set(_called_names(audio))


def _expression_pairs(a, b, threshold, pair):
    """The verify as a Catalyst join over the ``aggregate(zip_with(...))``
    expressions: the reference the kernel must match bit for bit.  A zero
    norm product has no cosine, so it is not a pair."""
    def side(df, s):
        return df.select(F.col("id").alias(f"id_{s}"),
                         F.col("blk").alias(f"blk_{s}"),
                         F.col("vec").alias(f"vec_{s}"),
                         similarity._norm(F.col("vec")).alias(f"nrm_{s}"))

    den = F.col("nrm_a") * F.col("nrm_b")
    cosine = F.round(F.when(den != 0, similarity._dot(F.col("vec_a"),
                                                      F.col("vec_b")) / den),
                     6)
    return {(r.id_a, r.id_b): r.cosine for r in
            side(a, "a").join(side(b, "b"),
                              (F.col("blk_a") == F.col("blk_b"))
                              & pair(F.col("id_a"), F.col("id_b"))
                              & (cosine >= threshold))
            .select("id_a", "id_b", cosine.alias("cosine")).collect()}


def _same_bits(got, want):
    assert got.keys() == want.keys(), set(got) ^ set(want)
    for k in want:
        g, w = np.float64(got[k]), np.float64(want[k])
        assert (np.isnan(g) and np.isnan(w)) or g.tobytes() == w.tobytes(), (
            k, got[k], want[k])


def _rows(seed=3, n=240, dim=8, blocks=4):
    """Clustered random vectors over a few blocks, then adversarial rows:
    a ragged vector, a NULL element, a NULL vector, NaN and infinite
    elements, all-zero vectors, a duplicate ``(id, blk)`` row, a
    non-ASCII id and a NULL id."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(5, dim))
    rows = [(f"v{i:04d}", int(rng.integers(0, blocks)),
             [float(x) for x in centers[i % 5]
              + rng.normal(scale=0.3, size=dim)]) for i in range(n)]
    like = rows[3][2]
    rows += [("ragged", 1, like[:-1]), ("ragged2", 1, like[:-1]),
             ("hole", 1, like[:-1] + [None]), ("nullvec", 1, None),
             ("nan", 1, [float("nan")] + like[1:]),
             ("inf", 1, [float("inf")] + like[1:]),
             ("zero-a", 1, [0.0] * dim), ("zero-b", 1, [0.0] * dim),
             ("empty", 1, []), (rows[5][0], rows[5][1], rows[5][2]),
             ("é", 1, like), (None, 1, like)]
    return rows


def test_verify_bit_exact_with_expression(spark):
    """Random and adversarial vectors: the same pairs, with cosines
    equal bit for bit to the expression join, for the self-join and the
    batch-vs-index shape; long ids stay longs."""
    import operator
    rows = _rows()
    e = spark.createDataFrame(rows, ROWS)
    got = {(r.id_a, r.id_b): r.cosine
           for r in similarity._verify_pairs(e, 0.8).collect()}
    want = _expression_pairs(e, e, 0.8, operator.lt)
    assert any(np.isnan(c) for c in want.values())
    # a zero norm pairs only where the other norm is NaN or infinite
    assert all(np.isnan(c) for k, c in want.items()
               if "zero" in k[0] or "zero" in k[1])
    _same_bits(got, want)

    batch = spark.createDataFrame(rows[::3], ROWS)
    index = spark.createDataFrame(rows[1::3] + rows[:5], ROWS)
    got = {(r.new_id, r.old_id): r.cosine
           for r in similarity._verify_pairs(
               batch, 0.8, ("new_id", "old_id"), index=index).collect()}
    _same_bits(got, _expression_pairs(batch, index, 0.8, operator.ne))

    longs = spark.createDataFrame(
        [(i, blk, vec) for i, (_, blk, vec) in enumerate(rows[:120])],
        "id long, blk long, vec array<double>")
    out = similarity._verify_pairs(longs, 0.8)
    assert out.schema["id_a"].dataType == T.LongType()
    _same_bits({(r.id_a, r.id_b): r.cosine for r in out.collect()},
               _expression_pairs(longs, longs, 0.8, operator.lt))


def test_batch_verify_evaluates_the_batch_once(spark):
    """The batch-vs-index shape reads the blocks the batch touches off
    the batch's own Exchange, so a costly batch (an embedding) runs once
    per row; with the union's output partitioning off it still pairs
    each batch row with its block's index rows."""
    import operator
    rows = _rows(seed=11)
    seen = spark.sparkContext.accumulator(0)

    def counted(frames):
        for f in frames:
            seen.add(len(f))
            yield f

    raw = spark.createDataFrame(rows[::3], ROWS)
    batch = raw.mapInPandas(counted, raw.schema)
    index = spark.createDataFrame(rows[1::3] + rows[:5], ROWS)
    want = _expression_pairs(raw, index, 0.8, operator.ne)
    got = {(r.new_id, r.old_id): r.cosine
           for r in similarity._verify_pairs(
               batch, 0.8, ("new_id", "old_id"), index=index).collect()}
    assert seen.value == len(rows[::3])
    _same_bits(got, want)

    key = "spark.sql.unionOutputPartitioning"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        got = {(r.new_id, r.old_id): r.cosine
               for r in similarity._verify_pairs(
                   raw, 0.8, ("new_id", "old_id"), index=index).collect()}
    finally:
        spark.conf.set(key, old)
    assert want
    _same_bits(got, want)


def test_verify_pairs_across_arrow_batch_boundaries(spark):
    """Blocks split across 7-row Arrow batches give the same pairs."""
    e = spark.createDataFrame(_rows(seed=5), ROWS)
    want = {(r.id_a, r.id_b): r.cosine
            for r in similarity._verify_pairs(e, 0.8).collect()}
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        got = {(r.id_a, r.id_b): r.cosine
               for r in similarity._verify_pairs(e, 0.8).collect()}
    finally:
        spark.conf.set(key, old)
    assert want
    _same_bits(got, want)


@pytest.mark.parametrize("method", ["catalyst", "blas"])
def test_verify_pairs_block_larger_than_chunk(spark, monkeypatch, method):
    """A block far larger than the kernel's row chunk gives the same
    pairs as one chunk per block."""
    e = spark.createDataFrame(_rows(seed=7, blocks=2), ROWS)
    want = {(r.id_a, r.id_b): r.cosine
            for r in similarity._verify_pairs(e, 0.8, method=method).collect()}
    monkeypatch.setattr(similarity, "_CHUNK_CELLS", 16)
    got = {(r.id_a, r.id_b): r.cosine
           for r in similarity._verify_pairs(e, 0.8, method=method).collect()}
    assert len(want) > 100
    _same_bits(got, want)


def test_verify_plan_is_one_block_stream(spark):
    """One ``hashpartitioning(blk, ...)`` Exchange feeds one MapInArrow,
    and no join scores the pairs."""
    e = spark.createDataFrame(_rows(seed=9), ROWS)
    out = similarity._verify_pairs(e, 0.8)
    text = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted")
    assert len(re.findall(r"hashpartitioning\(blk#\d+", text)) == 1, text
    assert re.search(r"\bMapInArrow\b", text), text
    assert not re.search(r"SortMergeJoin|BroadcastNestedLoopJoin|"
                         r"BroadcastHashJoin|CartesianProduct", text), text


def test_zero_norm_vectors_pair_with_nothing(spark):
    """All-zero vectors share every block but have no cosine: under ANSI
    mode the expression would raise DIVIDE_BY_ZERO; the verify drops the
    pair, and the silent clips of an audio corpus pair with nothing."""
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        e = spark.createDataFrame(
            [(1, "a", [0.0, 0.0]), (2, "a", [0.0, 0.0]), (3, "a", [1.0, 0.0]),
             (4, "a", [2.0, 0.0])],
            "vec_id long, label string, embedding array<float>")
        pairs = [tuple(r) for r in
                 similarity.cosine_near_dup_pairs(e, 0.9).collect()]
        assert pairs == [(3, 4, 1.0)]

        sr = 16000
        t = np.arange(sr // 4) / sr
        tone = (0.5 * np.sin(2 * np.pi * 440 * t)).astype(np.float32)
        silent = np.zeros(sr // 4, dtype=np.float32)
        clips = spark.createDataFrame(
            [(cid, bytearray(encode(pcm, "pcm_f32le")), sr, 250, "pcm_f32le")
             for cid, pcm in (("silent-a", silent), ("silent-b", silent),
                              ("tone", tone))],
            "clip_id string, bytes binary, sr_hz int, dur_ms int, "
            "codec string")
        assert audio_sim.audio_near_dup_pairs(clips, 0.999).collect() == []
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


def test_blas_pairs_keep_string_ids(spark):
    """The BLAS mode returns the caller's string ids, ordered like
    Spark's ``<`` (UTF-8 byte order, incl. a non-ASCII id)."""
    base = [1.0, 0.5, 0.25]
    rows = [("clip-b", 1, base), ("clip-a", 1, [1.0, 0.5, 0.2501]),
            ("clip-é", 1, [1.0, 0.5001, 0.25]), ("clip-z", 1, base),
            ("clip-y", 2, base), ("clip-x", 2, [-1.0, 0.5, 0.25])]
    e = spark.createDataFrame(rows, ROWS)
    out = similarity._verify_pairs(e, 0.99, method="blas")
    assert out.schema["id_a"].dataType == T.StringType()
    assert out.schema["id_b"].dataType == T.StringType()
    got = {(r.id_a, r.id_b) for r in out.collect()}
    block = sorted(["clip-a", "clip-b", "clip-z", "clip-é"])
    assert got == {(a, b) for i, a in enumerate(block) for b in block[i + 1:]}
    assert out.filter(F.col("id_a") < F.col("id_b")).count() == len(got)


def test_audio_near_dup_plan_pin(spark):
    """q39's fixture: the embedding pass feeds one block stream — one
    ``hashpartitioning(blk)`` Exchange into a MapInArrow — then the slim
    ``(clip_id_a, clip_id_b)`` dedup Exchange, with no vector in its
    rows; no join, and nothing persisted."""
    base = FX.gen_clips(spark, 200, dirty=False, dur_lo=250, dur_hi=600,
                        partitions=8)
    dups = FX.gen_clip_dups(spark, 200, every=10, dur_lo=250, dur_hi=600,
                            partitions=4)
    pairs = audio_sim.audio_near_dup_pairs(base.unionByName(dups),
                                           threshold=0.999)
    text = pairs._sc._jvm.PythonSQLUtils.explainString(
        pairs._jdf.queryExecution(), "formatted")
    tree, details = text.split("\n\n", 1)
    assert not re.search(r"Join|InMemory", tree), tree
    # two fixture synthesis loops and the embedding loop are MapInArrow
    # too; the block stream is the one fed by a sorted Exchange
    assert len(re.findall(r"\bMapInArrow\b", tree)) == 4, tree
    assert len(re.findall(r"MapInArrow \(\d+\)\n\s*\+- Sort \(\d+\)\n"
                          r"\s*\+- Exchange", tree)) == 1, tree
    exchanges = re.findall(r"(?<![A-Za-z])Exchange \((\d+)\)", tree)
    assert len(exchanges) == 2, tree
    nodes = [details.split(f"({x}) Exchange\n", 1)[1].split("\n\n")[0]
             for x in exchanges]
    keys = sorted(re.search(r"hashpartitioning\((\w+)#", nd).group(1)
                  for nd in nodes)
    assert keys == ["blk", "clip_id_a"], nodes
    dedup = next(nd for nd in nodes if "clip_id_a#" in nd)
    assert re.search(r"hashpartitioning\(clip_id_a#\d+, clip_id_b#\d+",
                     dedup), dedup
    assert "vec" not in dedup, dedup
