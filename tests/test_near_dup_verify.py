"""The near-dup family's one exact verify: every operator in
``drain3_spark/pipeline/`` blocks its candidates its own way and then
calls :func:`drain3_spark.pipeline.similarity._verify_pairs` (Catalyst)
or ``_blas_pairs_by_block`` (BLAS); no operator hand-rolls the per-pair
cosine or hashes its ids for the BLAS kernel again."""

import ast
import pathlib
import re

import drain3_spark
from drain3_spark import fixtures as FX
from drain3_spark.pipeline import audio_sim, similarity

PIPELINE = pathlib.Path(drain3_spark.__file__).parent / "pipeline"


def _called_names(node):
    for n in ast.walk(node):
        if isinstance(n, ast.Call):
            f = n.func
            yield f.attr if isinstance(f, ast.Attribute) else getattr(
                f, "id", None)


def test_one_cosine_verify_no_hashed_ids():
    """No Spark: ``_dot`` is called by ``cosine_col`` and by exactly one
    other function of the pipeline package, and the audio operators
    never hash clip ids."""
    callers = set()
    for path in PIPELINE.glob("*.py"):
        tree = ast.parse(path.read_text())
        for fn in tree.body:
            if (isinstance(fn, ast.FunctionDef)
                    and "_dot" in set(_called_names(fn))):
                callers.add(f"{path.name}:{fn.name}")
    assert callers - {"similarity.py:cosine_col"} == {
        "similarity.py:_verify_pairs"}, callers
    audio = ast.parse((PIPELINE / "audio_sim.py").read_text())
    assert "xxhash64" not in set(_called_names(audio))


def test_blas_pairs_keep_string_ids(spark):
    """The BLAS kernel returns the caller's string ids, ordered like
    Spark's ``<`` (code point order, incl. a non-ASCII id)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    base = [1.0, 0.5, 0.25]
    rows = [("clip-b", 1, base), ("clip-a", 1, [1.0, 0.5, 0.2501]),
            ("clip-é", 1, [1.0, 0.5001, 0.25]), ("clip-z", 1, base),
            ("clip-y", 2, base), ("clip-x", 2, [-1.0, 0.5, 0.25])]
    e = spark.createDataFrame(rows, "id string, blk long, vec array<double>")
    out = similarity._blas_pairs_by_block(e, 0.99)
    assert out.schema["id_a"].dataType == T.StringType()
    assert out.schema["id_b"].dataType == T.StringType()
    got = {(r.id_a, r.id_b) for r in out.collect()}
    block = sorted(["clip-a", "clip-b", "clip-z", "clip-é"])
    assert got == {(a, b) for i, a in enumerate(block) for b in block[i + 1:]}
    assert out.filter(F.col("id_a") < F.col("id_b")).count() == len(got)


def test_audio_near_dup_plan_pin(spark):
    """q39's fixture: one BroadcastHashJoin over the persisted
    embedding/bucket relation, and exactly one Exchange — the slim
    ``(clip_id_a, clip_id_b)`` dedup, with no vector in its rows."""
    base = FX.gen_clips(spark, 200, dirty=False, dur_lo=250, dur_hi=600,
                        partitions=8)
    dups = FX.gen_clip_dups(spark, 200, every=10, dur_lo=250, dur_hi=600,
                            partitions=4)
    pairs = audio_sim.audio_near_dup_pairs(base.unionByName(dups),
                                           threshold=0.999)
    text = pairs._sc._jvm.PythonSQLUtils.explainString(
        pairs._jdf.queryExecution(), "formatted")
    tree, details = text.split("\n\n", 1)
    assert len(re.findall(r"\bBroadcastHashJoin\b", tree)) == 1, tree
    assert len(re.findall(r"\bInMemoryTableScan\b", tree)) == 2, tree
    assert len(re.findall(r"\bInMemoryRelation\b", tree)) == 2, tree
    exchanges = re.findall(r"(?<![A-Za-z])Exchange \((\d+)\)", tree)
    assert len(exchanges) == 1, tree
    node = details.split(f"({exchanges[0]}) Exchange\n", 1)[1].split("\n\n")[0]
    assert re.search(r"hashpartitioning\(clip_id_a#\d+, clip_id_b#\d+", node), node
    assert "vec" not in node, node
