"""Guard for the one per-clip audio loop: payload decode happens only in
:func:`drain3_spark.audio.runner.map_clips`, and no audio operator
hand-rolls its own ``ship_package`` + ``mapInArrow`` (or
``mapInPandas``) loop again."""

import ast
import pathlib

import drain3_spark

PKG = pathlib.Path(drain3_spark.__file__).parent

# wav.py decodes a container's inner sample stream: codec-internal
DECODE_ALLOWED = {"audio/runner.py", "audio/wav.py"}

AUDIO_MODULES = ("pipeline/audio_sim.py", "pipeline/audio_loudness.py",
                 "pipeline/audio_pitch.py", "pipeline/audio_quality.py",
                 "pipeline/audio_fp.py", "pipeline/audio_vad.py",
                 "pipeline/multimodal.py", "validation/audio.py")


def _tree(rel):
    return ast.parse((PKG / rel).read_text())


def _decode_calls(tree):
    """Calls of ``drain3_spark.audio.codecs.decode`` under any alias."""
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module in (
                "drain3_spark.audio.codecs", "drain3_spark.audio"):
            names |= {a.asname or a.name for a in node.names
                      if a.name == "decode"}
    return [node for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and ((isinstance(node.func, ast.Name) and node.func.id in names)
                 or (isinstance(node.func, ast.Attribute)
                     and node.func.attr == "decode"
                     and isinstance(node.func.value, ast.Name)
                     and node.func.value.id == "codecs"))]


def _loop_calls(tree):
    """``ship_package(...)``, ``.mapInArrow(...)`` and ``.mapInPandas(...)``
    calls."""
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(
                f, "id", None)
            if name in ("ship_package", "mapInArrow", "mapInPandas"):
                out.append(name)
    return out


def test_payload_decode_only_in_the_runner():
    hits = {}
    for path in PKG.rglob("*.py"):
        rel = path.relative_to(PKG).as_posix()
        n = len(_decode_calls(ast.parse(path.read_text())))
        if n:
            hits[rel] = n
    assert set(hits) <= DECODE_ALLOWED, hits
    assert hits.get("audio/runner.py") == 1


def test_audio_operators_use_the_runner():
    for rel in AUDIO_MODULES:
        tree = _tree(rel)
        assert _loop_calls(tree) == [], rel
        assert any(isinstance(n, ast.Name) and n.id == "map_clips"
                   for n in ast.walk(tree)), rel


def test_retired_copies_are_gone():
    from drain3_spark.pipeline import audio_vad
    from drain3_spark.validation import audio
    assert not hasattr(audio_vad, "_decode_batch")
    assert not hasattr(audio, "audio_violations")
