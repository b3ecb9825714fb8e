"""Every public module-level function or class in ``drain3_spark/`` has
a caller outside the tests, or a stated reason to exist without one.

A name counts as called when some ``.py`` file outside any ``tests/``
directory references it as an AST ``Name``, an ``Attribute`` or an
import alias.  AST only: no Spark, no imports of the engine.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# name -> why it stays without a caller outside the tests
ALLOWED = {
    "gen_expected_violations": "test oracle for the validation checks",
    "oracle_sample_hash_sql": "test oracle for the hash sampler",
    "template_anomaly_violations":
        "BASELINE.json north star: cluster anomaly violations",
    "corpus_manifest": "BASELINE.json north star: per-partition column stats",
    "EngineProfiler": "observability direction: engine profiler",
    "profile_report": "observability direction: profiler report",
    "audio_lsh_buckets": "perfbench/run.py wraps it by name",
    "write_band_index": "index-asset family, kept for a later deletion pass",
    "write_fingerprint_index":
        "index-asset family, kept for a later deletion pass",
    "load_fingerprint_index":
        "index-asset family, kept for a later deletion pass",
    "update_fingerprint_index":
        "index-asset family, kept for a later deletion pass",
    "update_audio_index": "index-asset family, kept for a later deletion pass",
    "update_band_index": "index-asset family, kept for a later deletion pass",
    "container_metadata_violations": "kept for a later deletion pass",
    "stratified_take": "kept for a later deletion pass",
}


def _public_defs():
    """name -> defining file, for every public module-level def/class."""
    out = {}
    for dirpath, _, files in os.walk(os.path.join(ROOT, "drain3_spark")):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)) \
                        and not node.name.startswith("_"):
                    out[node.name] = os.path.relpath(path, ROOT)
    return out


def _referenced_names():
    """Every Name, Attribute and import alias outside ``tests/``."""
    refs = set()
    for dirpath, dirs, files in os.walk(ROOT):
        dirs[:] = [d for d in dirs
                   if d != "tests" and not d.startswith(".")]
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for node in ast.walk(tree):
                if isinstance(node, ast.Name):
                    refs.add(node.id)
                elif isinstance(node, ast.Attribute):
                    refs.add(node.attr)
                elif isinstance(node, ast.alias):
                    refs.add(node.name.rsplit(".", 1)[-1])
                    if node.asname:
                        refs.add(node.asname)
    return refs


def test_every_public_name_has_a_caller_outside_tests():
    defs = _public_defs()
    refs = _referenced_names()
    uncalled = {name: path for name, path in defs.items()
                if name not in refs and name not in ALLOWED}
    assert not uncalled, (
        f"public names with no caller outside tests/: {uncalled}; delete "
        f"them or give them a caller")
    stale = {name for name in ALLOWED if name not in defs or name in refs}
    assert not stale, (
        f"allowlist entries that no longer exist or now have a caller: "
        f"{sorted(stale)}")
