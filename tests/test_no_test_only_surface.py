"""Every public module-level function or class in ``drain3_spark/`` has
a caller outside the tests, or a stated reason to exist without one.
Every private module-level function has a caller outside the tests.
Every field of the engine's two config dataclasses is read outside the
tests, or has a stated reason to exist unread.

A name counts as called when some ``.py`` file outside any ``tests/``
directory references it as an AST ``Name``, an ``Attribute`` or an
import alias.  A package ``__init__.py`` re-export inside
``drain3_spark/`` is not a caller.  Every name an engine module imports
is used in that module.  AST only: no Spark, no imports of the engine.
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
}


def _engine_modules():
    """(path, AST) for every ``.py`` file under ``drain3_spark/``."""
    for dirpath, _, files in os.walk(os.path.join(ROOT, "drain3_spark")):
        for fn in files:
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                with open(path) as f:
                    yield path, ast.parse(f.read(), path)


def _module_defs(private=False):
    """name -> defining file, for every public module-level def/class,
    or with ``private`` for every private module-level function."""
    kinds = ((ast.FunctionDef, ast.AsyncFunctionDef) if private
             else (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    out = {}
    for path, tree in _engine_modules():
        for node in tree.body:
            if isinstance(node, kinds) \
                    and node.name.startswith("_") == private \
                    and not node.name.startswith("__"):
                out[node.name] = os.path.relpath(path, ROOT)
    return out


def _referenced_names():
    """Every Name, Attribute and import alias outside ``tests/``, minus
    the import aliases of the engine's package ``__init__.py`` files: a
    re-export is not a caller."""
    engine = os.path.join(ROOT, "drain3_spark") + os.sep
    refs = set()
    for dirpath, dirs, files in os.walk(ROOT):
        dirs[:] = [d for d in dirs
                   if d != "tests" and not d.startswith(".")]
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            reexports = fn == "__init__.py" and path.startswith(engine)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for node in ast.walk(tree):
                if isinstance(node, ast.Name):
                    refs.add(node.id)
                elif isinstance(node, ast.Attribute):
                    refs.add(node.attr)
                elif isinstance(node, ast.alias) and not reexports:
                    refs.add(node.name.rsplit(".", 1)[-1])
                    if node.asname:
                        refs.add(node.asname)
    return refs


def test_every_public_name_has_a_caller_outside_tests():
    defs = _module_defs()
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


def test_every_private_function_has_a_caller_outside_tests():
    """A private helper only the tests call is test-only surface too;
    a call from its own module counts."""
    refs = _referenced_names()
    uncalled = {name: path for name, path in _module_defs(private=True)
                .items() if name not in refs}
    assert not uncalled, (
        f"private functions with no caller outside tests/: {uncalled}; "
        f"delete them or give them a caller")


def test_every_import_is_used():
    """Each name a non-``__init__`` engine module imports (at any depth)
    is referenced somewhere in that module as an AST ``Name``."""
    unused = []
    for path, tree in _engine_modules():
        if os.path.basename(path) == "__init__.py":
            continue
        imported, used = {}, set()
        for node in ast.walk(tree):
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                if getattr(node, "module", None) == "__future__":
                    continue
                for a in node.names:
                    imported[a.asname or a.name.split(".")[0]] = node.lineno
            elif isinstance(node, ast.Name):
                used.add(node.id)
        unused += [f"{os.path.relpath(path, ROOT)}:{line} {name}"
                   for name, line in imported.items() if name not in used]
    assert not unused, f"unused imports: {sorted(unused)}"


# (file, dataclass) whose every field must be read outside the tests
CONFIGS = [("drain3_spark/config.py", "EngineConfig"),
           ("drain3_spark/validation/runner.py", "ValidationConfig")]

# field -> why it stays without a read outside the tests
ALLOWED_FIELDS = {}


def _read_attributes():
    """Every attribute name read (``ast.Load``) by a ``.py`` file outside
    ``tests/``."""
    reads = set()
    for dirpath, dirs, files in os.walk(ROOT):
        dirs[:] = [d for d in dirs
                   if d != "tests" and not d.startswith(".")]
        for fn in files:
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                with open(path) as f:
                    tree = ast.parse(f.read(), path)
                reads |= {node.attr for node in ast.walk(tree)
                          if isinstance(node, ast.Attribute)
                          and isinstance(node.ctx, ast.Load)}
    return reads


def test_every_config_field_is_read_outside_tests():
    reads = _read_attributes()
    fields = []
    for rel, cls in CONFIGS:
        with open(os.path.join(ROOT, rel)) as f:
            tree = ast.parse(f.read(), rel)
        (node,) = [n for n in tree.body
                   if isinstance(n, ast.ClassDef) and n.name == cls]
        fields += [(cls, stmt.target.id) for stmt in node.body
                   if isinstance(stmt, ast.AnnAssign)]
    unread = [f"{cls}.{name}" for cls, name in fields
              if name not in reads and name not in ALLOWED_FIELDS]
    assert not unread, (
        f"config fields nothing outside tests/ reads: {unread}; delete "
        f"them or read them")
    stale = {name for name in ALLOWED_FIELDS
             if name not in {n for _, n in fields} or name in reads}
    assert not stale, (
        f"field allowlist entries that no longer exist or are now read: "
        f"{sorted(stale)}")
