"""The one committed micro-batch step (``jobs.MicroBatchStep``) behind
``run_incremental`` and the streaming driver: the resume guard of the
batch driver, the commit of cadence-deferred state, crash-and-resume at
every commit point of every batch for both drivers, and a guard that
the step stays the only copy."""

import ast
import os
import pathlib
import re

import pyarrow.parquet as pq
import pytest

import drain3_spark
from drain3_spark.config import EngineConfig
from drain3_spark.jobs import run_incremental
from drain3_spark.state.store import CheckpointStore
from drain3_spark.streaming import make_batch_processor
from drain3_spark.validation.runner import ValidationConfig, ValidationEngine

SCHEMA = "ds string, clip_id string, transcript string"

# every ds creates a cluster and grows or rewrites an earlier one
CORPUS = {
    "2026-08-01": ["alpha beta gamma", "alpha beta gamma", "disk 7 full",
                   "user bob logged in"],
    "2026-08-02": ["alpha beta gamma", "disk 9 full", "user amy logged in",
                   "cache flush completed now"],
    "2026-08-03": ["alpha beta delta", "cache flush completed now",
                   "brand new shape of line here", "disk 3 full"],
}


def _clips(spark, corpus):
    rows = [(ds, f"clip-{ds}-{j:04d}", t)
            for ds, lines in corpus.items() for j, t in enumerate(lines)]
    return spark.createDataFrame(rows, SCHEMA)


def test_late_or_missing_partition_is_rejected(spark, tmp_path):
    """Resume is by ordinal, so a partition that sorts at or below the
    committed one would shift every ordinal: the call must fail instead
    of re-mining a committed partition and never mining the late one."""
    cfg = EngineConfig(snapshot_interval_minutes=0)
    state = str(tmp_path / "state")
    two = {ds: CORPUS[ds] for ds in ("2026-08-02", "2026-08-03")}
    done = run_incremental(spark, _clips(spark, two), state, cfg=cfg,
                           validate=False)
    assert [b.ds for b in done] == ["2026-08-02", "2026-08-03"]
    committed = CheckpointStore(state).latest(spark)

    with pytest.raises(ValueError, match=r"'2026-08-03'.*"
                       r"\['2026-08-01', '2026-08-02', '2026-08-03'\]"):
        run_incremental(spark, _clips(spark, CORPUS), state, cfg=cfg,
                        validate=False)
    only_new = {"2026-08-04": ["alpha beta gamma"]}
    with pytest.raises(ValueError, match=r"'2026-08-03'.*\[\]"):
        run_incremental(spark, _clips(spark, only_new), state, cfg=cfg,
                        validate=False)
    assert CheckpointStore(state).latest(spark) == committed


def test_deferred_tail_is_committed(spark, tmp_path):
    """A last batch deferred by the cadence (no cluster delta, interval
    not elapsed) is committed before the call returns, so a second call
    on the same input processes nothing."""
    cfg = EngineConfig(snapshot_interval_minutes=60)
    clips = _clips(spark, {"2026-08-01": ["alpha beta gamma"] * 4,
                           "2026-08-02": ["alpha beta gamma"] * 4})
    state = str(tmp_path / "state")
    first = run_incremental(spark, clips, state, cfg=cfg, validate=False)
    assert [(b.ds, b.committed) for b in first] == [("2026-08-01", True),
                                                    ("2026-08-02", False)]
    assert run_incremental(spark, clips, state, cfg=cfg, validate=False) == []
    _, rows, counter, key = CheckpointStore(state).latest(spark)
    assert sorted(rows) == sorted(first[-1].clusters)
    assert (counter, key) == (first[-1].counter, "2026-08-02")
    assert {r[3]: r[4] for r in rows} == {"alpha beta gamma": 8}


# ------------------------------------------------------------ fault matrix

class Crash(Exception):
    pass


def _inject(monkeypatch, point, state_dir):
    """Crash once at ``point`` of every batch's commit; returns the list of
    commit ids that crashed."""
    crashed = []

    def once(batch_id):
        if batch_id in crashed:
            return False
        crashed.append(batch_id)
        return True

    real_commit = CheckpointStore.commit
    if point == "before_write":
        def commit(self, batch_id, clusters, counter, batch_key=""):
            if once(batch_id):
                raise Crash(point)
            real_commit(self, batch_id, clusters, counter, batch_key)
        monkeypatch.setattr(CheckpointStore, "commit", commit)
    elif point == "before_marker":
        real_replace = os.replace

        def replace(src, dst, *a, **kw):
            name = os.path.basename(dst)
            if (str(dst).startswith(state_dir) and name.startswith("_committed_")
                    and once(int(name.rsplit("_", 1)[1]))):
                raise Crash(point)
            return real_replace(src, dst, *a, **kw)
        monkeypatch.setattr(os, "replace", replace)
    else:
        def commit(self, batch_id, clusters, counter, batch_key=""):
            real_commit(self, batch_id, clusters, counter, batch_key)
            if once(batch_id):
                raise Crash(point)
        monkeypatch.setattr(CheckpointStore, "commit", commit)
    return crashed


def _drive_batch(spark, state, out):
    clips = _clips(spark, CORPUS)
    for _ in range(2 * len(CORPUS) + 1):
        try:
            run_incremental(spark, clips, state,
                            cfg=EngineConfig(snapshot_interval_minutes=0),
                            validate=False, out_dir=out)
            return
        except Crash:
            continue  # a new process re-runs the same call
    raise AssertionError("run_incremental never completed")


def _drive_stream(spark, state, out):
    store = CheckpointStore(state)

    def make():
        return make_batch_processor(
            store, EngineConfig(snapshot_interval_minutes=0),
            ValidationEngine(ValidationConfig(with_audio=False,
                                              with_drift=False)),
            out, validate=False)

    proc = make()
    for batch_id, ds in enumerate(CORPUS):
        batch = _clips(spark, {ds: CORPUS[ds]})
        try:
            proc(batch, batch_id)
        except Crash:
            # restart: foreachBatch re-delivers the crashed batch id to a
            # fresh processor
            proc = make()
            proc(batch, batch_id)
    proc.flush(spark)


DRIVERS = {"run_incremental": _drive_batch, "streaming": _drive_stream}


def _outcome(spark, state, out):
    """(committed state, every assignments row with its partition)."""
    _, rows, counter, key = CheckpointStore(state).latest(spark)
    root = os.path.join(out, "assignments")
    assigned = sorted(
        (part,) + tuple(sorted(r.items()))
        for part in os.listdir(root)
        for r in pq.read_table(os.path.join(root, part)).to_pylist())
    return sorted(rows), counter, key, assigned


@pytest.fixture(scope="module")
def uninterrupted(spark, tmp_path_factory):
    """Each driver's outcome on a run that never crashed."""
    out = {}
    for driver, drive in DRIVERS.items():
        d = tmp_path_factory.mktemp(f"clean_{driver}")
        drive(spark, str(d / "state"), str(d / "out"))
        out[driver] = _outcome(spark, str(d / "state"), str(d / "out"))
    return out


@pytest.mark.parametrize("point", ["before_write", "before_marker",
                                   "after_commit"])
@pytest.mark.parametrize("driver", sorted(DRIVERS))
def test_crash_at_every_batch_resumes_to_uninterrupted(
        spark, tmp_path, uninterrupted, monkeypatch, driver, point):
    """Crash once at ``point`` of each batch's commit in turn, resume,
    and end with the committed state and outputs of a run that never
    crashed (lineage holds wall times, so it is not compared)."""
    want = uninterrupted[driver]
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    crashed = _inject(monkeypatch, point, state)
    DRIVERS[driver](spark, state, out)
    monkeypatch.undo()
    assert crashed == list(range(len(CORPUS)))
    assert _outcome(spark, state, out) == want
    assert len(want[3]) == sum(map(len, CORPUS.values()))


# ------------------------------------------------------------------- guard

PKG = pathlib.Path(drain3_spark.__file__).parent


def _calls(rel, name):
    return sum(1 for node in ast.walk(ast.parse((PKG / rel).read_text()))
               if isinstance(node, ast.Call)
               and name in (getattr(node.func, "attr", None),
                            getattr(node.func, "id", None)))


def test_one_micro_batch_step():
    """Mining against the carried state and the snapshot cadence exist
    once, in the step both drivers call, the mining operator is the
    only caller of the kernel's ingest outside ``core/``, and the
    kernel's tree-node format stays inside ``core/``."""
    assert _calls("jobs.py", "mine_templates") \
        + _calls("streaming.py", "mine_templates") == 1
    callers = {p.relative_to(PKG).as_posix(): _calls(p.relative_to(PKG),
                                                     "latest_commit_time")
               for p in PKG.rglob("*.py")}
    assert {k: v for k, v in callers.items() if v} == {"jobs.py": 1}
    assert {p.relative_to(PKG).as_posix() for p in PKG.rglob("*.py")
            if p.relative_to(PKG).parts[0] != "core"
            and _calls(p.relative_to(PKG), "ingest_tokens")} \
        == {"operators/mining.py"}
    assert not [p.relative_to(PKG).as_posix() for p in PKG.rglob("*.py")
                if p.relative_to(PKG).parts[0] != "core"
                and re.search(r"\b(_CHILD|_IDS)\b", p.read_text())]
