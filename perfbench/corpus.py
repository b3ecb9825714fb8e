"""Seeded benchmark inputs, generated on the driver and cached on disk.

Every fixture row is a pure function of its row index
(``fixtures.row_meta`` / ``fixtures.dup_meta``), so a seed picks a
disjoint index range and the rows of that range are the workload's
input.  Tables are written as ``ds``-partitioned parquet with the
engine's clips writer options (no dictionary encoding) and are cached
under a key of (workload, seed, size, hash of the generating sources):
editing the fixtures invalidates the cache instead of serving stale
tables.  Generation runs before any Spark session exists and counts
toward no metric; the engine only ever sees the parquet files.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass
from typing import Dict, List, Tuple

# seeds map to disjoint index ranges of this stride (clip ids are
# ``clip-%010d``, so the ranges stay inside the id width)
STRIDE = 1_000_000
MAX_SLOTS = 9_973
FILES_PER_DS = 4
GEN_VERSION = "1"
KEEP_CACHED = 32     # newest generated inputs kept; older ones are removed
GEN_PROCS = max(1, min(4, len(os.sched_getaffinity(0))))
# the sources a generated row depends on
_SOURCES = ("drain3_spark/fixtures.py", "drain3_spark/audio/synth.py",
            "drain3_spark/audio/codecs.py")


@dataclass(frozen=True)
class Spec:
    """One workload's input shape."""
    kind: str            # "dirty" (clips + ref) or "dups" (clean + planted dups)
    n: int               # base rows
    n_ds: int            # ds partitions
    dur_lo: int = 20     # payload length range, ms (bench.py's mix)
    dur_hi: int = 60
    dup_every: int = 10  # "dups": one planted near-dup per this many rows

    def meta_kw(self) -> Dict:
        return dict(n_ds=self.n_ds, dur_lo=self.dur_lo, dur_hi=self.dur_hi)


def index_range(seed: int, n: int) -> Tuple[int, int]:
    if n > STRIDE:
        raise ValueError(f"at most {STRIDE} rows per seed, got {n}")
    lo = (seed % MAX_SLOTS) * STRIDE
    return lo, lo + n


def source_hash(repo_root: str) -> str:
    h = hashlib.sha1(GEN_VERSION.encode())
    for rel in _SOURCES:
        with open(os.path.join(repo_root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _write_partitioned(rows: List[tuple], cols: List[str], types,
                       path: str) -> None:
    """Write rows whose LAST field is their ds as
    ``<path>/ds=<ds>/part-<k>.parquet`` (ds is not stored in the file)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    schema = pa.schema(list(zip(cols, types)))
    by_ds: Dict[str, List[List[tuple]]] = {}
    for k, row in enumerate(rows):
        files = by_ds.setdefault(row[-1], [[] for _ in range(FILES_PER_DS)])
        files[k % FILES_PER_DS].append(row)
    for ds, files in sorted(by_ds.items()):
        d = os.path.join(path, f"ds={ds}")
        os.makedirs(d, exist_ok=True)
        for k, part in enumerate(files):
            if not part:
                continue
            table = pa.Table.from_arrays(
                [pa.array([r[j] for r in part], type=t)
                 for j, t in enumerate(types)], schema=schema)
            pq.write_table(table, os.path.join(d, f"part-{k:03d}.parquet"),
                           use_dictionary=False)


_CLIP_COLS = ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]


def _rows(job: Tuple[Spec, int, int]) -> Tuple[List[tuple], List[tuple]]:
    """Clip rows (ds last) and reference rows of indices [lo, hi)."""
    from drain3_spark import fixtures as FX
    spec, lo, hi = job
    kw = spec.meta_kw()
    clips: List[tuple] = []
    ref: List[tuple] = []
    if spec.kind == "dirty":
        for i in range(lo, hi):
            m = FX.row_meta(i, dirty=True, **kw)
            clips.extend(FX._synth_row(m))
            if m["defect"] != "missing_ref":
                ref.append((m["clip_id"], m["transcript"], m["ds"]))
            if m["defect"] == "orphan_ref":
                ref.append((f"orphan-{i:010d}", "orphan transcript", m["ds"]))
    elif spec.kind == "dups":
        for i in range(lo, hi):
            clips.extend(FX._synth_row(FX.row_meta(i, dirty=False, **kw)))
            if i % spec.dup_every == 0:
                clips.append(FX._synth_dup_row(FX.dup_meta(i, **kw)))
    else:
        raise ValueError(spec.kind)
    return [(c[0], bytes(c[1])) + tuple(c[2:]) for c in clips], ref


def _generate(spec: Spec, lo: int, hi: int, out: str) -> None:
    """Synthesize the rows in ``GEN_PROCS`` processes (each row depends
    only on its index, so the chunks are independent) and write them in
    index order."""
    import multiprocessing
    import pyarrow as pa
    step = -(-(hi - lo) // (4 * GEN_PROCS))
    jobs = [(spec, a, min(a + step, hi)) for a in range(lo, hi, step)]
    try:
        with multiprocessing.get_context("fork").Pool(GEN_PROCS) as pool:
            parts = pool.map(_rows, jobs)
    except OSError:     # no POSIX semaphores here: generate in-process
        parts = [_rows(j) for j in jobs]
    clips = [r for c, _ in parts for r in c]
    if spec.kind == "dirty":
        # the reference table is partitioned like the clips so a
        # partition-at-a-time ingest can land both halves together
        _write_partitioned([r for _, ref in parts for r in ref],
                           ["clip_id", "transcript_ref"],
                           [pa.string(), pa.string()], out + "/ref")
    types = [pa.string(), pa.binary(), pa.int32(), pa.int32(), pa.string(),
             pa.string()]
    _write_partitioned(clips, _CLIP_COLS, types, out + "/clips")


def ensure(cache_root: str, repo_root: str, workload: str, seed: int,
           spec: Spec) -> str:
    """Directory holding ``clips/`` (and ``ref/`` for dirty specs) for
    this (workload, seed, size, source hash); generated on first use."""
    lo, hi = index_range(seed, spec.n)
    key = f"{workload}-s{seed}-n{spec.n}-d{spec.n_ds}-{source_hash(repo_root)}"
    path = os.path.join(cache_root, key)
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    _generate(spec, lo, hi, tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    _prune(cache_root)
    return path


def _prune(cache_root: str) -> None:
    done = [os.path.join(cache_root, d) for d in os.listdir(cache_root)
            if os.path.exists(os.path.join(cache_root, d, "_DONE"))]
    done.sort(key=os.path.getmtime)
    for d in done[:-KEEP_CACHED]:
        shutil.rmtree(d, ignore_errors=True)


def metas(spec: Spec, seed: int) -> List[Dict]:
    """Row metadata of the seed's index range (the expected-output
    source for the output checks)."""
    from drain3_spark import fixtures as FX
    lo, hi = index_range(seed, spec.n)
    return [FX.row_meta(i, dirty=spec.kind == "dirty", **spec.meta_kw())
            for i in range(lo, hi)]


def planted_pairs(spec: Spec, seed: int) -> List[Tuple[str, str]]:
    lo, hi = index_range(seed, spec.n)
    return [(f"clip-{i:010d}", f"dup-{i:010d}")
            for i in range(lo, hi) if i % spec.dup_every == 0]
