"""Pure-Python reference outputs for the workload output checks."""

from __future__ import annotations

from typing import Dict, Hashable, Iterable, List, Optional, Set, Tuple


def min_label_components(pairs: Iterable[Tuple[Hashable, Hashable]]
                         ) -> Dict[Hashable, Hashable]:
    """``{id: smallest id of its connected component}`` for every id in
    ``pairs`` — the table ``connected_components`` must produce, by
    union-find with path halving."""
    parent: Dict[Hashable, Hashable] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # the smaller root wins, so every root is its set's minimum
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {x: find(x) for x in parent}


def expected_violations(metas: Iterable[Dict], dur_bounds: Tuple[int, int],
                        snr_min: float = 30.0,
                        ds: Optional[str] = None,
                        orphans: bool = True) -> Set[tuple]:
    """The fixture's golden ``(clip_id, ds, check, detail)`` rows,
    optionally restricted to one partition and without the corpus-level
    orphan rows (``ds`` is NULL on those)."""
    from drain3_spark import fixtures as FX
    out = set()
    for m in metas:
        if ds is not None and m["ds"] != ds:
            continue
        v = FX.expected_violation(m, snr_min, dur_bounds)
        if v is None or (v[1] is None and not orphans):
            continue
        out.add(v)
    return out


def expected_drift(metas: Iterable[Dict], dur_bounds: Tuple[int, int],
                   sr_domain: Iterable[int], alpha: float,
                   max_buckets: int = 256) -> Dict[Tuple[str, str], tuple]:
    """``{(ds, check): (passed, violation_count, rows_scanned)}`` of the
    drift rows ``validate()`` must report: the engine's documented
    statistics (``ks_drift`` / ``chisq_drift`` on histograms) applied to
    the (ds, duration bucket, codec, sr) cube built here from the
    fixture metadata instead of from the table."""
    from drain3_spark import fixtures as FX
    from drain3_spark.validation.drift import chisq_drift, ks_drift
    lo, hi = dur_bounds
    width = max(1, (hi - lo) // max_buckets)
    domain = set(sr_domain)
    cube: Dict[tuple, int] = {}
    for m in metas:
        sr = FX.SR_ILLEGAL if m["defect"] == "sr_domain" else m["sr_hz"]
        dur = FX.DUR_OUT_OF_RANGE if m["defect"] == "dur_bounds" else m["dur_ms"]
        bucket = (dur // width) * width if lo <= dur <= hi else None
        key = (m["ds"], bucket, m["codec"], sr)
        cube[key] = cube.get(key, 0) + (2 if m["defect"] == "dup" else 1)
    rows = [k + (n,) for k, n in cube.items()]
    recs = (ks_drift(None, "dur_ms", None, alpha,
                     hist=[(ds, b, n) for ds, b, _, _, n in rows if b is not None])
            + chisq_drift(None, "codec", None, alpha,
                          hist=[(ds, c, n) for ds, _, c, _, n in rows])
            + chisq_drift(None, "sr_hz", None, alpha,
                          hist=[(ds, s, n) for ds, _, _, s, n in rows
                                if s in domain]))
    return {(r["ds"], r["check"]): (bool(r["passed"]),
                                    0 if r["passed"] else int(r["rows"]),
                                    int(r["rows"]))
            for r in recs}


def diff_summary(got: Set[tuple], want: Set[tuple], limit: int = 3) -> str:
    missing: List[tuple] = sorted(want - got, key=repr)[:limit]
    extra: List[tuple] = sorted(got - want, key=repr)[:limit]
    return (f"{len(want - got)} missing (e.g. {missing}), "
            f"{len(got - want)} unexpected (e.g. {extra})")
