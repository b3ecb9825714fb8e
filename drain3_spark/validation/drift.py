"""Distribution-drift checks across time partitions (SURVEY.md C7).

No scipy in the sandbox — the statistics are hand-rolled on *aggregated*
tables and run in numpy on a histogram of at most (n_ds × distinct
values) rows.  The engine's histograms come from ONE Spark aggregation,
the bounded (ds, dur bucket, codec, sr_hz) cube of
``runner.drift_pass``, passed in as ``hist``.  This is the scale design
too: at 10^12 rows the KS input is still a few-hundred-row histogram per
partition, because the cube buckets ``dur_ms`` before it groups.
Without ``hist`` each function runs its own unbucketed ``groupBy`` of
``clips``, which is only safe on a bounded value domain.

* KS two-sample D statistic with asymptotic critical value
  ``c(alpha) * sqrt((n+m)/(n*m))``, c(0.05)=1.3581.
* Pearson chi-square on the (ds × category) contingency table with a
  Wilson–Hilferty critical-value approximation.

Both run at alpha 0.10, 0.05 or 0.01, the levels whose critical values
are tabulated; any other alpha raises ``ValueError``.

Reference precedent: the LRU "adapt to recent templates" rationale
(README.md:246-248) — drift of the input distribution is a first-class
signal here rather than an eviction heuristic.
"""

from __future__ import annotations

import math
from typing import Dict, List, Optional

import numpy as np
from pyspark.sql import DataFrame, functions as F

KS_C_ALPHA = {0.10: 1.2238, 0.05: 1.3581, 0.01: 1.6276}
_Z = {0.10: 1.2816, 0.05: 1.6449, 0.01: 2.3263}


def _check_alpha(alpha: float) -> None:
    """Only the tabulated significance levels have critical values; any
    other alpha would silently test at a different level."""
    if alpha not in KS_C_ALPHA:
        raise ValueError(f"unsupported drift alpha {alpha!r}; expected one "
                         f"of {sorted(KS_C_ALPHA)}")


def _chi2_critical(dof: int, alpha: float) -> float:
    """Wilson–Hilferty approximation of the chi-square quantile."""
    z = _Z[alpha]
    if dof <= 0:
        return float("inf")
    return dof * (1.0 - 2.0 / (9.0 * dof) + z * math.sqrt(2.0 / (9.0 * dof))) ** 3


def ks_drift(clips: Optional[DataFrame], value_col: str = "dur_ms",
             baseline_ds: str | None = None,
             alpha: float = 0.05,
             hist: Optional[List[tuple]] = None) -> List[dict]:
    """Two-sample KS of each ds partition against the baseline partition.

    Value histogram per ds; exact D computed on the merged support in
    numpy.  Returns one record per non-baseline ds.  ``hist`` supplies
    precomputed (ds, value, n) rows (the shared cube,
    ``runner.drift_pass``); without it one Spark aggregation of ``clips``
    builds them.
    """
    _check_alpha(alpha)
    if hist is None:
        hist = (clips.groupBy("ds", F.col(value_col).alias("_v"))
                .agg(F.count(F.lit(1)).alias("n")).collect())
        hist = [(r["ds"], r["_v"], r["n"]) for r in hist]
    by_ds: Dict[str, Dict[float, int]] = {}
    for ds, value, n in hist:
        by_ds.setdefault(ds, {})[float(value)] = \
            by_ds.setdefault(ds, {}).get(float(value), 0) + int(n)
    if not by_ds:
        return []
    baseline_ds = baseline_ds or min(by_ds)
    base = by_ds.get(baseline_ds, {})
    n_base = sum(base.values())
    out = []
    for ds in sorted(by_ds):
        if ds == baseline_ds:
            continue
        cur = by_ds[ds]
        n_cur = sum(cur.values())
        support = np.array(sorted(set(base) | set(cur)))
        cdf_a = np.cumsum([base.get(v, 0) for v in support]) / max(n_base, 1)
        cdf_b = np.cumsum([cur.get(v, 0) for v in support]) / max(n_cur, 1)
        d = float(np.max(np.abs(cdf_a - cdf_b))) if len(support) else 0.0
        crit = KS_C_ALPHA[alpha] * math.sqrt(
            (n_base + n_cur) / max(n_base * n_cur, 1))
        out.append({"ds": ds, "check": f"drift_ks_{value_col}", "statistic": d,
                    "threshold": crit, "passed": d <= crit,
                    "rows": n_cur, "baseline_ds": baseline_ds})
    return out


def chisq_drift(clips: Optional[DataFrame], cat_col: str = "codec",
                baseline_ds: str | None = None,
                alpha: float = 0.05,
                hist: Optional[List[tuple]] = None) -> List[dict]:
    """Pearson chi-square of each ds partition's category frequencies
    against the baseline partition's.  ``hist`` short-circuits the
    aggregation with precomputed (ds, category, n) rows."""
    _check_alpha(alpha)
    if hist is None:
        hist = (clips.groupBy("ds", cat_col)
                .agg(F.count(F.lit(1)).alias("n")).collect())
        hist = [(r["ds"], r[cat_col], r["n"]) for r in hist]
    by_ds: Dict[str, Dict[str, int]] = {}
    for ds, cat, n in hist:
        by_ds.setdefault(ds, {})[str(cat)] = \
            by_ds.setdefault(ds, {}).get(str(cat), 0) + int(n)
    if not by_ds:
        return []
    baseline_ds = baseline_ds or min(by_ds)
    base = by_ds.get(baseline_ds, {})
    n_base = sum(base.values())
    out = []
    for ds in sorted(by_ds):
        if ds == baseline_ds:
            continue
        cur = by_ds[ds]
        n_cur = sum(cur.values())
        cats = sorted(set(base) | set(cur))
        stat = 0.0
        dof = -1
        for c in cats:
            o = cur.get(c, 0)
            # expected count under the baseline's proportions
            e = n_cur * (base.get(c, 0) / max(n_base, 1))
            if e > 0:
                stat += (o - e) ** 2 / e
                dof += 1
            elif o > 0:
                stat = float("inf")
        crit = _chi2_critical(max(dof, 1), alpha)
        out.append({"ds": ds, "check": f"drift_chisq_{cat_col}", "statistic": stat,
                    "threshold": crit, "passed": stat <= crit,
                    "rows": n_cur, "baseline_ds": baseline_ds})
    return out
