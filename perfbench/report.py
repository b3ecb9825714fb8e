"""Summarize ``.perfbench/results``: per workload and size, the median and
quartile spread of each end-to-end metric over the untraced runs, the
tracing overhead (traced vs untraced median operation time), the
per-layer medians of the traced runs and their top-10 self-time table.

    python3 perfbench/report.py [--json OUT.json] [--md OUT.md]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys
from typing import Dict, List

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values: List[float]) -> Dict[str, float]:
    med = statistics.median(values)
    if len(values) < 2:
        return {"median": med, "q1": med, "q3": med, "iqr_share": 0.0, "n": 1}
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "iqr_share": (q3 - q1) / med if med else float("nan"),
            "n": len(values)}


def summarize(records: List[Dict]) -> Dict:
    out: Dict[str, Dict] = {}
    for wl, clips in sorted({(r["workload"], r["clips"]) for r in records}):
        mine = [r for r in records
                if r["workload"] == wl and r["clips"] == clips]
        plain = [r for r in mine if not r["trace"]]
        traced = [r for r in mine if r["trace"]]
        s: Dict = {"runs": len(plain), "traced_runs": len(traced),
                   "failed_ops": sum(len(r["errors"]) for r in plain + traced),
                   "attempted_ops": sum(r["attempted"] for r in plain + traced),
                   "errors": sorted({e for r in plain + traced
                                     for e in r["errors"].values()})}
        if plain:
            s["env"] = plain[-1]["env"]
            s["end_to_end"] = {m: spread([r["end_to_end"][m] for r in plain])
                               for m in plain[0]["end_to_end"]}
        if traced:
            s["per_layer"] = {m: statistics.median(r["per_layer"][m]
                                                   for r in traced)
                              for m in traced[0]["per_layer"]}
            s["top_self_time"] = traced[-1]["top_self_time"]
            if plain:
                t = statistics.median(r["per_layer"]["trace.op_p50_s"]
                                      for r in traced)
                u = s["end_to_end"]["batch_p50_s"]["median"]
                s["tracing_overhead_share"] = t / u - 1.0
        out[f"{wl} ({clips} base rows)"] = s
    return out


def markdown(summary: Dict) -> str:
    lines = []
    for wl, s in summary.items():
        lines.append(f"### {wl}\n")
        lines.append(f"{s['runs']} untraced + {s['traced_runs']} traced runs; "
                     f"{s['failed_ops']} of {s['attempted_ops']} operations "
                     "failed their check.\n")
        if "env" in s:
            lines.append("Environment: " + ", ".join(
                f"{k} {v}" for k, v in s["env"].items()
                if k in ("spark", "java", "python", "nproc")) + "\n")
        if "end_to_end" in s:
            lines.append("| metric | median | q1 | q3 | IQR/median |")
            lines.append("|---|---|---|---|---|")
            for m, v in s["end_to_end"].items():
                lines.append(f"| {m} | {v['median']:.4g} | {v['q1']:.4g} | "
                             f"{v['q3']:.4g} | {v['iqr_share']:.3f} |")
            lines.append("")
        if "tracing_overhead_share" in s:
            lines.append(f"Tracing overhead (traced / untraced median op "
                         f"time - 1): {s['tracing_overhead_share']:+.3f}\n")
        if "top_self_time" in s:
            lines.append("Where the time goes (self time per steady op, "
                         "one traced run):\n")
            lines.append("| span | self s | total s | calls | jobs |")
            lines.append("|---|---|---|---|---|")
            for r in s["top_self_time"]:
                lines.append(f"| {r['span']} | {r['self_s']:.3f} | "
                             f"{r['total_s']:.3f} | {r['calls']} | {r['jobs']} |")
            lines.append("")
        if "per_layer" in s:
            lines.append("Per-layer medians (traced runs; zeros omitted): "
                         + ", ".join(f"`{m}` {v:.4g}"
                                     for m, v in s["per_layer"].items() if v)
                         + "\n")
        for e in s["errors"][:5]:
            lines.append(f"- failed check: {e}")
        if s["errors"]:
            lines.append("")
    return "\n".join(lines)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--results", default=os.path.join(ROOT, ".perfbench",
                                                      "results"))
    ap.add_argument("--json")
    ap.add_argument("--md")
    args = ap.parse_args(argv)
    records = []
    for path in sorted(glob.glob(os.path.join(args.results, "*.json"))):
        with open(path) as f:
            records.append(json.load(f))
    if not records:
        print(f"no results under {args.results}", file=sys.stderr)
        return 1
    summary = summarize(records)
    if args.json:
        with open(args.json, "w") as f:
            json.dump(summary, f, indent=1)
    text = markdown(summary)
    if args.md:
        with open(args.md, "w") as f:
            f.write(text + "\n")
    print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
