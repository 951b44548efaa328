"""Summarize benchmark runs across seeds.

    python3 perfbench/summarize.py [DIR] [--json OUT]

Reads every ``run_<workload>_seed<n>_trace0_cores<c>.json`` record in
DIR (default ``.bench_out``) and prints, per workload and end-to-end
metric, the median, quartiles and count of the per-run values, and
the spread (q3 - q1) / median, with the quartiles of
``statistics.quantiles(values, n=4)``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from run import END_TO_END, ROOT, WALL, summarize  # noqa: E402


def summarize_dir(path: str) -> dict:
    by_wl: dict[str, dict[str, list[float]]] = {}
    for f in sorted(glob.glob(os.path.join(path, "run_*_trace0_cores*.json"))):
        with open(f) as fd:
            rec = json.load(fd)
        if rec["provenance"]["cores"] != rec["provenance"]["host_cpus"] or rec["failed_checks"]:
            continue
        vals = by_wl.setdefault(rec["provenance"]["workload"], {})
        for name in {**END_TO_END, **WALL}:
            s = rec["end_to_end"].get(name)
            if s:
                vals.setdefault(name, []).append(s["median"])
    out = {}
    for wl, metrics in sorted(by_wl.items()):
        out[wl] = {}
        for name, vs in metrics.items():
            s = summarize(vs)
            s.update(unit={**END_TO_END, **WALL}[name], spread=(s["q3"] - s["q1"]) / s["median"], values=vs)
            out[wl][name] = s
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("dir", nargs="?", default=os.path.join(ROOT, ".bench_out"))
    ap.add_argument("--json", help="also write the summary here")
    args = ap.parse_args()
    summary = summarize_dir(args.dir)
    for wl, metrics in summary.items():
        for name, s in metrics.items():
            print(f"{wl} {name} [{s['unit']}] median {s['median']:.6g} q1 {s['q1']:.6g} "
                  f"q3 {s['q3']:.6g} n {s['n']} spread {s['spread']:.4f}")
    if args.json:
        with open(args.json, "w") as fd:
            json.dump(summary, fd, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
