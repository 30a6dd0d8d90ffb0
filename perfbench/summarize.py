"""Summarize run records under bench_runs/perfbench/.

    python3 perfbench/summarize.py [--since YYYYmmddTHHMMSS] [--cores N]

For each workload: the median, quartiles and spread (quartile distance as
a share of the median, as ``statistics.quantiles(values, n=4)`` gives the
quartiles) of every end-to-end metric and printed alias over its untraced
runs, the run
count, and the tracing overhead: the median ``trace.pass_cpu_s`` of
traced runs against the median ``pass_cpu_s`` of untraced ones.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(since: str | None, cores: int | None) -> list[dict]:
    runs = []
    for path in sorted(glob.glob(os.path.join(ROOT, "bench_runs", "perfbench",
                                              "*.json"))):
        stamp = os.path.basename(path).rsplit("-", 2)[-2]
        if since and stamp < since:
            continue
        with open(path, encoding="utf-8") as f:
            rec = json.load(f)
        if cores is None or rec["cores"] == cores:
            runs.append(rec)
    return runs


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median)."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--since")
    p.add_argument("--cores", type=int)
    args = p.parse_args()
    runs = load(args.since, args.cores)
    for wl in sorted({r["workload"] for r in runs}):
        plain = [r for r in runs if r["workload"] == wl and not r["trace"]]
        traced = [r for r in runs if r["workload"] == wl and r["trace"]]
        fails = sum(r["failed"] for r in plain + traced)
        print(f"{wl}: {len(plain)} untraced, {len(traced)} traced runs, "
              f"{fails} failed ops")
        for key in ("end_to_end", "aliases"):
            for name in (plain[0][key] if plain else {}):
                med, q1, q3, sp = spread([r[key][name] for r in plain])
                print(f"  {name:22s} median {med:12.4f}  q1 {q1:12.4f}  "
                      f"q3 {q3:12.4f}  spread {sp:.3f}")
        if plain and traced:
            base = statistics.median(r["end_to_end"]["pass_cpu_s"]
                                     for r in plain)
            tr = statistics.median(r["metrics"]["trace.pass_cpu_s"]["value"]
                                   for r in traced)
            print(f"  tracing overhead on pass_cpu_s: {tr / base - 1:+.3f} "
                  f"({tr:.4f} s traced vs {base:.4f} s untraced)")


if __name__ == "__main__":
    main()
