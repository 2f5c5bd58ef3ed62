"""Summarize the runs recorded in perfbench/.work/runs.jsonl.

    python3 perfbench/summary.py [--last N]

Per workload and end-to-end metric: run count, median, quartiles and
the quartile spread as a share of the median, next to the metric's
bound in BENCHMARK.json, plus failed/attempted. Then it names
the runs taken under host contention: CPU steal above 2% of the timed
window's CPU capacity, or a wall ÷ (task time / slots) ratio more than
25% above the workload's median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

from run import ROOT, WORK
from worker import SLOTS

STEAL_SHARE = 0.02
WALL_OVER_TASK_EXCESS = 1.25


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--last", type=int, default=0, help="only the last N runs")
    args = ap.parse_args()
    path = os.path.join(WORK, "runs.jsonl")
    with open(path) as f:
        runs = [json.loads(line) for line in f if line.strip()]
    runs = runs[-args.last :] if args.last else runs
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        specs = json.load(f)["end_to_end"]
    by_wl: dict[str, list[dict]] = {}
    for r in runs:
        if not r["trace"]:
            by_wl.setdefault(f"{r['workload']} --seconds {r['seconds']:g}", []).append(r)
    for wl, rs in sorted(by_wl.items()):
        failed = sum(r["failed"] for r in rs)
        attempted = sum(r["attempted"] for r in rs)
        print(f"{wl}: {len(rs)} runs, failed {failed}/{attempted}")
        for spec in specs:
            name = spec["name"]
            vals = [r[name] for r in rs]
            med = statistics.median(vals)
            if len(vals) >= 2:
                q1, _, q3 = statistics.quantiles(vals, n=4)
            else:
                q1 = q3 = med
            print(
                f"  {name:12s} median {med:9.4f} {spec['unit']}  q1 {q1:9.4f}"
                f"  q3 {q3:9.4f}  spread {(q3 - q1) / med:7.2%}"
                f"  bound {spec['bound']:.0%}"
            )
        ratios = [r["host.wall_over_task"] for r in rs if r["host.wall_over_task"]]
        typical = statistics.median(ratios) if ratios else None
        for r in rs:
            why = []
            window = sum(r["timed_passes"]) * SLOTS
            if r["host.steal_s"] > STEAL_SHARE * window:
                why.append(f"steal {r['host.steal_s']:.2f} s of {window:.1f} CPU-s")
            ratio = r["host.wall_over_task"]
            if typical and ratio and ratio > WALL_OVER_TASK_EXCESS * typical:
                why.append(f"wall/task {ratio:.2f} vs median {typical:.2f}")
            if why:
                print(f"  contended: seed {r['seed']} at {r['time']}: {'; '.join(why)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
