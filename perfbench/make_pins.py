"""Regenerate perfbench/pins.json from the current program.

    python3 perfbench/make_pins.py [workload ...]

Runs each workload's check pass in three fresh processes with different
seeds, so different query orders. A query is pinned on row count plus
``operators.checksum.table_checksum`` when all three agree, and on row
count only (``"checksum": null``) when only the counts agree. Run it
only at a commit whose sf0.01 oracle gate is green: a pin records what
the program outputs, not what it should output.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

from run import PINS, WORK, run_worker
from workloads import WORKLOADS


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("workloads", nargs="*", default=sorted(WORKLOADS))
    names = ap.parse_args().workloads
    with open(PINS) as f:
        pins = json.load(f)
    for name in names:
        seen: dict[str, list[dict]] = {}
        for seed in (1, 2, 3):
            args = argparse.Namespace(workload=name, seed=seed, seconds=0.01, trace=0)
            run_dir = os.path.join(WORK, f"pins-{name}-{seed}")
            try:
                res = run_worker(args, run_dir, ["--record-pins"])
            finally:
                shutil.rmtree(run_dir, ignore_errors=True)
            if res is None or res["failed_queries"]:
                print(f"{name}: run failed: {res and res['failed_queries']}", file=sys.stderr)
                return 1
            for q, fp in res["fingerprints"].items():
                seen.setdefault(q, []).append(fp)
        pins[name] = {}
        for q in WORKLOADS[name].queries:
            fps = seen[q]
            if any(fp["rows"] != fps[0]["rows"] for fp in fps):
                print(f"{name}/{q}: row count differs between runs", file=sys.stderr)
                return 1
            stable = all(fp == fps[0] for fp in fps)
            pins[name][q] = {
                "rows": fps[0]["rows"],
                "checksum": fps[0]["checksum"] if stable else None,
            }
            print(f"{name}/{q}: {'rows+checksum' if stable else 'rows only'}")
    with open(PINS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
