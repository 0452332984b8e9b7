"""Tracing overhead: run one workload and seed untraced, then traced, and
print each end-to-end metric of both runs and their difference.

    python3 perfbench/overhead.py --workload simple --seed 1

A traced run reports its own end-to-end numbers in
``perfbench/_out/<workload>-seed<seed>-trace1/result.json`` (key
``end_to_end``); the difference from the untraced run is the cost of the
spans, the job groups and the Spark event log, plus run-to-run noise.
"""

from __future__ import annotations

import argparse
import json
import os

from spread import HERE, ROOT, run_once


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    a = ap.parse_args()
    runs = {}
    for trace in (0, 1):
        run_once(a.workload, a.seed, a.seconds, trace)
        out = os.path.join(HERE, "_out", f"{a.workload}-seed{a.seed}-trace{trace}", "result.json")
        with open(out) as f:
            runs[trace] = json.load(f)["end_to_end"]
    print(f"{'metric':28s} {'untraced':>12s} {'traced':>12s} {'overhead':>12s} {'share':>8s}")
    for m in spec["end_to_end"]:
        off, on = runs[0][m["name"]], runs[1][m["name"]]
        print(f"{m['name']:28s} {off:12.4f} {on:12.4f} {on - off:12.4f} {(on - off) / off:8.3f}")


if __name__ == "__main__":
    main()
