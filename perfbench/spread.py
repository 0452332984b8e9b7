"""Run the benchmark on several seeds and print, per end-to-end metric, the
median and the spread (distance between the first and third quartile, as a
share of the median) next to the bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload simple --seeds 1 2 3 4 5
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd)} exited {p.returncode}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    result["wall_s"] = time.time() - t0
    return result


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    a = ap.parse_args()
    values: dict[str, list[float]] = {}
    for seed in a.seeds:
        r = run_once(a.workload, seed, a.seconds, 0)
        print(f"seed {seed}: correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']} wall={r['wall_s']:.1f}s", flush=True)
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"{'metric':28s} {'median':>12s} {'spread':>8s} {'bound':>6s}")
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        print(f"{m['name']:28s} {med:12.4f} {(q3 - q1) / med:8.3f} {m['bound']:6.2f}")


if __name__ == "__main__":
    main()
