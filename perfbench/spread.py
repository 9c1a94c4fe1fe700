"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload <name> [--runs 10] [--first-seed 1] [--trace 0]

Runs one workload once per seed (first-seed, first-seed + 1, ...) and
prints, for each metric: the median, the quartiles, and the distance
between the quartiles as a share of the median, next to the metric's
bound from BENCHMARK.json. Also prints each run's wall time.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
SPEC = json.loads((BENCH.parent / "BENCHMARK.json").read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in SPEC["end_to_end"] + SPEC["per_layer"]}
    values = {}
    for seed in range(a.first_seed, a.first_seed + a.runs):
        t0 = time.time()
        out = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", a.workload,
                              "--seed", str(seed), "--seconds", str(SPEC["run_seconds"]),
                              "--trace", a.trace], stdout=subprocess.PIPE, check=False)
        wall = time.time() - t0
        lines = out.stdout.decode().strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {seed}: run failed (exit {out.returncode}) after {wall:.0f} s")
            continue
        r = json.loads(lines[-1])
        print(f"seed {seed}: wall {wall:.1f} s correct={r['correct']} "
              f"attempted={r['attempted']} failed={r['failed']}", flush=True)
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in sorted(values.items()):
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        share = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        flag = "" if b is None else (" ok" if share < b / 3 else " WIDE")
        print(f"{k:28s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
              f"spread {share:6.3f}  bound {b}{flag}")


if __name__ == "__main__":
    main()
