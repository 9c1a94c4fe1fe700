"""Self-check of the benchmark at tiny size.

    python3 perfbench/selfcheck.py

Runs every workload of BENCHMARK.json once untraced and once traced, on
the sf0.001 tables and a 200-record FMP fixture, with the fewest passes
a run allows. Asserts that each result line carries exactly the metrics
BENCHMARK.json names, each with its unit, that every output check
passed, and that the traced run's phase spans account for the wall time
of each operation.
"""
import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
SPEC = json.loads((BENCH.parent / "BENCHMARK.json").read_text())


def run(workload, trace):
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, check=False)
    lines = out.stdout.decode().strip().splitlines()
    assert out.returncode == 0 and lines, f"{workload} trace={trace}: run failed"
    return json.loads(lines[-1])


def main():
    problems = []
    for w in SPEC["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            r = run(w["name"], trace)
            want = {m["name"]: m["unit"] for m in SPEC[key]}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            where = f"{w['name']} trace={trace}"
            if set(r) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{where}: result keys {sorted(r)}")
            if got != want:
                problems.append(f"{where}: metrics/units differ: "
                                f"missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, "
                                f"units {[k for k in want if k in got and got[k] != want[k]]}")
            if not r["correct"] or r["failed"] != 0 or r["attempted"] < 1:
                problems.append(f"{where}: correct={r['correct']} failed={r['failed']} "
                                f"attempted={r['attempted']}")
            if trace == 1:
                cov = r["metrics"].get("trace.phase_coverage", {}).get("value", 0)
                if not 0.99 <= cov <= 1.0:
                    problems.append(f"{where}: phase spans cover {cov:.4f} of operation time")
            print(f"{where}: {'ok' if not problems else 'problems so far: ' + str(len(problems))}")
    for p in problems:
        print("FAIL", p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
