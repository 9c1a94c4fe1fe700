"""Regenerates the golden output files of the query workloads.

    python3 perfbench/make_golden.py [--size full|tiny] [workload ...]

Runs each query workload twice, with two seeds (so two operation orders),
and records every operation's row count and order-insensitive hash in
perfbench/golden/<size>/<workload>.json. An operation whose hash differs
between the two runs is listed under "rows_only" and checked by row count
alone. Row counts must agree, or the script fails.
"""
import argparse
import json
import subprocess
import sys
import tempfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
QUERY_WORKLOADS = ("adhoc_sf0.1",)


def one_run(workload, size, seed, out):
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", "1", "--trace", "0", "--size", size, "--golden-out", str(out)]
    subprocess.run(cmd, stdout=subprocess.DEVNULL, check=False)
    if not out.exists():
        sys.exit(f"make_golden: {workload} seed {seed} wrote no digests")
    return json.loads(out.read_text())["outputs"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--size", default="full", choices=("full", "tiny"))
    ap.add_argument("workloads", nargs="*", default=list(QUERY_WORKLOADS))
    a = ap.parse_args()
    for w in a.workloads:
        with tempfile.TemporaryDirectory(dir=BENCH.parent / ".bench_build") as tmp:
            first = one_run(w, a.size, 1, Path(tmp) / "a.json")
            second = one_run(w, a.size, 2, Path(tmp) / "b.json")
        if first.keys() != second.keys():
            sys.exit(f"make_golden: {w}: the two runs produced different operations")
        rows_bad = [q for q in first if first[q]["rows"] != second[q]["rows"]]
        if rows_bad:
            sys.exit(f"make_golden: {w}: row counts differ between runs: {rows_bad}")
        rows_only = sorted(q for q in first if first[q]["hash"] != second[q]["hash"])
        out = BENCH / "golden" / a.size / f"{w}.json"
        out.parent.mkdir(parents=True, exist_ok=True)
        out.write_text(json.dumps({"outputs": dict(sorted(first.items())), "rows_only": rows_only},
                                  indent=2) + "\n")
        print(f"{w}: {len(first)} outputs, rows only: {rows_only or 'none'}")


if __name__ == "__main__":
    main()
