"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
        [--size full|tiny] [--golden-out <file>]

Run from the repository root. The first run builds the engine and the
harness (perfbench/build.py) into .bench_build/perfbench, where later
runs find it. The query workloads read the parquet tables under
perfbench/data; the FMP fixture is generated by each run. Each run then
starts one JVM (graft.perfbench.Main) that measures the workload and
checks its outputs. Exits non-zero, without a result line, when the
build, the run or the result fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
BENCH = ROOT / "perfbench"
WORKLOADS = ("fmp_etl", "adhoc_sf0.1")
RUN_TIMEOUT_S = 170
JAVA_OPTS = [
    "-Xmx4g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
    "-Dlog4j2.configurationFile=" + str(Path(__file__).resolve().parent / "log4j2.properties"),
] + [opt for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for opt in ("--add-opens", p + "=ALL-UNNAMED")]


def java(classes, main, args, work, timeout, stdout=None):
    cp = os.pathsep.join([str(classes), str(build.spark_jars() / "*")])
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + JAVA_OPTS +
           [f"-Djava.io.tmpdir={tmp}", f"-Dderby.stream.error.file={work / 'derby.log'}",
            "-cp", cp, main] + [str(a) for a in args])
    return subprocess.run(cmd, stdout=stdout, timeout=timeout, cwd=ROOT)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="full", choices=("full", "tiny"))
    ap.add_argument("--golden-out")
    a = ap.parse_args()

    csv = ROOT / "src" / "test" / "resources" / "field_mappings.csv"
    if not csv.exists():
        sys.exit("perfbench: src/test/resources/field_mappings.csv not found")
    classes = build.build()
    data = BENCH / "data" / ("sf0.001" if a.size == "tiny" else "sf0.1")
    golden = BENCH / "golden" / ("tiny" if a.size == "tiny" else "full") / f"{a.workload}.json"
    work = build.BUILD / "work" / f"{a.workload}-{os.getpid()}"
    side = build.BUILD / "results" / f"{a.workload}-seed{a.seed}-trace{a.trace}-{a.size}.json"
    args = ["--workload", a.workload, "--seed", a.seed, "--seconds", a.seconds,
            "--trace", a.trace, "--data", data, "--work", work, "--csv", csv,
            "--size", a.size, "--golden", golden, "--side", side]
    if a.golden_out:
        args += ["--golden-out", a.golden_out]
    try:
        work.mkdir(parents=True, exist_ok=True)
        r = java(classes, "graft.perfbench.Main", args, work, RUN_TIMEOUT_S, stdout=subprocess.PIPE)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = r.stdout.decode("utf-8", "replace").strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.exit(f"perfbench: run failed (exit {r.returncode})")
    result = json.loads(lines[-1])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
