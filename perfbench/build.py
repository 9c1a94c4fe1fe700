"""Build file of the benchmark harness.

Compiles the engine's main sources (src/main/scala) together with the
harness (perfbench/src) into .bench_build/perfbench/classes, with the Scala
compiler that ships among Spark's jars, and copies src/main/resources next
to the classes. A stamp of every source file's content skips the compile
when nothing changed.

    python3 perfbench/build.py        # from the repository root
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "perfbench"


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    jars = Path(home) / "jars" if home else None
    if jars is None or not any(jars.glob("scala-compiler-*.jar")):
        sys.exit("perfbench: Spark's jars (with scala-compiler) not found; set SPARK_HOME")
    return jars


def sources(root=ROOT):
    main = root / "src" / "main" / "scala"
    if not main.is_dir():
        sys.exit(f"perfbench: no engine sources at {main.relative_to(root)}")
    files = sorted(main.rglob("*.scala")) + sorted((root / "perfbench" / "src").rglob("*.scala"))
    return files


def build(root=ROOT, out=BUILD):
    """Returns the classes directory, compiling first if a source changed."""
    srcs = sources(root)
    resources = root / "src" / "main" / "resources"
    res_files = sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []
    stamp = hashlib.sha256()
    for f in srcs + res_files:
        stamp.update(str(f.relative_to(root)).encode())
        stamp.update(f.read_bytes())
    digest = stamp.hexdigest()
    classes = out / "classes"
    stamp_file = out / "classes.stamp"
    if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == digest:
        return classes
    jars = spark_jars()
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    cp = str(jars / "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", str(tmp), "-classpath", cp, "@" + str(argfile)]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr, timeout=800).returncode != 0:
        sys.exit("perfbench: compile failed")
    for f in res_files:
        dest = tmp / f.relative_to(resources)
        dest.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(f, dest)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(digest)
    return classes


if __name__ == "__main__":
    print(build())
