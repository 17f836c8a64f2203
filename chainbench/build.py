"""Build file of the benchmark: compiles the program and the benchmark.

    python3 chainbench/build.py [out-dir]

The program's sources (src/main/scala) and the benchmark's
(chainbench/src) compile together into one class directory, with the
Scala compiler and the libraries of the Spark distribution found via
SPARK_HOME (or `spark-submit` on PATH); the program's own build uses
those same jars, so nothing is resolved or downloaded. A build is
skipped when a stamp of every source file matches the last one.
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "chainbench" / "src"]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            raise SystemExit("chainbench: set SPARK_HOME or put spark-submit on PATH")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars"
    if not jars.is_dir():
        raise SystemExit(f"chainbench: no jars directory under SPARK_HOME={home}")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources():
    for d in SOURCE_DIRS:
        if not d.is_dir():
            raise SystemExit(f"chainbench: missing source directory {d.relative_to(ROOT)}")
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def build(out):
    """Compile into out/classes unless the stamp is current; returns the dir."""
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256(str(jars).encode())
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = digest.hexdigest()
    classes = out / "classes"
    stamp_file = out / "classes.stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and classes.is_dir():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    stamp_file.unlink(missing_ok=True)
    args_file = out / "scalac.args"
    args_file.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(classes), f"@{args_file}"]
    print(f"chainbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise SystemExit(f"chainbench: compile failed ({res.returncode})")
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    build(Path(sys.argv[1]) if len(sys.argv) > 1 else ROOT / ".bench_build")
