"""Tracker-trainer chain benchmark.

    python3 chainbench/run.py --workload <trickle|backfill|cycle> --seed <n>
        --seconds <s> --trace <0|1>

Builds the program from source (build.py), then runs one JVM that
generates the workload's firehose files from the seed, drives the
ingest -> groom -> train chain through the program's public calls and
checks every output. The last stdout line is the result JSON:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
A failed check exits non-zero without a result. See README.md.
"""

import argparse
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

# A run must end well inside three minutes.
TIMEOUT_S = 170
HEAP = "4g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["trickle", "backfill", "cycle"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant-wrong-count", action="store_true",
                    help="expect one decision too many (the gate must fail)")
    a = ap.parse_args()

    out = build.ROOT / ".bench_build"
    classes = build.build(out)
    work = out / "work" / f"{a.workload}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)

    env = dict(os.environ)
    # the trainer's step timers add a persist and a count per step
    env.pop("SPARK_GRAFT_TRAIN_TIMINGS", None)
    cmd = [build.java()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # no hsperfdata file in the system temp dir
    cmd += [f"-Xmx{HEAP}", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-cp", f"{classes}{os.pathsep}{build.spark_jars()}/*", "chainbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work / "data"),
            "--results", str(out / "results")]
    if a.plant_wrong_count:
        cmd.append("--plant-wrong-count")
    proc = subprocess.Popen(cmd, cwd=work, env=env)
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"chainbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        code = 3
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
