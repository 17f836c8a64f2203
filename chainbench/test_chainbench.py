"""The benchmark's own tests.

    python3 chainbench/test_chainbench.py

- the generator writes byte-identical files for one seed and different
  files for another;
- a run whose expected census is planted one decision too high fails:
  it exits non-zero and prints no result, while the same run with the
  true census passes.
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

OUT = build.ROOT / ".bench_build"


def generate(dest, workload, seed):
    classes = build.build(OUT)
    subprocess.run(
        [build.java(), "-XX:-UsePerfData", "-cp", f"{classes}{os.pathsep}{build.spark_jars()}/*",
         "chainbench.Gen", str(dest), workload, str(seed)],
        check=True, stdout=subprocess.DEVNULL)
    return {p.name: p.read_bytes() for p in sorted(Path(dest).iterdir())}


def bench(*extra):
    return subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", "backfill", "--seed", "3",
         "--seconds", "1", "--trace", "0", *extra],
        capture_output=True, text=True)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_differs(self):
        tmp = Path(tempfile.mkdtemp(dir=OUT))
        try:
            a = generate(tmp / "a", "trickle", 5)
            b = generate(tmp / "b", "trickle", 5)
            c = generate(tmp / "c", "trickle", 6)
            self.assertGreater(len(a), 1)
            self.assertEqual(a, b)
            self.assertEqual(a.keys(), c.keys())
            for name in a:
                self.assertNotEqual(a[name], c[name], name)
        finally:
            shutil.rmtree(tmp)


class GateTest(unittest.TestCase):
    def test_true_census_passes(self):
        res = bench()
        self.assertEqual(res.returncode, 0, res.stderr[-2000:])
        last = json.loads(res.stdout.strip().splitlines()[-1])
        self.assertTrue(last["correct"])
        self.assertEqual(last["failed"], 0)

    def test_planted_wrong_count_fails(self):
        res = bench("--plant-wrong-count")
        self.assertNotEqual(res.returncode, 0)
        self.assertNotIn('"correct"', res.stdout)
        self.assertIn("correctness check failed: decisions", res.stderr)


if __name__ == "__main__":
    OUT.mkdir(exist_ok=True)
    unittest.main()
