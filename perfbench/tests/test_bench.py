"""The benchmark's own tests. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

`test_harness_selftest` builds graft and runs the harness's self-checks in
a JVM (about a minute); the others need only Python.
"""
import glob
import json
import os
import random
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import gen_tables  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def scratch():
    base = os.path.join(ROOT, ".bench_work")
    os.makedirs(base, exist_ok=True)
    return tempfile.mkdtemp(dir=base, prefix="test-")


class TableGeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_rows(self):
        d = scratch()
        try:
            for name, seed in (("a", 5), ("b", 5), ("c", 6)):
                gen_tables.generate(os.path.join(d, name), seed, 0.001)
            for f in sorted(glob.glob(os.path.join(d, "a", "*.parquet"))):
                twin = os.path.join(d, "b", os.path.basename(f))
                with open(f, "rb") as x, open(twin, "rb") as y:
                    self.assertEqual(x.read(), y.read(), os.path.basename(f))
            with open(os.path.join(d, "a", "lineitem.parquet"), "rb") as x, \
                    open(os.path.join(d, "c", "lineitem.parquet"), "rb") as y:
                self.assertNotEqual(x.read(), y.read())
        finally:
            shutil.rmtree(d)


class FrameHashTest(unittest.TestCase):
    def test_hash_ignores_row_and_column_order_but_not_values(self):
        import pandas as pd
        rows = [(i, f"v{i}", i * 0.5) for i in range(50)]
        df = pd.DataFrame(rows, columns=["k", "s", "x"])
        shuffled = rows[:]
        random.Random(1).shuffle(shuffled)
        other = pd.DataFrame(shuffled, columns=["k", "s", "x"])[["x", "k", "s"]]
        self.assertEqual(run.sorted_hash(df), run.sorted_hash(other))
        changed = df.copy()
        changed.loc[3, "x"] = 99.0
        self.assertNotEqual(run.sorted_hash(df), run.sorted_hash(changed))


class BenchmarkJsonTest(unittest.TestCase):
    def test_definition_follows_the_contract(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertTrue(2 <= len(b["workloads"]) <= 8)
        self.assertTrue(1 <= b["run_seconds"] <= 60)
        for w in b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        names = [w["name"] for w in b["workloads"]]
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
            names.append(m["name"])
        for m in b["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
            names.append(m["name"])
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)))
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in b["end_to_end"]))
        self.assertEqual(b["paths"], ["perfbench"])


class HarnessSelfTest(unittest.TestCase):
    def test_harness_selftest(self):
        """Landing generator determinism, failed operations never counted as
        fast (a throwing op, a failed check, a pipeline pass whose store write
        throws), a clean pass passing every check, and the emitted metric
        names equal to BENCHMARK.json's."""
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "selftest",
                            "--seed", "7", "--seconds", "1", "--trace", "0"],
                           cwd=ROOT, capture_output=True, text=True, timeout=600)
        fails = [l for l in p.stderr.splitlines() if "FAIL" in l]
        self.assertEqual(p.returncode, 0, fails or p.stderr[-2000:])
        self.assertTrue(json.loads(p.stdout.strip().splitlines()[-1])["correct"])


if __name__ == "__main__":
    unittest.main()
