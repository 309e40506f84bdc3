"""The benchmark's own tests. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The generator tests are pure Python. The others build the program (once)
and run it: the three mode-fill shapes against the generator's expected
values, and the full benchmark with a corrupted expected insight, a
corrupted expected mode and a corrupted lane output, each of which must
be reported as a failure.
"""

import collections
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_loans  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402

TMP = os.path.join(run.BUILD, "tests")


def fresh(name):
    d = os.path.join(TMP, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def read(path):
    with open(path, "rb") as f:
        return f.read()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        d = fresh("same_seed")
        for shape in ("wide", "tall"):
            a, b, c = (os.path.join(d, f"{shape}_{i}.csv") for i in range(3))
            ea = gen_loans.generate(a, shape, 3000, 11)
            eb = gen_loans.generate(b, shape, 3000, 11)
            gen_loans.generate(c, shape, 3000, 12)
            self.assertEqual(read(a), read(b))
            self.assertEqual(ea, eb)
            self.assertNotEqual(read(a), read(c))
        t1, t2 = os.path.join(d, "t1"), os.path.join(d, "t2")
        gen_tables.write(t1, 0.001, 5)
        gen_tables.write(t2, 0.001, 5)
        for name in os.listdir(t1):
            self.assertEqual(read(os.path.join(t1, name)), read(os.path.join(t2, name)), name)

    def test_fixture_mix(self):
        path = os.path.join(fresh("mix"), "wide.csv")
        exp = gen_loans.generate(path, "wide", 5000, 3)
        lines = read(path).decode().splitlines()
        header = lines[0].split(",")
        rows = [l.split(",") for l in lines[1:]]
        width = len(header)
        self.assertTrue(any(len(r) < width for r in rows), "short rows")
        self.assertTrue(any(len(r) > width for r in rows), "long rows")
        ts = [r[1] for r in rows if len(r) > 1]
        self.assertIn("", ts)
        self.assertTrue(any(t in gen_loans.BAD_TS for t in ts))
        self.assertTrue(any(len(t) == 19 and t[4] == "-" for t in ts))
        self.assertTrue(any(len(t) == 19 and t[2] == "/" for t in ts))
        self.assertTrue(any(len(t) == 19 and t[2] == "-" for t in ts))
        for i, name in enumerate(header):
            cells = [r[i] if i < len(r) else "" for r in rows]
            nulls = cells.count("")
            counts = collections.Counter(c for c in cells if c)
            top = counts.most_common(2)
            self.assertGreater(nulls, 0, name)
            if exp["modes"][name] is None:
                self.assertGreater(nulls, top[0][1], name)
            else:
                self.assertEqual(top[0][0], exp["modes"][name], name)
                self.assertGreater(top[0][1], max(top[1][1], nulls), name)
        ids = [r[0] for r in rows if r[0]]
        self.assertGreater(len(set(ids)), 0.97 * len(ids), "near-unique loan_id")


class ProgramTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.cp, _ = run.build()

    def test_three_fill_shapes_match_expected(self):
        for shape, rows in (("wide", 6000), ("tall", 30000)):
            work = fresh(f"shapes_{shape}")
            csv = os.path.join(work, "loans.csv")
            exp = gen_loans.generate(csv, shape, rows, 7)
            result = os.path.join(work, "result.json")
            modes = os.path.join(work, "modes.tsv")
            gen_loans.write_modes(modes, exp["modes"])
            run.run_jvm(self.cp, ["--mode", "selftest", "--work", work, "--result", result,
                                  "--csv", csv, "--modes", modes], work)
            with open(result) as f:
                calls = json.load(f)["calls"]
            self.assertEqual([c["kind"] for c in calls],
                             ["per_column", "single_pass", "aggregator"])
            for c in calls:
                self.assertEqual(run.check_etl_call(c, exp), [], f"{shape} {c['kind']}")
                self.assertEqual(set(c["mode_counts"]),
                                 {n for n, m in exp["modes"].items() if m is not None})

    def bench(self, *args):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                           cwd=run.ROOT, capture_output=True, text=True, timeout=300)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        return json.loads(p.stdout.strip().splitlines()[-1])

    def test_corrupted_insight_is_a_failure(self):
        out = self.bench("--workload", "etl_wide", "--seed", "5", "--seconds", "1",
                         "--trace", "0", "--corrupt", "insight")
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], out["attempted"])
        self.assertEqual(out["metrics"]["warm_s"]["value"], -1.0)

    def test_corrupted_mode_is_a_failure(self):
        out = self.bench("--workload", "etl_wide", "--seed", "5", "--seconds", "1",
                         "--trace", "0", "--corrupt", "mode")
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], out["attempted"])
        self.assertEqual(out["metrics"]["warm_s"]["value"], -1.0)

    def test_corrupted_lane_is_a_failure(self):
        out = self.bench("--workload", "lanes_sf01", "--seed", "5", "--seconds", "1",
                         "--trace", "0", "--corrupt", "lane")
        self.assertFalse(out["correct"])
        # the corrupted lane fails once in every pass of the nine lanes
        self.assertEqual(out["failed"], out["attempted"] // 9)
        self.assertGreaterEqual(out["failed"], 4)  # the check pass and three timed ones
        self.assertEqual(out["metrics"]["warm_s"]["value"], -1.0)


if __name__ == "__main__":
    unittest.main()
