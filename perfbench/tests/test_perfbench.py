#!/usr/bin/env python3
"""The benchmark's own tests. Run from the repository root:

    python3 perfbench/tests/test_perfbench.py

The traced-composition test builds the program and runs two JVMs on
sf0.001-sized inputs (about a minute); the others need no JVM.
"""
import filecmp
import gzip
import os
import shutil
import sys
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SCRATCH = os.path.join(run.BUILD, "tests")

# sf0.001-sized consume inputs: 1 k events of 15 users over 30 days
TINY = dict(WORKLOADS["consume_daily"],
            dims={"customers": 150, "orders_per_customer": 10, "files": 2},
            events={"rows": 1000, "users": 15, "days": 30, "start": "2024-01-01",
                    "tombstones": 0.2, "files": 2})


def scratch(name):
    d = os.path.join(SCRATCH, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for name in ("consume_daily", "corpus_neardup"):
            a, b, c = scratch(f"{name}-a"), scratch(f"{name}-b"), scratch(f"{name}-c")
            props = gen.generate(WORKLOADS[name], 5, a)
            self.assertEqual(props, gen.generate(WORKLOADS[name], 5, b))
            gen.generate(WORKLOADS[name], 6, c)
            self.assertTrue(same_tree(a, b), name)
            self.assertFalse(same_tree(a, c), name)
            table = "documents" if name == "corpus_neardup" else "events"
            self.assertGreater(len(os.listdir(os.path.join(a, f"{table}.parquet"))), 1)

    def test_daily_has_the_sf01_event_shape(self):
        props = gen.generate(WORKLOADS["consume_daily"], 1, scratch("shape"))
        self.assertEqual(props["rows"], 100_000)
        self.assertEqual(props["users"], 1500)
        self.assertAlmostEqual(props["tombstone_share"], 0.2, delta=0.01)
        self.assertAlmostEqual(props["versions_per_user_day"], 2.5, delta=0.2)


class RunShapeTest(unittest.TestCase):
    def test_repeats_per_run(self):
        # BENCHMARK.json's 20 s: daily makes 2 warm calls, corpus 5 warm-ups + 2
        self.assertEqual(run.warm_calls(WORKLOADS["consume_daily"], 20), 2)
        self.assertEqual(run.warm_calls(WORKLOADS["corpus_neardup"], 20), 7)
        self.assertEqual(WORKLOADS["corpus_neardup"]["warmup"], 5)
        # never fewer than two timed calls after the warm-ups
        self.assertEqual(run.warm_calls(WORKLOADS["corpus_neardup"], 1), 7)

    def test_steal_is_taken_out_of_setup(self):
        self.assertEqual(run.unstolen(6.0, 1200, 0), 6.0)
        self.assertAlmostEqual(run.unstolen(6.0, 900, 300), 4.5)
        self.assertEqual(run.unstolen(6.0, 0, 0), 6.0)


class OracleShapeTest(unittest.TestCase):
    def test_unexpected_oracle_text_fails_loudly(self):
        with self.assertRaises(ValueError):
            check.consume_oracle_sql("SELECT 1", WORKLOADS["consume_daily"])
        with self.assertRaises(ValueError):
            check.corpus_oracle_sql("SELECT 1")


class TracedCompositionTest(unittest.TestCase):
    """One traced and one untraced cold call on sf0.001-sized inputs."""

    @classmethod
    def setUpClass(cls):
        cls.cp = run.build()
        cls.work = scratch("traced")
        cls.in_dir = os.path.join(cls.work, "in")
        props = gen.generate(TINY, 3, cls.in_dir)
        cls.con = check.connect(cls.in_dir, TINY["tables"])
        cls.result = run.traced(cls.cp, TINY, cls.work, cls.in_dir, props, cls.con)
        with open(os.path.join(cls.work, "job", "record.json.sql")) as f:
            cls.expected = run.expected_output(cls.con, TINY, f.read())

    def test_traced_output_equals_consume_job_run(self):
        self.assertTrue(self.result["correct"])
        self.assertEqual((self.result["attempted"], self.result["failed"]), (2, 0))
        self.assertIsNone(check.same_rows(
            self.con, os.path.join(self.work, "traced", "out", "traced"),
            os.path.join(self.work, "job", "out", "cold"), True))
        m = {k: v["value"] for k, v in self.result["metrics"].items()}
        self.assertGreater(m["spark.jobs"], 0)
        self.assertEqual(m["dedup.jobs"], 0)

    def corrupted_copy(self, name):
        src = os.path.join(self.work, "job", "out", "cold")
        dst = os.path.join(self.work, f"corrupt-{name}")
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(src, dst)
        self.assertEqual(run.check_call(self.con, TINY, self.expected, dst), [])
        return dst

    def test_check_rejects_one_wrong_table_row(self):
        out = self.corrupted_copy("table")
        part = sorted(os.path.join(d, f) for d, _, fs in os.walk(os.path.join(out, "table"))
                      for f in fs if f.endswith(".parquet"))[0]
        t = pq.read_table(part)
        values = t.column("value").to_pylist()
        values[0] = values[0] + 1.0
        pq.write_table(t.set_column(t.schema.get_field_index("value"), "value",
                                    [values]), part)
        problems = run.check_call(self.con, TINY, self.expected, out)
        self.assertEqual(len(problems), 1, problems)
        self.assertIn("table: 1 expected rows missing, 1 unexpected rows", problems[0])

    def _edit_gz(self, out, kind, edit):
        path = next(os.path.join(d, f) for d, _, fs in os.walk(os.path.join(out, kind))
                    for f in fs if f.endswith(".gz"))
        with gzip.open(path, "rt") as f:
            lines = f.read().splitlines()
        lines = edit(lines)
        with gzip.open(path, "wt") as f:
            f.write("\n".join(lines) + "\n")

    def test_check_rejects_one_wrong_json_row(self):
        out = self.corrupted_copy("json")
        self._edit_gz(out, "json", lambda ls: [ls[0].replace('"price":{"src":"', '"price":{"src":"x')] + ls[1:])
        problems = run.check_call(self.con, TINY, self.expected, out)
        self.assertEqual(len(problems), 1, problems)
        self.assertIn("json: 1 expected rows missing, 1 unexpected rows", problems[0])

    def test_check_rejects_one_missing_csv_row(self):
        out = self.corrupted_copy("csv")
        self._edit_gz(out, "csv", lambda ls: ls[:-1])
        problems = run.check_call(self.con, TINY, self.expected, out)
        self.assertEqual(len(problems), 1, problems)
        self.assertIn("csv: 1 expected rows missing, 0 unexpected rows", problems[0])


if __name__ == "__main__":
    try:
        unittest.main(verbosity=2)
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)
