#!/usr/bin/env python3
"""Self-tests of the benchmark itself. Run from the repository root:

    python3 perfbench/selftest.py

They need no build: generator determinism per seed, metric names
against BENCHMARK.json and the name rules, the choice of calm passes,
and an output check that fails on one planted wrong row.
"""
import hashlib
import json
import os
import re
import sys
import tempfile
import unittest

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def tree_digest(root):
    h = hashlib.sha1()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        for w in run.WORKLOADS:
            with tempfile.TemporaryDirectory() as t:
                digests = []
                for i, seed in enumerate((7, 7, 8)):
                    sizes = gen.generate(w, seed, f"{t}/{i}")
                    self.assertTrue(all(v > 0 for v in sizes.values()), sizes)
                    digests.append(tree_digest(f"{t}/{i}"))
                self.assertEqual(digests[0], digests[1], w)
                self.assertNotEqual(digests[0], digests[2], w)


class MetricNameTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_emitted_names_are_declared(self):
        declared = {m["name"]: m["unit"] for m in self.spec["end_to_end"]}
        self.assertEqual(run.END_TO_END_UNITS, declared)
        declared = {m["name"]: m["unit"] for m in self.spec["per_layer"]}
        self.assertEqual(run.layer_units(run.ALL_QUERIES), declared)

    def test_names_and_units_follow_the_rules(self):
        metrics = self.spec["end_to_end"] + self.spec["per_layer"]
        names = [m["name"] for m in metrics] + [w["name"] for w in self.spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for m in metrics:
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)
        for w in self.spec["workloads"]:
            self.assertRegex(w["name"], NAME)
            self.assertIn(w["name"], run.WORKLOADS)


class CalmPassTest(unittest.TestCase):
    def test_passes_with_steal_are_left_out(self):
        res = {"pass_s": [7.0, 12.8, 6.9], "steal_s": [0.01, 1.1, 0.02]}
        self.assertEqual(run.calm_passes(res), [0, 2])

    def test_without_a_calm_pass_the_least_stolen_one_is_kept(self):
        res = {"pass_s": [12.8, 10.8, 8.2], "steal_s": [1.13, 0.86, 0.24]}
        self.assertEqual(run.calm_passes(res), [2])


class OutputCheckTest(unittest.TestCase):
    def test_one_planted_wrong_row_fails_the_query_check(self):
        with tempfile.TemporaryDirectory() as t:
            gen.documents(3, 40, f"{t}/documents.parquet")
            sql = "SELECT doc_id, n_chars FROM documents"
            os.makedirs(f"{t}/out/q_test")
            with open(f"{t}/out/oracle_sql.json", "w") as f:
                json.dump({"q_test": sql}, f)
            con = duckdb.connect()
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{t}/documents.parquet'")
            con.execute(f"COPY ({sql}) TO '{t}/out/q_test/part-0.parquet' (FORMAT parquet)")
            self.assertEqual(check.check_queries(t, f"{t}/out"), {"q_test": None})
            con.execute(f"COPY (SELECT doc_id, n_chars + (doc_id = 5)::BIGINT AS n_chars "
                        f"FROM documents) TO '{t}/out/q_test/part-0.parquet' (FORMAT parquet)")
            self.assertIsNotNone(check.check_queries(t, f"{t}/out")["q_test"])

    def test_one_missing_positions_row_fails_ep2(self):
        with tempfile.TemporaryDirectory() as t:
            verdict = check.check_olhovivo(t, 1000, 999, gen.DAY)
            self.assertIsNotNone(verdict["ep2"])


if __name__ == "__main__":
    unittest.main()
