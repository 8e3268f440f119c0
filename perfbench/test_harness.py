"""Tests of the Python half of the benchmark: input generation, the
DuckDB oracle check and the rebuild rule. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import json
import os
import tempfile
import unittest

import datagen
import run


class DatagenTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            datagen.generate(a, 5, 0.001)
            datagen.generate(b, 5, 0.001)
            datagen.generate(c, 6, 0.001)
            names = [f"{t}.parquet" for t in datagen.ALL_TABLES]
            match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual(sorted(match), sorted(names))
            _, differ, _ = filecmp.cmpfiles(a, c, ["orders.parquet", "lineitem.parquet"],
                                            shallow=False)
            self.assertEqual(len(differ), 2)

    def test_subset_matches_full_generation(self):
        with tempfile.TemporaryDirectory() as d:
            full, part = os.path.join(d, "full"), os.path.join(d, "part")
            datagen.generate(full, 9, 0.001)
            datagen.generate(part, 9, 0.001, ["orders"])
            self.assertEqual(os.listdir(part), ["orders.parquet"])
            self.assertTrue(filecmp.cmp(os.path.join(full, "orders.parquet"),
                                        os.path.join(part, "orders.parquet"), shallow=False))


class OracleTest(unittest.TestCase):
    def check(self, rows, ordered=True):
        with tempfile.TemporaryDirectory() as d:
            datagen.generate(d, 3, 0.001, run.TABLES["serve"])
            import duckdb
            con = duckdb.connect()
            sql = (f"SELECT o_orderkey, o_totalprice FROM read_parquet('{d}/orders.parquet') "
                   "WHERE o_custkey = 7 ORDER BY o_orderkey")
            truth = [{"o_orderkey": k, "o_totalprice": p} for k, p in con.execute(sql).fetchall()]
            line = {"statement": "s", "oracle": sql.replace(f"read_parquet('{d}/orders.parquet')", "orders"),
                    "ordered": ordered, "count": 3, "columns": ["o_orderkey", "o_totalprice"],
                    "rows": rows(truth)}
            path = os.path.join(d, "checks.jsonl")
            with open(path, "w") as f:
                f.write(json.dumps(line) + "\n")
            return run.oracle_failures(path, d)[0]

    def test_right_answer_passes(self):
        self.assertEqual(self.check(lambda t: t), 0)
        self.assertEqual(self.check(lambda t: t[::-1], ordered=False), 0)

    def test_wrong_answer_fails_every_repeat(self):
        def corrupt(t):
            t = [dict(r) for r in t]
            t[0]["o_totalprice"] += 0.01
            return t
        self.assertEqual(self.check(corrupt), 3)
        self.assertEqual(self.check(lambda t: t[1:]), 3)
        self.assertEqual(self.check(lambda t: t[::-1]), 3)


class SourceHashTest(unittest.TestCase):
    def test_sources_change_the_hash_and_build_output_does_not(self):
        with tempfile.TemporaryDirectory() as root:
            def write(rel, text):
                path = os.path.join(root, rel)
                os.makedirs(os.path.dirname(path), exist_ok=True)
                with open(path, "w") as f:
                    f.write(text)
            sources = {"build.sbt": "a", "project/build.properties": "b",
                       "perfbench/build.sbt": "c", "src/main/scala/A.scala": "d",
                       "perfbench/src/main/scala/B.scala": "e"}
            for rel, text in sources.items():
                write(rel, text)
            before = run.source_hash(root)
            write("project/target/out.txt", "sbt output")
            write("src/test/scala/T.scala", "a test")
            self.assertEqual(run.source_hash(root), before)
            for rel, text in sources.items():
                write(rel, "changed")
                self.assertNotEqual(run.source_hash(root), before, rel)
                write(rel, text)
            self.assertEqual(run.source_hash(root), before)


if __name__ == "__main__":
    unittest.main()
