"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests -v

`SeedTest` is quick. `SmokeTest` runs every workload once untraced
and once traced on a tiny store (sf0.001); it builds on first use and
takes a few minutes.
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402

TINY = 0.001


def tiny_data():
    d = os.path.join(BENCH, ".work", "data", f"sf{TINY}")
    gen.make_data(d, TINY)
    return d


class SeedTest(unittest.TestCase):
    def test_one_seed_always_gives_the_same_inputs(self):
        d = tiny_data()
        for w in ("gql_read", "view_ingest", "batch_analytics"):
            first, _ = gen.make_inputs(w, 7, d, TINY)
            again, _ = gen.make_inputs(w, 7, d, TINY)
            self.assertEqual(first, again, w)
        other, _ = gen.make_inputs("gql_read", 8, d, TINY)
        self.assertNotEqual(first, other)
        self.assertNotEqual(gen.make_inputs("view_ingest", 7, d, TINY)[0],
                            gen.make_inputs("view_ingest", 8, d, TINY)[0])

    def test_the_data_set_does_not_depend_on_the_workload_seed(self):
        import duckdb
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.make_data(a, TINY)
            gen.make_data(b, TINY)
            for name in ("customer", "lineitem", "documents", "embeddings"):
                q = "select * from '{}/%s.parquet' order by all" % name
                self.assertEqual(duckdb.sql(q.format(a)).fetchall(),
                                 duckdb.sql(q.format(b)).fetchall(), name)

    def test_blocks_hold_every_template(self):
        stmts = gen.gql_statements(3, 150, n=len(gen.BLOCK) * 4)
        for i in range(0, len(stmts), len(gen.BLOCK)):
            self.assertEqual(sorted(t for t, _, _ in stmts[i:i + len(gen.BLOCK)]),
                             sorted(gen.BLOCK))


def run(args, cwd=ROOT):
    p = subprocess.run([sys.executable, "perfbench/run.py"] + args, cwd=cwd,
                       capture_output=True, text=True, timeout=900)
    return p, [json.loads(ln) for ln in p.stdout.splitlines() if ln.startswith("{")]


class SmokeTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def check(self, workload, trace, extra=()):
        p, lines = run(["--workload", workload, "--seed", "1", "--seconds", "1",
                        "--trace", str(trace), "--sf", str(TINY)] + list(extra))
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        info, result = lines[-2], lines[-1]
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], p.stderr[-2000:])
        self.assertEqual(info["error_ratio"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        for key in ("nproc", "java", "spark", "heap_mb", "commit"):
            self.assertIn(key, info["env"])
        wanted = self.spec["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
        return info, result

    def test_gql_read(self):
        self.check("gql_read", 0)
        info, _ = self.check("gql_read", 1)
        self.assertIn("tracing_overhead", info)
        with open(os.path.join(ROOT, info["spans"])) as f:
            span = json.loads(f.readline())
        self.assertEqual(set(span), {"id", "parent", "op", "name", "start_ns", "end_ns"})

    def test_view_ingest_with_executor_parity(self):
        self.check("view_ingest", 0, ["--parity", "1"])
        self.check("view_ingest", 1)

    def test_batch_analytics(self):
        self.check("batch_analytics", 0)
        self.check("batch_analytics", 1)

    def test_fails_without_the_engine(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(".work", "target"))
            p, lines = run(["--workload", "gql_read", "--seed", "1", "--seconds", "1",
                            "--trace", "0"], cwd=d)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(lines, [])


if __name__ == "__main__":
    unittest.main()
