"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The fast tests cover metric-name validation, BENCHMARK.json's format and
the catalog's oracle comparison. With PERFBENCH_E2E=1 (run from the root of
a checkout), each check is also exercised end to end: a run with a planted
wrong answer must exit non-zero and report correct=false. Those runs take
one to two minutes each.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

SPEC = run.load_spec(ROOT)


def e2e_names():
    return {m["name"] for m in SPEC["end_to_end"]}


class MetricNames(unittest.TestCase):

    def test_spec_format(self):
        names = [m["name"] for g in ("end_to_end", "per_layer") for m in SPEC[g]]
        self.assertEqual(len(names), len(set(names)), "metric names are used once")
        for g in ("end_to_end", "per_layer"):
            for m in SPEC[g]:
                self.assertRegex(m["name"], run.NAME_RE)
                self.assertRegex(m["unit"], run.UNIT_RE)
                self.assertIn(m["better"], ("lower", "higher"))
        for m in SPEC["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(max(m["bound"] for m in SPEC["end_to_end"]), setup[0]["bound"])
        self.assertEqual([w["name"] for w in SPEC["workloads"]], list(run.WORKLOADS))

    def measured(self, trace=0):
        return {n: (1.0, u) for n, u in run.declared(SPEC, trace).items()}

    def test_select_keeps_declared_metrics_of_the_kind(self):
        for trace in (0, 1):
            both = {**self.measured(0), **self.measured(1)}
            got = run.select_metrics(SPEC, trace, both)
            self.assertEqual(list(got), list(self.measured(trace)))

    def test_undeclared_metric_is_refused(self):
        m = self.measured()
        m["ingest_vectors_per_s"] = (1.0, "vec/s")
        with self.assertRaisesRegex(ValueError, "not declared"):
            run.select_metrics(SPEC, 0, m)

    def test_unit_mismatch_is_refused(self):
        m = self.measured()
        m["pass_s"] = (1.0, "ms")
        with self.assertRaisesRegex(ValueError, "declared in s"):
            run.select_metrics(SPEC, 0, m)

    def test_missing_metric_is_refused(self):
        for trace, name in ((0, "pass_s"), (1, "catalog.q_asof_join_s")):
            m = self.measured(trace)
            del m[name]
            with self.assertRaisesRegex(ValueError, "did not report"):
                run.select_metrics(SPEC, trace, m)

    def test_malformed_and_non_finite_are_refused(self):
        m = self.measured()
        m["bad name"] = (1.0, "s")
        with self.assertRaisesRegex(ValueError, "malformed"):
            run.select_metrics(SPEC, 0, m)
        m = self.measured()
        m["setup_s"] = (float("nan"), "s")
        with self.assertRaisesRegex(ValueError, "value"):
            run.select_metrics(SPEC, 0, m)


class OracleCompare(unittest.TestCase):

    def setUp(self):
        import duckdb
        self.dir = tempfile.TemporaryDirectory()
        self.con = duckdb.connect()
        self.out = os.path.join(self.dir.name, "q")
        os.makedirs(self.out)
        self.con.execute(f"COPY (SELECT range AS id, range * 0.5 AS v FROM range(5)) "
                         f"TO '{self.out}/part-0.parquet' (FORMAT parquet)")

    def tearDown(self):
        self.dir.cleanup()

    def compare(self, sql):
        return run.mismatch(run.summary(self.con.sql(f"SELECT * FROM '{self.out}/*.parquet'")),
                            run.summary(self.con.sql(sql)))

    def test_match(self):
        sql = "SELECT range * 0.5 AS v, range AS id FROM range(5)"
        self.assertIsNone(self.compare(sql))

    def test_planted_wrong_value(self):
        sql = "SELECT range AS id, CASE WHEN range = 3 THEN 9.0 ELSE range * 0.5 END AS v FROM range(5)"
        self.assertIn("mismatch", self.compare(sql))

    def test_missing_row_and_type_drift(self):
        self.assertIn("rows", self.compare("SELECT range AS id, range * 0.5 AS v FROM range(4)"))
        self.assertIn("types", self.compare(
            "SELECT CAST(range AS INT) AS id, range * 0.5 AS v FROM range(5)"))


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E") == "1", "set PERFBENCH_E2E=1")
class PlantedWrongAnswers(unittest.TestCase):
    """A run with one planted wrong answer fails: non-zero exit, correct=false."""

    def planted_run(self, workload, plant, trace):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                            "--seed", "3", "--seconds", "1", "--trace", str(trace),
                            "--plant", plant], cwd=ROOT, capture_output=True, text=True)
        self.assertEqual(p.returncode, 1, p.stderr[-2000:])
        last = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(last["correct"])
        self.assertGreaterEqual(last["failed"], 1)

    def test_ingest_vector(self):
        self.planted_run("ingest", "ingest.vector", 0)

    def test_ingest_rows(self):
        self.planted_run("ingest", "ingest.rows", 0)

    def test_stream_once(self):
        self.planted_run("catalog", "stream.once", 1)

    def test_catalog_oracle(self):
        self.planted_run("catalog", "catalog.oracle", 0)


if __name__ == "__main__":
    unittest.main()
