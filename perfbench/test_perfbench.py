#!/usr/bin/env python3
"""Self-tests of the benchmark. Run from the root of a checkout:

    python3 -m unittest perfbench/test_perfbench.py

The Scala-side checks (generator determinism, the independent OLS check,
query-mix determinism and pack coverage) run in graft.perfbench.SelfTest,
which the last test builds and launches.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402

SPEC = json.loads(run.SPEC.read_text())
SCRATCH = run.STATE / "selftest"


def fake_result(trace, failures=(), queries=()):
    kind = "per_layer" if trace else "end_to_end"
    return {"metrics": {m["name"]: 1.5 for m in SPEC[kind]},
            "attempted": 40, "failures": list(failures),
            "queries": list(queries)}


class AssembleTest(unittest.TestCase):
    def test_metric_names_and_units_match_benchmark_json(self):
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            line = run.assemble(fake_result(trace), [], SPEC, trace)
            self.assertEqual(
                [(k, v["unit"]) for k, v in line["metrics"].items()],
                [(m["name"], m["unit"]) for m in SPEC[kind]])
            self.assertEqual((line["correct"], line["failed"]), (True, 0))

    def test_a_missing_or_extra_metric_is_refused(self):
        res = fake_result(0)
        res["metrics"].pop("setup_s")
        with self.assertRaises(run.BenchError):
            run.assemble(res, [], SPEC, 0)
        res = fake_result(0)
        res["metrics"]["unlisted_s"] = 1.0
        with self.assertRaises(run.BenchError):
            run.assemble(res, [], SPEC, 0)

    def test_failed_and_wrong_operations_are_counted(self):
        res = fake_result(0, failures=["query q1: boom"],
                          queries=[{"name": "q2", "runs": 3}])
        line = run.assemble(res, [("q2", "rows 1 != 2")], SPEC, 0)
        self.assertFalse(line["correct"])
        self.assertEqual(line["failed"], 1 + 3)
        self.assertEqual(line["attempted"], 40)


class OutputCheckTest(unittest.TestCase):
    """check_queries against real parquet files and DuckDB."""

    def setUp(self):
        import duckdb
        shutil.rmtree(SCRATCH, ignore_errors=True)
        self.con = duckdb.connect()
        for name, sql in {
            "right": "SELECT n_regionkey AS k, count(*) AS n FROM "
                     f"read_parquet('{run.DATA}/nation.parquet') GROUP BY 1",
            "wrong": "SELECT n_regionkey AS k, count(*) + 1 AS n FROM "
                     f"read_parquet('{run.DATA}/nation.parquet') GROUP BY 1",
        }.items():
            (SCRATCH / name).mkdir(parents=True)
            self.con.execute(
                f"COPY ({sql}) TO '{SCRATCH / name}/part-0.parquet' "
                "(FORMAT PARQUET)")
        self.oracle = ("SELECT n_regionkey AS k, count(*) AS n FROM nation "
                       "GROUP BY 1 ORDER BY 1")

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_oracle_match_passes_and_mismatch_is_named(self):
        queries = [
            {"name": "qa", "sql": self.oracle, "cold": str(SCRATCH / "right"),
             "warm": str(SCRATCH / "right")},
            {"name": "qb", "sql": self.oracle, "cold": str(SCRATCH / "right"),
             "warm": str(SCRATCH / "wrong")},
        ]
        wrong = run.check_queries(queries, run.DATA)
        self.assertEqual([w[0] for w in wrong], ["qb"])

    def test_cold_warm_mismatch_without_oracle_is_named(self):
        queries = [
            {"name": "qc", "sql": None, "cold": str(SCRATCH / "right"),
             "warm": str(SCRATCH / "right")},
            {"name": "qd", "sql": None, "cold": str(SCRATCH / "right"),
             "warm": str(SCRATCH / "wrong")},
        ]
        wrong = run.check_queries(queries, run.DATA)
        self.assertEqual([w[0] for w in wrong], ["qd"])


class RunnerTest(unittest.TestCase):
    def test_bare_benchmark_directory_fails_without_a_result(self):
        bare = SCRATCH / "bare"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        shutil.copy(run.SPEC, bare / "BENCHMARK.json")
        shutil.copytree(run.HERE, bare / "perfbench",
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "pipeline",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=170)
        shutil.rmtree(bare, ignore_errors=True)
        self.assertNotEqual(p.returncode, 0)
        self.assertNotIn('"metrics"', p.stdout)

    def test_scala_self_test(self):
        classpath = run.build()
        run.STATE.mkdir(parents=True, exist_ok=True)
        log = run.STATE / "selftest.log"
        with open(log, "w") as out:
            code = run.run_process(
                run.java_cmd(classpath, "graft.perfbench.SelfTest"), out, 170,
                env=run.jvm_env())
        self.assertEqual(code, 0, log.read_text()[-3000:])


if __name__ == "__main__":
    unittest.main()
