"""The benchmark's own tests.

    python3 -m unittest perfbench/test_perfbench.py      # from the repository root

The generator tests take a few seconds; the run tests start the workload JVM
on small rebuild inputs and take one to two minutes each.
"""
import contextlib
import io
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import run  # noqa: E402
import synth_gen  # noqa: E402
import tpch_gen  # noqa: E402

SCRATCH = build.BUILD / "test"
SMALL = "200,400,400"


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def _digests(self, gen):
        a, b, c = SCRATCH / "a", SCRATCH / "b", SCRATCH / "c"
        ea, eb = gen(7, a), gen(7, b)
        gen(8, c)
        return ea, eb, run.digest(a), run.digest(b), run.digest(c)

    def test_synthesys_inputs_follow_the_seed(self):
        ea, eb, da, db, dc = self._digests(lambda s, d: synth_gen.generate(s, d, (200, 400, 400)))
        self.assertEqual(da, db)
        self.assertEqual(ea, eb)
        self.assertNotEqual(da, dc)

    def test_registry_tables_follow_the_seed(self):
        _, _, da, db, dc = self._digests(lambda s, d: tpch_gen.generate(s, d, sf=0.001))
        self.assertEqual(da, db)
        self.assertNotEqual(da, dc)

    def test_expected_counts_follow_the_generated_rows(self):
        e = synth_gen.generate(7, SCRATCH / "a", (200, 400, 400))["counts"]
        self.assertEqual(e["evaluation_score"], 7 * e["visitor_project"])
        self.assertLess(e["visitor_project"], 4 * 400)  # edit / no-GUID projects dropped
        self.assertEqual(e["round"], 4)


def _run(*args):
    out, err = io.StringIO(), io.StringIO()
    with contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
        try:
            rc = run.main(list(args))
        except SystemExit as e:
            rc = e.code
    return rc, out.getvalue(), err.getvalue()


class RunTest(unittest.TestCase):
    def test_planted_wrong_count_fails_the_run_by_name(self):
        rc, out, err = _run("--workload", "rebuild", "--seed", "3", "--seconds", "1",
                            "--sizes", SMALL, "--plant", "visitor_project")
        self.assertEqual(rc, 1)
        self.assertIn("check count.visitor_project FAILED", err)
        res = json.loads(out.strip().splitlines()[-1])
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)

    def test_traced_run_measures_every_per_layer_metric(self):
        rc, out, _ = _run("--workload", "rebuild", "--seed", "3", "--seconds", "1",
                          "--sizes", SMALL, "--trace", "1")
        self.assertEqual(rc, 0)
        res = json.loads(out.strip().splitlines()[-1])
        spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual(set(res["metrics"]), {m["name"] for m in spec["per_layer"]})
        # both workloads ran: every time-valued layer metric was measured
        zero = [n for n, m in res["metrics"].items() if m["unit"] in ("s", "ms") and m["value"] == 0]
        self.assertEqual(zero, [])
        trace = json.loads((run.ARTIFACTS / "trace-rebuild-seed3-trace1.json").read_text())
        names = {s["name"] for s in trace["spans"]}
        self.assertTrue({"rebuild", "etl.run", "sources.read", "etl.visitor_project.write",
                         "readback", "query", "query.construct", "query.plan", "query.exec",
                         "operator", "operator.construct", "operator.exec"} <= names)
        # the heavy queries' outputs passed the DuckDB oracle
        checks = json.loads((run.ARTIFACTS / "result-rebuild-seed3-trace1.json").read_text())["checks"]
        self.assertTrue({"oracle.ann_pq_recall", "oracle.etl_visitor_project_distributed"}
                        <= {c["name"] for c in checks if c["ok"]})

    def test_without_the_program_sources_the_run_fails_without_a_result(self):
        iso = SCRATCH / "isolated"
        shutil.rmtree(iso, ignore_errors=True)
        shutil.copytree(HERE, iso / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(HERE.parent / "BENCHMARK.json", iso)
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "rebuild",
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=iso, capture_output=True, text=True, timeout=180)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout, "")


if __name__ == "__main__":
    unittest.main()
