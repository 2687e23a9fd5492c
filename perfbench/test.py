"""Tests of the benchmark itself.

    python3 perfbench/test.py

The unit checks (perfbench/test/perfbench/BenchTest.scala) cover the
seeded generators, the counting filesystem, call-site attribution and
the output checks. The repeatability check makes two traced runs of each
workload with one seed and requires identical Spark job, filesystem and
curation-gate counts.
"""
import json
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

# counts that must repeat; module job counts and times may not
EXACT = ("spark.jobs", "fs.", "curation.novel_frac", "curation.neardup_frac",
         "curation.kept_frac")


def traced(workload, seed):
    out = subprocess.run(
        [sys.executable, os.path.join(build.HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=build.ROOT, stdout=subprocess.PIPE, check=True).stdout
    return json.loads(out.decode().strip().splitlines()[-1])


class BenchTest(unittest.TestCase):
    def test_unit_checks(self):
        classpath = build.ensure(with_tests=True)
        work = os.path.join(build.BUILD, "work", "test-%d" % os.getpid())
        os.makedirs(work, exist_ok=True)
        log = os.path.join(work, "test.log")
        rc = run.run_jvm(run.java_cmd(classpath, work, "perfbench.BenchTest",
                                      [os.path.join(build.HERE, "data")]), log, 600)
        with open(log) as fh:
            lines = [ln for ln in fh.read().splitlines()
                     if ln.startswith(("PASS", "FAIL"))]
        print("\n".join(lines))
        self.assertEqual(rc, 0, run.tail(log))
        self.assertTrue(lines and not any(ln.startswith("FAIL") for ln in lines))

    def test_traced_counts_repeat(self):
        for workload in run.WORKLOADS:
            a, b = traced(workload, 5), traced(workload, 5)
            self.assertTrue(a["correct"] and b["correct"])
            for name, m in a["metrics"].items():
                if name.startswith(EXACT):
                    self.assertEqual(m["value"], b["metrics"][name]["value"],
                                     "%s %s" % (workload, name))


if __name__ == "__main__":
    unittest.main()
