"""Self-tests of the mbrainz benchmark.

    python3 -m unittest discover -s mbench/tests -v

Run from the root of a checkout; the first test builds the benchmark
(sbt) if needed. Each workload runs once at a tiny scale, so the suite
takes several minutes.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
MBENCH = os.path.dirname(HERE)
sys.path.insert(0, MBENCH)
import run  # noqa: E402

WORK = os.path.join(run.TARGET, "selftest")
TINY = {"import": 0.005, "harness-resolve": 0.001}
with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
    PER_LAYER = {m["name"] for m in json.load(f)["per_layer"]}


def java(*args):
    cp = run.build()
    assert cp, "benchmark build failed"
    os.makedirs(run.TMP, exist_ok=True)
    return subprocess.run(["java"] + run.JVM_OPTS + ["-cp", cp, "graft.mbench.Main"] +
                          list(args), cwd=run.ROOT, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True, stdin=subprocess.DEVNULL)


def bench(workload, *extra, trace=0):
    p = subprocess.run([sys.executable, os.path.join(MBENCH, "run.py"), "--workload", workload,
                        "--seed", "3", "--seconds", "1", "--trace", str(trace),
                        "--scale", str(TINY[workload]), "--work", WORK] + list(extra),
                       cwd=run.ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, stdin=subprocess.DEVNULL)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    return p.returncode, json.loads(last)


def tree(d):
    return sorted(os.path.relpath(os.path.join(dp, f), d)
                  for dp, _, fs in os.walk(d) for f in fs)


class GeneratorTest(unittest.TestCase):
    def gen(self, name, seed):
        d = os.path.join(WORK, name)
        shutil.rmtree(d, ignore_errors=True)
        p = java("gen", "--seed", str(seed), "--scale", "0.005", "--work", d)
        self.assertEqual(p.returncode, 0, p.stdout)
        return os.path.join(d, "entities")

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        a, b, c = self.gen("gen-a", 11), self.gen("gen-b", 11), self.gen("gen-c", 12)
        self.assertEqual(tree(a), tree(b))
        self.assertIn("media.edn", tree(a))
        for f in tree(a):
            self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False), f)
        differing = [f for f in tree(a)
                     if not filecmp.cmp(os.path.join(a, f), os.path.join(c, f), shallow=False)]
        self.assertIn("artists.edn", differing)
        self.assertIn("media.edn", differing)

    def test_files_parse_through_edn_and_connector(self):
        d = os.path.join(WORK, "checkgen")
        shutil.rmtree(d, ignore_errors=True)
        p = java("checkgen", "--seed", "11", "--scale", "0.005", "--work", d)
        self.assertEqual(p.returncode, 0, p.stdout)
        self.assertEqual(p.stdout.count("MBENCH_CHECKGEN "), 8, p.stdout)


class WorkloadTest(unittest.TestCase):
    def check_workload(self, workload):
        code, r = bench(workload)
        self.assertEqual(code, 0, r)
        self.assertTrue(r["correct"])
        self.assertEqual(r["failed"], 0)
        self.assertGreaterEqual(r["attempted"], 1)
        self.assertEqual(set(r["metrics"]), {"setup_s", "run_s"})
        code, r = bench(workload, "--inject-wrong")
        self.assertNotEqual(code, 0, "a wrong expected value must fail the run")
        self.assertFalse(r.get("correct", False))
        self.assertGreaterEqual(r.get("failed", 1), 1)

    def test_import(self):
        self.check_workload("import")

    def test_import_traced_runs_the_query_and_update_probes(self):
        code, r = bench("import", trace=1)
        self.assertEqual(code, 0, r)
        self.assertEqual(r["failed"], 0)
        self.assertEqual(set(r["metrics"]), PER_LAYER)
        m = {k: v["value"] for k, v in r["metrics"].items()}
        self.assertEqual(m["query_samples"], 10)
        self.assertEqual(m["tx_samples"], 1)
        self.assertEqual(m["store.incremental_frac"], 1)
        self.assertEqual(m["pipeline.loader.skip_frac"], 1)
        for k in ("query_p50_ms", "query.datalog_p50_ms", "query.pull_p50_ms",
                  "tx_p50_ms", "raw_p50_ms", "sources.read_s", "pipeline.loader_s"):
            self.assertGreater(m[k], 0, k)
        # the query and update probes check their reads too
        code, r = bench("import", "--inject-wrong", trace=1)
        self.assertNotEqual(code, 0)
        self.assertGreaterEqual(r.get("failed", 0), 3)

    def test_harness_resolve(self):
        self.check_workload("harness-resolve")


if __name__ == "__main__":
    unittest.main()
