"""Tests of the pipeline benchmark's own parts.

  python3 -m unittest discover -s perfbench/tests

Run from the repository root. The stub test compiles the program and the
harness first (perfbench/run.py's build, cached under .perfbench/).
"""

import copy
import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import gen  # noqa: E402
import run  # noqa: E402


def read_json(p):
    with open(p) as f:
        return json.load(f)


def tree_digest(d):
    """{relative path: sha256} of every file under d."""
    out = {}
    for base, _, files in os.walk(d):
        for name in files:
            p = os.path.join(base, name)
            with open(p, "rb") as f:
                out[os.path.relpath(p, d)] = hashlib.sha256(
                    f.read()).hexdigest()
    return out


class SmallSizes:
    """Shrink the generator's fixed sizes for the duration of a test."""

    def __enter__(self):
        self.saved = copy.deepcopy((gen.ETL, gen.STORE))
        gen.ETL.update({"warm": 1, "iters": 2, "issues": (120, 60, 75)})
        gen.STORE.update({"base": 60, "batches": 2, "batch": 20,
                          "probe_rounds": 1, "probe_batches": 2,
                          "probe_batch": 30})
        return self

    def __exit__(self, *exc):
        gen.ETL.clear()
        gen.ETL.update(self.saved[0])
        gen.STORE.clear()
        gen.STORE.update(self.saved[1])


class GeneratorTest(unittest.TestCase):

    def generate(self, workload, seed):
        tmp = tempfile.TemporaryDirectory(prefix="perfbench_gen_")
        self.addCleanup(tmp.cleanup)
        gen.generate(workload, seed, tmp.name)
        return tmp.name

    def test_same_seed_gives_identical_files(self):
        with SmallSizes():
            for w in sorted(gen.GENERATORS):
                a = tree_digest(self.generate(w, 7))
                b = tree_digest(self.generate(w, 7))
                self.assertTrue(a)
                self.assertEqual(a, b, w)

    def test_other_seed_gives_other_files(self):
        with SmallSizes():
            for w in sorted(gen.GENERATORS):
                a = tree_digest(self.generate(w, 7))
                b = tree_digest(self.generate(w, 8))
                self.assertEqual(sorted(a), sorted(b), w)
                self.assertNotEqual(a, b, w)

    def test_etl_truth_matches_pages(self):
        with SmallSizes():
            d = os.path.join(self.generate("etl_backfill", 3), "it000")
            man = read_json(os.path.join(d, "manifest.json"))
            truth = man["truth"]
            pages = sorted(os.listdir(os.path.join(d, "pages")))
            self.assertEqual(sorted(p[:-5] for p in pages),
                             sorted(man["script"]))
            for project, t in truth["projects"].items():
                issues = []
                for p in pages:
                    if p.startswith(project + "_"):
                        body = read_json(os.path.join(d, "pages", p))
                        self.assertEqual(body["total"], t["records"])
                        issues += body["issues"]
                self.assertEqual(len(issues), t["records"])
                self.assertEqual(t["pages"], -(-t["records"] // gen.PAGE))
                self.assertEqual(t["error_records"], sum(
                    isinstance(i, dict) and None in i.get("fields", {})
                    .get("labels", []) for i in issues))
                self.assertEqual(t["empty_records"], sum(
                    i == {} or isinstance(i, str) for i in issues))
            planted = os.listdir(os.path.join(d, "planted"))
            self.assertEqual(len(planted), truth["truncated"])
            for p in planted:
                with self.assertRaises(ValueError):
                    read_json(os.path.join(d, "planted", p))
            self.assertEqual(truth["requests"], sum(
                1 + len(f) for f in man["script"].values()))

    def test_failure_script_stays_inside_the_retry_budget(self):
        import random
        rng = random.Random(1)
        scripts = [gen.failure_script(rng) for _ in range(5000)]
        # the benchmark's JiraConfig allows maxRetries = 3
        self.assertLessEqual(max(len(s) for s in scripts), 2)
        self.assertTrue(all(c in (429, 500, 502, 503)
                            for s in scripts for c in s))
        self.assertTrue(any(scripts))

    def test_store_truth_plants_near_dups_of_stored_ids(self):
        with SmallSizes():
            d = self.generate("store_ingest_probe", 4)
            man = read_json(os.path.join(d, "manifest.json"))
            n = man["truth"]["ids"]
            self.assertEqual(n, man["batches"][-1][1])
            rnd = man["truth"]["planted"][0]
            self.assertTrue(rnd["text"])
            self.assertEqual(rnd["text"], rnd["vec"])
            self.assertTrue(all(0 <= src < n for _, src in rnd["text"]))


class StubTest(unittest.TestCase):
    """The stub endpoint's scripted statuses and the retry accounting."""

    def test_retry_script(self):
        try:
            classes, jars = run.build(ROOT)
        except run.BenchError as e:
            self.skipTest(str(e))
        out = subprocess.run(
            ["java", "-cp", ":".join([classes] + jars),
             "graft.perfbench.PerfBench", "--selftest"],
            capture_output=True, text=True, timeout=120, check=True)
        r = json.loads(out.stdout.strip().splitlines()[-1])
        # P_0: 429, 500, then 200; P_2: 503, then 200
        self.assertEqual(r["requests"], 5)
        self.assertEqual(r["failures"], 3)
        # 429 -> rate-limit sleep; 5xx -> base ** attempt; 1 s polite delay
        # after each page
        self.assertEqual(r["sleeps"], [5.0, 2.0, 1.0, 1.0, 1.0])
        self.assertEqual(r["expected_backoff"], 8.0)
        self.assertEqual((r["pages"], r["issues"]), (2, 3))
        # four 500s exhaust maxRetries = 3 on the fourth request
        self.assertTrue(r["exhausted_fails"])
        self.assertEqual(r["exhausted_requests"], 4)


class OutputTest(unittest.TestCase):
    BENCH = read_json(os.path.join(ROOT, "BENCHMARK.json"))

    def result(self, **kw):
        e2e = {m["name"]: {"value": 1.5, "unit": m["unit"]}
               for m in self.BENCH["end_to_end"]}
        layer = {m["name"]: {"value": 0.0, "unit": m["unit"]}
                 for m in self.BENCH["per_layer"]}
        r = {"correct": True, "attempted": 12, "failed": 0, "e2e": e2e,
             "per_layer": layer, "detail": {}}
        r.update(kw)
        return r

    def test_line_has_exactly_the_contract_keys(self):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            line = run.final_line(self.result(), self.BENCH, trace)
            self.assertEqual(sorted(line),
                             ["attempted", "correct", "failed", "metrics"])
            self.assertTrue(line["correct"])
            self.assertEqual(list(line["metrics"]),
                             [m["name"] for m in self.BENCH[key]])
            for m in self.BENCH[key]:
                self.assertEqual(line["metrics"][m["name"]]["unit"], m["unit"])
            json.loads(json.dumps(line))

    def test_missing_or_zero_metric_is_incorrect(self):
        r = self.result()
        del r["e2e"]["setup_s"]
        self.assertFalse(run.final_line(r, self.BENCH, 0)["correct"])
        r = self.result()
        r["e2e"]["items_per_s"]["value"] = 0.0
        self.assertFalse(run.final_line(r, self.BENCH, 0)["correct"])
        r = self.result()
        r["per_layer"]["jvm.gc_ms"]["value"] = float("nan")
        self.assertFalse(run.final_line(r, self.BENCH, 1)["correct"])

    def test_counts_pass_through(self):
        line = run.final_line(self.result(failed=2, attempted=0,
                                          correct=False), self.BENCH, 0)
        self.assertEqual((line["attempted"], line["failed"]), (1, 2))
        self.assertFalse(line["correct"])

    def test_benchmark_file_follows_the_contract(self):
        b = self.BENCH
        self.assertEqual(sorted(b), ["command", "end_to_end", "paths",
                                     "per_layer", "run_seconds", "workloads"])
        self.assertEqual([w["name"] for w in b["workloads"]],
                         sorted(gen.GENERATORS))
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in b[k]]
        self.assertEqual(len(names), len(set(names)))
        self.assertIn("setup_s", [m["name"] for m in b["end_to_end"]])
        bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
        self.assertTrue(all(0 < v <= 0.25 for v in bounds.values()))
        self.assertEqual(bounds["setup_s"], max(bounds.values()))
        self.assertLessEqual(len(b["per_layer"]), 128)

    def test_bare_directory_fails_without_a_result(self):
        tmp = tempfile.TemporaryDirectory(prefix="perfbench_bare_")
        self.addCleanup(tmp.cleanup)
        d = tmp.name
        os.symlink(BENCH_DIR, os.path.join(d, "perfbench"))
        with open(os.path.join(d, "BENCHMARK.json"), "w") as f:
            json.dump(self.BENCH, f)
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                            "etl_backfill", "--seed", "1", "--seconds", "1",
                            "--trace", "0"], cwd=d, capture_output=True,
                           text=True, timeout=60)
        self.assertNotEqual(r.returncode, 0)
        self.assertEqual(r.stdout, "")


if __name__ == "__main__":
    unittest.main()
