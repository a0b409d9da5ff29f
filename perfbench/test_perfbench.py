"""The benchmark's own tests, at tiny scale.

Run from the repository root:
    python3 -m unittest perfbench/test_perfbench.py

Covers: every workload runs and passes its output checks; generated inputs
are byte-identical for a seed and differ across seeds; the traced run's
per-span shuffle and busy time add up to the listener's totals.
"""
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

import gen  # noqa: E402

SCRATCH = os.path.join(ROOT, ".bench_build", "test")
WORKLOADS = ["arxiv_pipeline", "etl_relational", "dedup_corpus", "stream_dedup"]


def tree_digest(d):
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True)):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def check(self, make):
        a, b, c = (os.path.join(SCRATCH, x) for x in "abc")
        make(a, 5)
        make(b, 5)
        make(c, 6)
        self.assertEqual(tree_digest(a), tree_digest(b))
        self.assertNotEqual(tree_digest(a), tree_digest(c))

    def test_arxiv_is_seeded(self):
        self.check(lambda d, s: gen.arxiv(d, s, 500))

    def test_relational_is_seeded(self):
        self.check(lambda d, s: gen.relational(d, s, 0.001))

    def test_arxiv_shape(self):
        d = os.path.join(SCRATCH, "shape")
        gen.arxiv(d, 3, 2000)
        with open(os.path.join(d, "arxiv.jsonl"), encoding="utf-8") as f:
            recs = [json.loads(line) for line in f]
        self.assertEqual(len(recs), 2000)
        self.assertTrue(all(len(r) == 14 for r in recs))
        doi = sum(r["doi"] is not None for r in recs) / len(recs)
        self.assertAlmostEqual(doi, gen.DOI_SHARE, delta=0.05)
        self.assertLess(len({r["id"] for r in recs}), len(recs))  # duplicate ids
        names = "".join(a[0] for r in recs for a in r["authors_parsed"])
        self.assertTrue(any(ord(ch) > 127 for ch in names))  # diacritics


class WorkloadTest(unittest.TestCase):
    """One traced tiny run per workload."""

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        cls.layer_names = {m["name"] for m in bench["per_layer"]}
        cls.declared = {w["name"] for w in bench["workloads"]}
        cls.runs = {}
        for w in WORKLOADS:
            trace_file = os.path.join(ROOT, ".bench_build", f"trace_{w}_3.json")
            if os.path.exists(trace_file):
                os.remove(trace_file)
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w, "--seed", "3",
                                "--seconds", "1", "--trace", "1", "--scale", "tiny"],
                               cwd=ROOT, capture_output=True, text=True, timeout=900)
            trace = None
            if os.path.exists(trace_file):
                with open(trace_file) as f:
                    trace = json.load(f)
            cls.runs[w] = (p, trace)

    def test_every_workload_passes_its_checks(self):
        for w, (p, _) in self.runs.items():
            with self.subTest(workload=w):
                self.assertEqual(p.returncode, 0, p.stderr[-2000:])
                res = json.loads(p.stdout.strip().splitlines()[-1])
                self.assertTrue(res["correct"], p.stdout[-3000:])
                self.assertEqual(res["failed"], 0)
                self.assertGreater(res["attempted"], 0)
                self.assertLessEqual(self.layer_names, set(res["metrics"]))

    def test_span_counts_add_up_to_listener_totals(self):
        for w, (_, trace) in self.runs.items():
            with self.subTest(workload=w):
                self.assertIsNotNone(trace)
                total = trace["listener_total"]
                self.assertEqual(int(total["unattributed_tasks"]), 0)
                roots = [s for s in trace["spans"] if s["parent"] == 0]
                for key in ("shuffle_mb", "busy_s"):
                    self.assertAlmostEqual(sum(s[key] for s in roots), total[key], delta=1e-6 + 1e-9 * total[key])

    def test_layer_metrics_are_declared(self):
        for w, (_, trace) in self.runs.items():
            if w not in self.declared:
                continue
            with self.subTest(workload=w):
                self.assertLessEqual(set(trace["layer"]), self.layer_names)


if __name__ == "__main__":
    unittest.main()
