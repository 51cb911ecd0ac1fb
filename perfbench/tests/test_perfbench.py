"""Self-tests of the benchmark. They build and run it, so they take minutes.

    python3 -m unittest discover -s perfbench/tests -v
"""
import argparse
import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")


def inputs(workload, seed):
    """What the harness generates for (workload, seed), without Spark."""
    args = argparse.Namespace(workload=workload, seed=seed, seconds=0, trace=0)
    work = os.path.join(run.BUILD, "work", f"inputs-{workload}-{seed}")
    os.makedirs(work, exist_ok=True)
    res, _ = run.run_jvm(run.build(), args, work, mode="inputs")
    return res["inputs"]


def bench(workload, trace, seed=7):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


class InputsTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for w in run.WORKLOADS:
            a, b = inputs(w, 5), inputs(w, 5)
            self.assertEqual(a["sha256"], b["sha256"], w)

    def test_other_seed_moves_urls_keeps_sizes(self):
        a, b = inputs("extract_articles", 5), inputs("extract_articles", 6)
        self.assertNotEqual(a["sha256"], b["sha256"])
        self.assertEqual(a["rows"], b["rows"])
        self.assertGreater(a["urls_changed_vs_seed_plus_1"], 0.5)
        # only url salts move: the multiset of page sizes is identical
        self.assertEqual(a["sizes_sha256"], b["sizes_sha256"])
        for q in ("size_p10", "size_p50", "size_p90"):
            self.assertEqual(a[q], b[q])

    def test_other_seed_permutes_documents(self):
        a, b = inputs("curation_heavy", 5), inputs("curation_heavy", 6)
        self.assertNotEqual(a["sha256"], b["sha256"])
        self.assertEqual(a["content_sha256"], b["content_sha256"])


class RunTest(unittest.TestCase):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    def test_printed_names_match_spec(self):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            want = {m["name"]: m["unit"] for m in self.spec[key]}
            for w in run.WORKLOADS:
                r = bench(w, trace)
                self.assertTrue(r["correct"], (w, trace))
                self.assertEqual(r["failed"], 0, (w, trace))
                self.assertEqual(set(r["metrics"]), set(want), (w, trace))
                for name, m in r["metrics"].items():
                    self.assertRegex(name, NAME)
                    self.assertEqual(m["unit"], want[name])
                if trace == 0:
                    self.assertEqual(r["metrics"]["ok_frac"]["value"], 1.0)

    def test_phase_shares_sum_to_clean(self):
        bench("extract_articles", 1)
        with open(os.path.join(run.BUILD, "work", "extract_articles", "checks.json")) as f:
            checks = {c["name"]: c for c in json.load(f)}
        c = checks["kernel phase shares sum to Clean.clean within 5%"]
        self.assertTrue(c["ok"], c["detail"])


if __name__ == "__main__":
    unittest.main()
