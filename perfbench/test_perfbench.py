#!/usr/bin/env python3
"""The benchmark's own tests. Run from the checkout root:

    python3 perfbench/test_perfbench.py

They build the program if needed and start a few short benchmark runs
(about four minutes in all)."""
import filecmp
import json
import math
import os
import random
import statistics
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

with open(os.path.join(HERE, "workloads.json")) as fh:
    SPEC = json.load(fh)


def stratified_sample(registry, seconds, k):
    """The `queries` workload: k registry queries, allotted to the scale
    classes in proportion to class size (largest remainder, ties to the
    larger class), each class's share taken at the cost medians of equal
    slices of its queries sorted by measured seconds."""
    classes = {}
    for q, c in registry.items():
        classes.setdefault(c, []).append(q)
    quota = {c: len(qs) * k / len(registry) for c, qs in classes.items()}
    alloc = {c: math.floor(x) for c, x in quota.items()}
    rest = sorted(classes, key=lambda c: (alloc[c] - quota[c], -len(classes[c]), c))
    for c in rest[:k - sum(alloc.values())]:
        alloc[c] += 1
    picks = []
    for c in sorted(classes, key=lambda c: (-len(classes[c]), c)):
        qs = sorted(classes[c], key=lambda q: (seconds[q], q))
        m = alloc[c]
        picks += [qs[int((j + 0.5) * len(qs) / m)] for j in range(m)]
    return picks


def bench(*args):
    """Run the benchmark; return (last-line result, per-op record)."""
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                         cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    rec = next(l.split(": ", 1)[1] for l in lines if l.startswith("per-op record: "))
    with open(os.path.join(ROOT, rec)) as fh:
        return json.loads(lines[-1]), json.load(fh)


class Generator(unittest.TestCase):
    def test_deterministic_per_seed(self):
        os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_work")) as tmp:
            a, b, c = (os.path.join(tmp, x) for x in "abc")
            gen.generate(a, 5, run.SF, run.DAYS)
            gen.generate(b, 5, run.SF, run.DAYS)
            gen.generate(c, 6, run.SF, run.DAYS)
            files = sorted(os.path.relpath(os.path.join(d, f), a)
                           for d, _, fs in os.walk(a) for f in fs)
            self.assertEqual(len(files), 10 + 2 * run.DAYS)
            self.assertEqual(filecmp.cmpfiles(a, b, files, shallow=False)[0], files)
            self.assertNotIn("documents.parquet", filecmp.cmpfiles(a, c, files, shallow=False)[0])


class Membership(unittest.TestCase):
    def test_registry_is_the_one_the_workloads_were_chosen_from(self):
        cp = run.build()
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_work")) as tmp:
            out = os.path.join(tmp, "list.json")
            r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "graftbench.Harness",
                                "--workload", "list",
                                "--data", tmp, "--out", out],
                               capture_output=True, text=True, timeout=120)
            self.assertEqual(r.returncode, 0, r.stderr[-3000:])
            with open(out) as fh:
                listed = json.load(fh)
        self.assertEqual(listed["queries"], SPEC["registry"],
                         "the query registry changed: re-choose the workloads in a benchmark change")
        self.assertEqual(listed["artifacts"], SPEC["artifacts"])
        self.assertTrue(set(SPEC["workloads"]["queries"]["artifacts"]) <= set(SPEC["artifacts"]))

    def test_queries_are_the_stratified_sample_of_the_measured_registry(self):
        timed = SPEC["workloads"]["queries"]["queries"]
        self.assertEqual(set(SPEC["registry_seconds"]), set(SPEC["registry"]))
        self.assertEqual(timed, stratified_sample(SPEC["registry"], SPEC["registry_seconds"],
                                                  len(timed)))


class Tail(unittest.TestCase):
    def test_tail_is_at_least_the_median_and_the_max_below_21_ops(self):
        rnd = random.Random(1)
        for n in range(1, 80):
            xs = [rnd.lognormvariate(0, 1) for _ in range(n)]
            tail, pct, beyond = run.quantile_tail(xs)
            self.assertGreaterEqual(tail, statistics.median(xs))
            if n < run.TAIL_MIN_OPS:
                self.assertEqual((tail, pct, beyond), (max(xs), 100, 0))
            else:
                self.assertEqual(sum(x > tail for x in xs), beyond)


class FailedRatio(unittest.TestCase):
    def test_planted_throwing_op_fails(self):
        line, rec = bench("--workload", "queries", "--seed", "3", "--seconds", "1",
                          "--trace", "0", "--plant", "throw")
        self.assertFalse(line["correct"])
        self.assertEqual(line["failed"], 1)
        self.assertEqual([o["name"] for o in rec["ops"] if o["failed"]], ["planted_throw"])

    def test_planted_wrong_output_fails(self):
        line, rec = bench("--workload", "queries", "--seed", "3", "--seconds", "1",
                          "--trace", "0", "--plant", "wrong")
        self.assertFalse(line["correct"])
        self.assertEqual(line["failed"], 1)
        bad = [o for o in rec["ops"] if o["failed"]]
        self.assertEqual([o["name"] for o in bad], ["planted_wrong"])
        self.assertIn("oracle mismatch", bad[0]["failed"])

    def test_planted_op_wrong_only_after_its_first_call_fails(self):
        line, rec = bench("--workload", "queries", "--seed", "3", "--seconds", "1",
                          "--trace", "0", "--plant", "stale")
        self.assertFalse(line["correct"])
        self.assertEqual(line["failed"], 1)
        bad = [o for o in rec["ops"] if o["failed"]]
        self.assertEqual([o["name"] for o in bad], ["planted_stale"])
        self.assertIn("after the timed region: oracle mismatch", bad[0]["failed"])


class WarehouseMarkers(unittest.TestCase):
    def test_artifact_times_sum_to_the_build(self):
        line, rec = bench("--workload", "wh-build", "--seed", "3", "--seconds", "1",
                          "--trace", "0")
        self.assertTrue(line["correct"])
        self.assertEqual([o["name"] for o in rec["ops"]], SPEC["artifacts"])
        total = sum(o["seconds"] for o in rec["ops"])
        # after the last marker, ensureMaterialized only returns
        self.assertGreaterEqual(rec["build_s"] + 0.01, total)
        self.assertLess(rec["build_s"] - total, 0.25)


if __name__ == "__main__":
    unittest.main(verbosity=2)
