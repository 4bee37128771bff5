"""Self-tests of the benchmark harness.

    python3 -m unittest discover -s perfbench/tests

The first group is pure Python (seconds). The end-to-end group builds the
classes and runs the JVM side three times on pair-census (about three
minutes).
"""
import copy
import io
import json
import os
import shutil
import sys
import tempfile
import unittest
from contextlib import redirect_stdout

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = os.path.dirname(HERE)
sys.path.insert(0, PKG)

import gen  # noqa: E402
import reference  # noqa: E402
import run  # noqa: E402


class InputDigests(unittest.TestCase):
    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        tmp = tempfile.mkdtemp()
        try:
            for wl in run.SPANS:
                d = {}
                for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
                    out = os.path.join(tmp, f"{wl}-{tag}")
                    gen.generate(wl, seed, out)
                    d[tag] = gen.input_digest(out)
                self.assertEqual(d["a"], d["b"], wl)
                self.assertNotEqual(d["a"], d["c"], wl)
        finally:
            shutil.rmtree(tmp)


def _doc(ops, warmup_ops=None):
    passes = [{"pass": 0, "traced": False, "wall_s": 1.0, "cpu_s": 2.0,
               "heap_peak_mb": 100.0, "codegen_compiles": 0,
               "pins_after_pass": 0, "ops": ops}]
    if warmup_ops is not None:
        passes.insert(0, dict(passes[0], ops=warmup_ops, wall_s=9.0,
                              warmup=True, **{"pass": -1}))
    return {"setup_s": 1.0, "passes": passes}


class FailureAccounting(unittest.TestCase):
    """A throw, a wrong digest and a missed quality floor each count as a
    failed operation and keep the pass out of the timings."""

    WL = "pair-census"

    def setUp(self):
        self.expected = {
            "ops.Graph.commonNeighbors": {"digest": [3, 10, 20]},
            "ops.Graph.linkScores": {
                "checks": [reference.ge("twin_auc", 0.95)]},
        }
        self.good = [
            {"span": "ops.Graph.commonNeighbors", "error": None,
             "digest": [3, 10, 20], "values": {}},
            {"span": "ops.Graph.linkScores", "error": None, "digest": None,
             "values": {"twin_auc": 0.99}},
            {"span": "llmdata.TextAnalysis.winnowSimilarity", "error": None,
             "digest": None, "values": {}},
            {"span": "llmdata.Dedup.containmentJoin", "error": None,
             "digest": None, "values": {}},
        ]

    def score(self, ops, warmup_ops=None):
        doc = _doc(ops, warmup_ops)
        att, failed, errors, passes = run.score(self.WL, doc, self.expected)
        e2e = run.end_to_end(self.WL, doc, passes, att, failed)
        return att, failed, e2e

    def test_all_good(self):
        att, failed, e2e = self.score(self.good)
        self.assertEqual((att, failed), (4, 0))
        self.assertEqual(e2e["success_rate"]["value"], 1.0)
        self.assertEqual(e2e["pass_s"]["value"], 1.0)

    def test_throw_raises_error_rate(self):
        ops = copy.deepcopy(self.good)
        ops[2]["error"] = "IllegalStateException: boom"
        att, failed, e2e = self.score(ops)
        self.assertEqual(failed, 1)
        self.assertLess(e2e["success_rate"]["value"], 1.0)
        self.assertNotEqual(e2e["pass_s"]["value"], 1.0)  # not timed

    def test_wrong_digest_raises_error_rate(self):
        ops = copy.deepcopy(self.good)
        ops[0]["digest"] = [3, 10, 21]
        _, failed, e2e = self.score(ops)
        self.assertEqual(failed, 1)
        self.assertLess(e2e["success_rate"]["value"], 1.0)

    def test_missed_quality_floor_raises_error_rate(self):
        ops = copy.deepcopy(self.good)
        ops[1]["values"]["twin_auc"] = 0.5
        _, failed, _ = self.score(ops)
        self.assertEqual(failed, 1)

    def test_warmup_is_checked_but_not_timed(self):
        att, failed, e2e = self.score(self.good, copy.deepcopy(self.good))
        self.assertEqual((att, failed), (8, 0))
        self.assertEqual(e2e["pass_s"]["value"], 1.0)
        bad = copy.deepcopy(self.good)
        bad[0]["digest"] = [3, 10, 21]
        att, failed, _ = self.score(self.good, bad)
        self.assertEqual((att, failed), (8, 1))

    def test_missing_operation_counts(self):
        att, failed, _ = self.score(self.good[:-1])
        self.assertEqual((att, failed), (4, 1))


class MetricNames(unittest.TestCase):
    def test_benchmark_json_matches_reported_metrics(self):
        with open(os.path.join(os.path.dirname(PKG), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         run.per_layer_names())
        self.assertEqual([w["name"] for w in spec["workloads"]],
                         list(run.SPANS))


class EndToEnd(unittest.TestCase):
    def bench(self, *extra):
        out = io.StringIO()
        with redirect_stdout(out):
            rc = run.main(["--workload", "pair-census", "--seed", "3",
                           "--seconds", "1"] + list(extra))
        self.assertEqual(rc, 0)
        return out.getvalue()

    def test_last_line_parses_unmodified(self):
        last = self.bench().splitlines()[-1]
        res = json.loads(last)
        self.assertEqual(set(res), {"correct", "attempted", "failed",
                                    "metrics"})
        self.assertTrue(res["correct"])
        self.assertEqual([n for n, _ in run.END_TO_END], list(res["metrics"]))

    def test_injected_failures_show_in_error_rate(self):
        thrown = json.loads(self.bench(
            "--inject", "llmdata.Dedup.containmentJoin=throw"
        ).splitlines()[-1])
        self.assertGreater(thrown["failed"], 0)
        self.assertLess(thrown["metrics"]["success_rate"]["value"], 1.0)
        wrong = json.loads(self.bench(
            "--inject", "llmdata.TextAnalysis.winnowSimilarity=wrong"
        ).splitlines()[-1])
        self.assertGreater(wrong["failed"], 0)
        self.assertFalse(wrong["correct"])


if __name__ == "__main__":
    unittest.main()
