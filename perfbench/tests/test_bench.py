"""Unit tests of the benchmark's own arithmetic and gates.

Run: python3 -m unittest discover -s perfbench/tests
Set PERFBENCH_E2E=1 to also run the planted-wrong-row check end to end
(builds graft and runs the harness; a few minutes).
"""
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import pandas as pd  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import oracle  # noqa: E402
import report  # noqa: E402
import run  # noqa: E402
from workloads import RAM_KEYS, pass_plan  # noqa: E402


def span(i, parent, name, t0, t1):
    return {"id": i, "parent": parent, "name": name, "t0": t0, "t1": t1}


def job(span_id, t0, t1, **c):
    return dict({"id": 0, "span": span_id, "t0": t0, "t1": t1}, **c)


class SpanArithmetic(unittest.TestCase):
    def setUp(self):
        # query 0..100 ms: build 0..30 (one eager job 10..20), plan 30..40,
        # materialize 40..98 (jobs 45..60 and 55..90, overlapping)
        self.spans = [span(0, -1, "query:k", 0, 100), span(1, 0, "build", 0, 30),
                      span(2, 0, "plan", 30, 40), span(3, 0, "materialize", 40, 98)]
        self.jobs = [job(1, 10, 20, run_ms=8), job(3, 45, 60, run_ms=40),
                     job(3, 55, 90, run_ms=100)]
        self.t = report.Trace(self.spans, self.jobs)

    def test_covered_merges_overlaps_and_clips(self):
        self.assertEqual(report.covered([(45, 60), (55, 90), (-5, 3)], 0, 100), 48)
        self.assertEqual(report.covered([(10, 20), (12, 18)], 15, 30), 5)
        self.assertEqual(report.covered([], 0, 10), 0)

    def test_self_time_subtracts_child_spans_and_jobs(self):
        self.assertEqual(self.t.self_ms(0), 100 - 98)  # phases cover 0..98
        self.assertEqual(self.t.self_ms(1), 30 - 10)   # one eager job
        self.assertEqual(self.t.self_ms(3), 58 - 45)   # jobs cover 45..90

    def test_gap_counts_time_outside_every_job(self):
        self.assertEqual(self.t.gap_ms(0), 100 - 10 - 45)
        self.assertEqual(self.t.gap_ms(2), 10)

    def test_query_layers(self):
        q = report.query_layers(self.t, {"span": 0, "plan_s": 0.01}, cores=2)
        self.assertAlmostEqual(q["operators.build_s"], 0.020)
        self.assertAlmostEqual(q["operators.eager_job_s"], 0.010)
        self.assertEqual(q["operators.eager_jobs"], 1)
        self.assertEqual(q["scheduler.jobs"], 3)
        self.assertAlmostEqual(q["scheduler.gap_s"], 0.045)
        self.assertAlmostEqual(q["scheduler.core_busy_frac"], 0.148 / (0.1 * 2))
        self.assertAlmostEqual(q["coverage"], 0.98)


class TraceOverhead(unittest.TestCase):
    def test_traced_pass_against_both_neighbours(self):
        def p(s, t):
            return {"pass_s": s, "traced": t}
        # untraced passes drift 10 -> 8 -> 6; traced passes cost 10% over
        # the mean of their neighbours
        passes = [p(10, False), p(9.9, True), p(8, False), p(7.7, True), p(6, False)]
        self.assertAlmostEqual(report.trace_overhead(passes), (1.1 + 1.1) / 2)
        # a trailing traced pass has no right neighbour and is not used
        self.assertAlmostEqual(report.trace_overhead(passes[:4]), 1.1)


class PercentileRule(unittest.TestCase):
    def test_p90_needs_92_distinct_samples_for_10_above(self):
        self.assertEqual(report.samples_above(list(range(92)), 0.9), 10)
        self.assertEqual(report.samples_above(list(range(91)), 0.9), 9)
        self.assertEqual(report.samples_above([1.0] * 200, 0.9), 0)  # ties never lie above

    def test_interpolated_percentile(self):
        xs = list(range(1, 11))
        self.assertAlmostEqual(report.percentile(xs, 0.5), 5.5)
        self.assertAlmostEqual(report.percentile(xs, 0.9), 9.1)
        self.assertAlmostEqual(report.percentile([3.0, 1.0], 0.9), 2.8)
        self.assertEqual(report.percentile([7.0], 0.9), 7.0)


class OracleGate(unittest.TestCase):
    def test_planted_wrong_row_fails(self):
        good = pd.DataFrame({"b": [2.5, None, 1.0], "a": [3, 1, 2]})
        planted = pd.concat([good, good.iloc[:1]], ignore_index=True)
        with tempfile.TemporaryDirectory() as d:
            paths = {}
            for name, df in (("good", good), ("planted", planted)):
                os.makedirs(os.path.join(d, name))
                paths[name] = os.path.join(d, name, "part-0.parquet")
                df.to_parquet(paths[name])
            h, n = oracle.digest(good.sample(frac=1, random_state=1))
            rep = {"queries": [
                {"key": "k", "pass": 0, "error": None, "path": os.path.dirname(paths["good"])},
                {"key": "k", "pass": 1, "error": None, "path": os.path.dirname(paths["planted"])},
                {"key": "k", "pass": 2, "error": "boom", "path": ""}],
                "passes": [{"export": True, "pass": 0, "error": None},
                           {"export": True, "pass": 1, "error": "disk full"}],
                "export_checks": {"pass": 1, "error": None,
                                  "checks": {"csv": True, "tiles": False}}}
            attempted, failed, _ = run.check_results(rep, {"k": {"hash": h, "rows": n}})
        self.assertEqual((attempted, failed), (6, 4))

    def test_digest_ignores_order_and_width_not_kind(self):
        a = pd.DataFrame({"x": pd.array([1, 2], dtype="int32"), "y": ["p", "q"]})
        b = pd.DataFrame({"y": ["q", "p"], "x": pd.array([2, 1], dtype="int64")})
        self.assertEqual(oracle.digest(a), oracle.digest(b))
        c = b.assign(x=b["x"].astype("float64"))
        self.assertNotEqual(oracle.digest(a)[0], oracle.digest(c)[0])


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_inputs_and_order(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(os.path.join(d, "a"), 0.002, origin_factor=3, seed=5)
            gen.generate(os.path.join(d, "b"), 0.002, origin_factor=3, seed=5)
            gen.generate(os.path.join(d, "c"), 0.002, origin_factor=3, seed=6)
            for t in gen.TABLES:
                ta = pq.read_table(os.path.join(d, "a", f"{t}.parquet"))
                tb = pq.read_table(os.path.join(d, "b", f"{t}.parquet"))
                self.assertTrue(ta.equals(tb), t)
            keys = [pq.read_table(os.path.join(d, x, "customer.parquet"))["c_custkey"]
                    .to_pylist() for x in "ac"]
        self.assertEqual(len(keys[0]), 3 * 300)
        self.assertEqual(len(set(keys[0])), len(keys[0]))
        self.assertNotEqual(keys[0], keys[1])
        self.assertEqual(keys[0][:300], keys[1][:300])  # base origins unchanged
        self.assertEqual(pass_plan(RAM_KEYS, 3, 0, 2), pass_plan(RAM_KEYS, 3, 0, 2))
        self.assertNotEqual(pass_plan(RAM_KEYS, 3, 0, 2), pass_plan(RAM_KEYS, 4, 0, 2))

    def test_pass_plans(self):
        keys = ["a", "b", "c", "d"]
        for warmup in (1, 2):
            plan = pass_plan(keys, 3, 0, warmup, passes=warmup + 4)
            self.assertEqual(len(plan), warmup + 4)
            self.assertFalse(any(t for _, t in plan))
            timed = [o for o, _ in plan[warmup:]]
            self.assertEqual(sorted(timed[0]), keys)
            self.assertEqual(timed[1], timed[0][::-1])  # timed passes pair up reversed
            self.assertEqual(timed[3], timed[2][::-1])
        traced = pass_plan(keys, 3, 1, 2, passes=7)
        self.assertEqual(traced[:2], plan[:2])  # same warm-up
        self.assertEqual([t for _, t in traced[2:]], [False, True, False, True, False])
        self.assertEqual(len({tuple(o) for o, _ in traced[2:]}), 1)  # one order throughout

    def test_marker_mismatch_regenerates(self):
        with tempfile.TemporaryDirectory() as d:
            p = os.path.join(d, "x")
            gen.generate(p, 0.002, origin_factor=2, seed=1)
            sizes = gen.generate(p, 0.002, origin_factor=3, seed=1)
        self.assertEqual(sizes["customer"]["rows"], 3 * 300)


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E") == "1", "set PERFBENCH_E2E=1")
class PlantedEndToEnd(unittest.TestCase):
    def test_planted_result_fails_the_run(self):
        r = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "ram_project",
             "--seed", "1", "--seconds", "1", "--trace", "0", "--plant", "geo_route_door"],
            cwd=os.path.dirname(BENCH), capture_output=True, text=True, timeout=900)
        self.assertNotEqual(r.returncode, 0)
        last = r.stdout.strip().splitlines()[-1]
        self.assertIn('"correct": false', last)
        frac = [ln for ln in r.stdout.splitlines() if ln.startswith("failed_frac")][0]
        self.assertGreater(float(frac.split()[1]), 0.0)


if __name__ == "__main__":
    unittest.main()
