"""Fast self-test of the benchmark harness; needs no Spark.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import contextlib
import io
import json
import math
import os
import statistics
import sys
import tempfile
import types
import unittest
import unittest.mock

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness, inputs, oracle, stats  # noqa: E402
from perfbench.harness import END_TO_END, PER_LAYER, Bench  # noqa: E402
from perfbench.probes import JobRecord, union_length  # noqa: E402
from perfbench.spans import Tracer  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_median_and_quartiles(self):
        values = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0, 6.0, 8.0, 10.0]
        self.assertEqual(stats.median(values), 5.5)
        q1, q3 = stats.quartiles(values)
        want = statistics.quantiles(values, n=4)
        self.assertEqual((q1, q3), (want[0], want[2]))
        self.assertEqual((q1, q3), (2.75, 8.25))

    def test_single_sample(self):
        self.assertEqual(stats.summary([2.5]), {"median": 2.5, "q1": 2.5, "q3": 2.5, "n": 1})

    def test_no_samples_raise(self):
        with self.assertRaises(ValueError):
            stats.median([])

    def test_summary_of_no_samples_is_nan(self):
        got = stats.summary([])
        self.assertEqual(got["n"], 0)
        self.assertTrue(all(math.isnan(got[key]) for key in ("median", "q1", "q3")))

    def test_error_rate_counts_failed_operations(self):
        out = stats.Outcomes()
        out.record([])
        out.record(["centroids differ", "DBI differs"])  # one operation, two problems
        out.record([])
        out.record(["raised RuntimeError: boom"])
        self.assertEqual((out.attempted, out.failed), (4, 2))
        self.assertEqual(out.error_rate, 0.5)
        self.assertEqual(len(out.reasons), 3)
        self.assertEqual(stats.Outcomes().error_rate, 0.0)


class OracleTest(unittest.TestCase):
    def setUp(self):
        rng = np.random.default_rng(3)
        self.x32 = inputs.customer_points(rng, 3000, 7)
        self.x = self.x32.astype(np.float64)
        self.init = self.x[inputs.distinct_row_indices(rng, self.x32, 4)]
        self.want = oracle.native_lloyd(self.x, self.init, 3)

    def _check(self, centroids, sizes=None, label_sizes=None, dbi=None, n_iter=3):
        sizes = dict(enumerate(self.want.sizes)) if sizes is None else sizes
        return oracle.check_fit(
            self.want,
            centroids,
            n_iter,
            sizes,
            self.want.label_sizes if label_sizes is None else label_sizes,
            self.want.dbi if dbi is None else dbi,
        )

    def test_accepts_its_own_answer(self):
        self.assertEqual(self._check(self.want.centroids.tolist()), [])

    def test_rejects_perturbed_centroid(self):
        bad = self.want.centroids.copy()
        bad[2, 5] += 1e-5
        problems = self._check(bad.tolist())
        self.assertEqual(len(problems), 1)
        self.assertIn("centroids differ", problems[0])

    def test_rejects_wrong_sizes_dbi_and_rounds(self):
        sizes = dict(enumerate(self.want.sizes))
        sizes[0] += 1
        self.assertTrue(self._check(self.want.centroids, sizes=sizes))
        self.assertTrue(self._check(self.want.centroids, dbi=self.want.dbi * 1.001))
        self.assertTrue(self._check(self.want.centroids, n_iter=2))
        labels = list(self.want.label_sizes)
        labels[1] -= 1
        self.assertTrue(self._check(self.want.centroids, label_sizes=labels))

    def test_matches_a_loop_lloyd(self):
        c = self.init.copy()
        for _ in range(3):
            labels = [min(range(len(c)), key=lambda j: float(((p - c[j]) ** 2).sum())) for p in self.x]
            labels = np.asarray(labels)
            c = np.stack([self.x[labels == j].mean(axis=0) for j in range(len(c))])
        np.testing.assert_allclose(self.want.centroids, c, rtol=0, atol=1e-12)

    def test_nearest_breaks_ties_to_lowest_index(self):
        x = np.array([[0.0, 0.0], [1.0, 0.0]])
        c = np.array([[0.5, 1.0], [0.5, -1.0], [0.5, 1.0]])
        self.assertEqual(oracle.nearest(x, c).tolist(), [0, 0])

    def test_compat_rounds_and_caps(self):
        got = oracle.compat_lloyd(self.x, self.init, thresh=-1.0, max_loop=4)
        self.assertEqual(got.n_iter, 3)  # max_loop - 1
        scaled = got.centroids * 100000.0
        self.assertTrue(np.allclose(scaled, np.round(scaled), atol=1e-2))


class TraceTest(unittest.TestCase):
    def test_union_length(self):
        self.assertEqual(union_length([(1, 3), (2, 4), (6, 7)], 0, 10), 4)
        self.assertEqual(union_length([(1, 3), (2, 4)], 2.5, 3.5), 1)
        self.assertEqual(union_length([], 0, 1), 0)

    def test_self_time_and_job_attachment(self):
        tr = Tracer(enabled=True)
        tr.run_id = "r"
        with tr.span("run") as root:
            with tr.span("fit") as fit:
                pass
        # place spans on a fixed timeline: run [0, 10], fit [1, 6]
        root.start_s, root.end_s = 0.0, 10.0
        fit.start_s, fit.end_s = 1.0, 6.0
        tr.attach_jobs([JobRecord(1, 2.0, 4.0, [0]), JobRecord(2, 7.0, 8.0, [1])], root)
        by_name = {sp.name + str(sp.attrs.get("job_id", "")): sp for sp in tr.spans}
        self.assertEqual(by_name["spark.job1"].parent, fit.span_id)
        self.assertEqual(by_name["spark.job2"].parent, root.span_id)
        selfs = tr.self_times()
        self.assertEqual(selfs[fit.span_id], 3.0)
        self.assertEqual(selfs[root.span_id], 4.0)
        exported = tr.export()
        self.assertEqual({e["run_id"] for e in exported}, {"r"})

    def test_patch_restores_and_totals(self):
        Mod = types.SimpleNamespace(f=lambda v: v + 1)
        tr = Tracer(enabled=False)
        original = Mod.f
        with tr.patch([(Mod, "f", "mod.f")]):
            self.assertEqual(Mod.f(1), 2)
            Mod.f(2)
        self.assertIs(Mod.f, original)
        self.assertIn("mod.f", tr.totals)
        self.assertEqual(tr.spans, [])


class WindowTest(unittest.TestCase):
    def test_window_ends_within_half_an_operation_of_its_length(self):
        clock = [0.0]
        args = types.SimpleNamespace(workload="fit_tall", seed=1, seconds=1.05, trace=0)
        with tempfile.TemporaryDirectory() as tmp:
            bench = Bench(args, 1, tmp, os.path.join(tmp, "out"))

        def op(traced):
            clock[0] += 0.4
            return {"traced": traced, "run_s": 0.4}

        bench._op = op
        fake_time = types.SimpleNamespace(perf_counter=lambda: clock[0])
        with unittest.mock.patch.object(harness, "time", fake_time):
            bench._window()
        # starts at 0, 0.4 and 0.8 (ends 0.15 past the window, less than
        # half an operation); one at 1.2 would start after it
        self.assertEqual(len(bench.untraced), 3)
        self.assertAlmostEqual(bench.stamp["window_s"], 1.2)


class ReportTest(unittest.TestCase):
    def _report_with_no_samples(self, trace: int) -> dict:
        args = types.SimpleNamespace(workload="fit_tall", seed=1, seconds=1.0, trace=trace)
        with tempfile.TemporaryDirectory() as tmp:
            bench = Bench(args, 1, tmp, os.path.join(tmp, "out"))
            for _ in range(3):
                bench.outcomes.record(["raised RuntimeError: boom"])
            bench.setup["setup_s"].append(1.0)
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                bench.report()
        return json.loads(out.getvalue().splitlines()[-1])

    def test_last_line_printed_when_every_operation_raised(self):
        for trace, names in ((0, END_TO_END), (1, PER_LAYER)):
            got = self._report_with_no_samples(trace)
            self.assertEqual((got["correct"], got["attempted"], got["failed"]), (False, 3, 3))
            self.assertEqual(set(got["metrics"]), set(names))
            if not trace:
                self.assertEqual(got["metrics"]["setup_s"]["value"], 1.0)
                self.assertIsNone(got["metrics"]["run_s"]["value"])


class ContractTest(unittest.TestCase):
    def test_reported_metrics_match_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, PER_LAYER)
        setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in spec["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
