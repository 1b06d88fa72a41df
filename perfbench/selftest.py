"""Self-tests of the benchmark's own arithmetic and contract.

    python3 perfbench/selftest.py            # fast tests plus one Spark test (~30 s)
    PERFBENCH_FULL=1 python3 perfbench/selftest.py   # also runs every workload once

The Spark test runs one dashboard operation per kind in a child process
whose working directory is not the repository root, so the HTTP
source's Python workers must find the package through the launcher's
``PYTHONPATH``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import measure  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from measure import Span, Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        for n in (11, 12, 40, 100, 1000):
            r = measure.tail_rank(n)
            self.assertEqual(n - 1 - r, 10, n)

    def test_highest_such_percentile(self):
        # one rank higher would leave only nine samples beyond
        self.assertEqual(measure.tail_percentile(40), 75.0)
        self.assertEqual(measure.tail_percentile(100), 90.0)
        self.assertEqual(measure.tail_percentile(1000), 99.0)

    def test_too_few_samples_uses_max(self):
        self.assertEqual(measure.tail_rank(8), 7)
        self.assertEqual(measure.tail_percentile(8), 100.0)
        self.assertEqual(measure.tail_value([3.0, 1.0, 2.0]), 3.0)

    def test_value_is_order_statistic(self):
        xs = [float(i) for i in range(40, 0, -1)]  # 40..1, unsorted
        self.assertEqual(measure.tail_value(xs), 30.0)

    def test_empty_rejected(self):
        with self.assertRaises(ValueError):
            measure.tail_rank(0)


class SelfTime(unittest.TestCase):
    def test_nested(self):
        spans = [
            Span("op.x", 0.0, 10.0, None, 0),
            Span("context.run", 1.0, 4.0, 0, 0),
            Span("engine.action", 5.0, 9.0, 0, 0),
            Span("sources.resolve.csv", 2.0, 3.0, 1, 0),
        ]
        self.assertEqual(measure.self_times(spans), [3.0, 2.0, 4.0, 1.0])

    def test_overlapping_children_counted_once(self):
        spans = [
            Span("op.x", 0.0, 10.0, None, 0),
            Span("engine.a", 1.0, 5.0, 0, 0),
            Span("engine.b", 3.0, 7.0, 0, 0),  # overlaps a on [3, 5]
            Span("engine.c", 9.0, 12.0, 0, 0),  # runs past its parent
        ]
        self.assertEqual(measure.self_times(spans)[0], 10.0 - 6.0 - 1.0)

    def test_self_times_sum_to_root(self):
        spans = [
            Span("op.x", 0.0, 10.0, None, 0),
            Span("queries.build", 0.5, 6.0, 0, 0),
            Span("engine.plan", 6.0, 6.5, 0, 0),
            Span("engine.action", 6.5, 9.5, 0, 0),
            Span("cache.release", 9.5, 9.75, 0, 0),
        ]
        self.assertAlmostEqual(sum(measure.self_times(spans)), 10.0)

    def test_tracer_layers(self):
        tr = Tracer()
        with tr.op_span("x"):
            with tr.span("context.run"):
                with tr.span("sources.resolve.csv"):
                    pass
            with tr.span("engine.action"):
                pass
        per, roots = tr.layer_self_ms()
        self.assertEqual(set(per), {"op", "context", "sources", "engine"})
        self.assertAlmostEqual(sum(per.values()), roots)
        self.assertEqual([s.parent for s in tr.spans], [None, 0, 1, 0])

    def test_disabled_tracer_records_nothing(self):
        tr = Tracer(enabled=False)
        with tr.op_span("x"), tr.span("engine.action"):
            tr.count("engine.jobs", 1)
        self.assertEqual(tr.spans, [])


class Attribution(unittest.TestCase):
    def test_shares_of_wall_time(self):
        per = {"op": 2.0, "context": 3.0, "engine": 4.0}
        self.assertEqual(measure.attribution(per, 9.0, 10.0), (0.9, 0.7))

    def test_missing_spans_show(self):
        root_cover, attributed = measure.attribution({"op": 5.0}, 5.0, 20.0)
        self.assertEqual((root_cover, attributed), (0.25, 0.0))

    def test_rejects_zero_wall(self):
        with self.assertRaises(ValueError):
            measure.attribution({}, 0.0, 0.0)


class Overhead(unittest.TestCase):
    def test_ratio(self):
        self.assertAlmostEqual(measure.overhead_frac(2.0, 2.0), 0.0)
        self.assertAlmostEqual(measure.overhead_frac(2.2, 2.0), 0.1)
        self.assertAlmostEqual(measure.overhead_frac(1.0, 1.25), -0.2)

    def test_rejects_zero(self):
        with self.assertRaises(ValueError):
            measure.overhead_frac(0.0, 1.0)


def _synthetic_layer_metrics(name: str):
    cls = workloads.WORKLOADS[name]
    wl = cls.__new__(cls)
    tr = Tracer()
    ops = [workloads.Op(0, "api"), workloads.Op(1, "point")]
    for _ in ops:
        with tr.op_span("x"), tr.span("engine.action"):
            tr.count("engine.jobs", 1)
            tr.count("engine.executor_run_ms", 2.0)
    extra = {
        "session_start_s": 1.0, "warmup_s": 2.0, "untraced_ops_s": 3.0,
        "traced_ops_s": 2.5, "overhead_frac": 0.2, "failed_frac": 0.0,
    }
    return run._layer_metrics(wl, ops, [0.1, 0.2], tr, Tracer(), extra)


class Contract(unittest.TestCase):
    def test_metric_names(self):
        for m in BENCH["end_to_end"] + BENCH["per_layer"]:
            self.assertRegex(m["name"], measure.METRIC_NAME)
            self.assertTrue(measure.METRIC_NAME.fullmatch(m["name"]), m["name"])

    def test_every_workload_reports_every_end_to_end_metric(self):
        want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
        self.assertEqual(len(want), 6)
        for w in BENCH["workloads"]:
            self.assertIn(w["name"], workloads.WORKLOADS)
        got = run.end_to_end(1.0, 2.0, [0.1] * 40, 40, 0, 3e9)
        self.assertEqual({k: u for k, (_, u) in got.items()}, want)
        self.assertTrue(all(v > 0 for v, _ in got.values()))

    def test_every_workload_reports_every_per_layer_metric(self):
        want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
        for w in BENCH["workloads"]:
            got = _synthetic_layer_metrics(w["name"])
            self.assertEqual({k: u for k, (_, u) in got.items()}, want, w["name"])


def _full_run(workload: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    if out.returncode != 0:
        raise AssertionError(out.stderr[-2000:])
    return json.loads(out.stdout.strip().splitlines()[-1])


_CHILD = r"""
import json, os, sys
sys.path.insert(0, sys.argv[1])
import run
work = sys.argv[2]
run._environment(work)
import measure, workloads
spark = run._start_session(work)
try:
    wl = workloads.Dashboard(spark, work, 3, measure.Tracer(enabled=False))
    wl.setup(0)
    ops = [workloads.Op(i, k, wl._params(__import__("random").Random(i), k), cold=k == "api")
           for i, k in enumerate(workloads.DASH_KINDS)]
    results = [workloads.safe_run(wl, op) for op in ops]
    bad = wl.check_timed(ops, results)
    print(json.dumps({"cwd": os.getcwd(), "bad": [why for _, why in bad],
                      "rows": [r.n_rows for r in results]}))
finally:
    run._shutdown(spark)
"""


class Spark(unittest.TestCase):
    def test_dashboard_op_from_another_directory(self):
        base = os.path.join(ROOT, ".perfbench_work")
        os.makedirs(base, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=base) as cwd:
            env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
            out = subprocess.run(
                [sys.executable, "-c", _CHILD, HERE, os.path.join(cwd, "work")],
                cwd=cwd, env=env, capture_output=True, text=True, timeout=300,
            )
            self.assertEqual(out.returncode, 0, out.stderr[-2000:])
            res = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertNotEqual(os.path.realpath(res["cwd"]), os.path.realpath(ROOT))
        self.assertEqual(res["bad"], [])
        self.assertGreater(res["rows"][workloads.DASH_KINDS.index("api")], 0)

    @unittest.skipUnless(os.environ.get("PERFBENCH_FULL"), "set PERFBENCH_FULL=1")
    def test_every_workload_prints_six_metrics(self):
        want = {m["name"] for m in BENCH["end_to_end"]}
        for w in BENCH["workloads"]:
            res = _full_run(w["name"])
            self.assertEqual(set(res["metrics"]), want, w["name"])
            self.assertTrue(res["correct"], w["name"])


if __name__ == "__main__":
    unittest.main()
