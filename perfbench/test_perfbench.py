#!/usr/bin/env python3
"""Tests of the benchmark itself.

    python3 perfbench/test_perfbench.py

The Python cases cover the metric arithmetic (the tail-percentile rule
and span self times); the last case builds the benchmark and runs
perfbench.SelfTest, which checks that every output check rejects a
corrupted output and that the input generators are stable per seed.
"""
import glob
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_too_few_samples_has_no_tail(self):
        self.assertIsNone(stats.tail(list(range(19))))

    def test_twenty_samples_give_the_median(self):
        p, v, n = stats.tail(list(range(1, 21)))
        self.assertEqual((p, v, n), (50.0, 10, 20))

    def test_hundred_samples_give_p90(self):
        p, v, n = stats.tail(list(range(1, 101)))
        self.assertEqual((p, v, n), (90.0, 90, 100))
        self.assertEqual(sum(1 for x in range(1, 101) if x > v), 10)

    def test_thousand_samples_give_p99(self):
        p, v, _ = stats.tail(list(range(1, 1001)))
        self.assertEqual((p, v), (99.0, 990))

    def test_ties_do_not_count_as_beyond(self):
        # 30 samples, 25 of them equal: no candidate has ten strictly above it
        # except where the value sits below the tie block
        xs = [1] * 5 + [7] * 25
        self.assertIsNone(stats.tail(xs))

    def test_percentile_is_nearest_rank(self):
        self.assertEqual(stats.percentile([5, 1, 3, 2, 4], 50), 3)
        self.assertEqual(stats.percentile([5, 1, 3, 2, 4], 100), 5)


def span(i, parent, start, end, op=0, name="s"):
    return {"id": i, "parent": parent, "start_ns": start, "end_ns": end, "op": op, "name": name}


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 50, 60)]
        self.assertEqual(stats.self_times(spans), {1: 70, 2: 20, 3: 10})

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 50), span(3, 1, 40, 70)]
        self.assertEqual(stats.self_times(spans)[1], 40)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 90, 150)]
        self.assertEqual(stats.self_times(spans)[1], 90)

    def test_self_times_add_up_to_the_root(self):
        spans = [span(1, 0, 0, 1000), span(2, 1, 0, 400), span(3, 2, 100, 300), span(4, 1, 500, 900)]
        selfs = stats.self_times(spans)
        self.assertEqual(sum(selfs.values()), 1000)

    def test_unattributed_is_what_no_top_span_covers(self):
        spans = [span(1, 0, 0, 4_000_000), span(2, 0, 5_000_000, 9_000_000), span(3, 1, 0, 1_000_000)]
        row, = stats.op_accounting(spans, {0: 10.0})
        self.assertAlmostEqual(row["unattributed_ms"], 2.0)
        self.assertAlmostEqual(row["self_ms"], 8.0)

    def test_concurrent_spans_do_not_count_toward_the_blocking_steps(self):
        spans = [span(1, 0, 0, 10_000_000),
                 dict(span(2, 1, 0, 9_000_000), blocking=False),
                 dict(span(3, 1, 1_000_000, 8_000_000), blocking=False)]
        row, = stats.op_accounting(spans, {0: 10.0})
        self.assertAlmostEqual(row["self_ms"], 10.0)
        self.assertAlmostEqual(row["unattributed_ms"], 0.0)


class PerLayer(unittest.TestCase):
    @staticmethod
    def raw(spans, ms=(10.0,)):
        return {"ops": [{"name": "op", "ms": m, "ok": True} for m in ms], "gauges": {},
                "trace_data": {"spans": spans, "progress": [], "query_work": []}}

    def test_every_recorded_span_moves_its_metric(self):
        # each span the Scala side records under a literal name, plus the
        # head-call spans, must show up in the per-layer metric named after it
        src = ""
        for f in glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True):
            with open(f) as fh:
                src += fh.read()
        names = set(re.findall(r'tr(?:\.ambientSpan)?\("([a-z_.]+)"\)', src)) | {"ops.build", "ops.exec"}
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
            metrics = [m["name"] for m in json.load(f)["per_layer"]]
        checked = 0
        for name in sorted(names):
            if f"{name}_ms" in metrics:
                vals = stats.per_layer(self.raw([span(1, 0, 0, 2_000_000, name=name)]), metrics)
                self.assertGreater(vals[f"{name}_ms"], 0, name)
                checked += 1
        self.assertGreaterEqual(checked, 15)

    def test_op_mean_does_not_depend_on_op_order(self):
        ms = [80.0, 1500.0, 300.0, 120.0, 700.0, 90.0]
        a = dict(self.raw([], ms), setup_s=1.0, peak_rss_mb=1.0, cpu_s=1.0, loop_s=3.0, workload="x")
        b = dict(a, ops=list(reversed(a["ops"])))
        self.assertEqual(stats.end_to_end(a)[0]["op_mean_ms"], stats.end_to_end(b)[0]["op_mean_ms"])
        self.assertAlmostEqual(stats.end_to_end(a)[0]["op_mean_ms"][0], sum(ms) / len(ms))


class ScalaSelfTest(unittest.TestCase):
    def test_checks_reject_corruption_and_generators_are_stable(self):
        cp = build.ensure_built()
        with tempfile.TemporaryDirectory(dir=os.path.dirname(build.OUT)) as work:
            os.makedirs(os.path.join(work, "tmp"))
            r = subprocess.run(["java"] + build.jvm_options(work) + ["-cp", cp, "perfbench.SelfTest"],
                               cwd=work, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                               timeout=300)
        lines = [l for l in r.stdout.splitlines() if l.startswith(("ok", "FAIL", "selftest"))]
        print("\n".join(lines))
        self.assertEqual(r.returncode, 0, r.stdout[-3000:])
        self.assertFalse(any(l.startswith("FAIL") for l in lines))


if __name__ == "__main__":
    unittest.main()
