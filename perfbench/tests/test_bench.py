"""Tests for the benchmark's own pure parts.

    python3 -m unittest discover -s perfbench/tests

The Scala parts (scene generator, catalogue model) are checked by
`perfbench.SelfTest`, which the last test builds and runs.
"""
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import compare  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_percentile_interpolates(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(metrics.percentile(xs, 90), 90.1)
        self.assertEqual(metrics.percentile([7], 90), 7)

    def test_tail_needs_ten_samples_beyond_it(self):
        self.assertIsNone(metrics.reportable_tail(99))
        self.assertEqual(metrics.reportable_tail(100), 90)
        self.assertEqual(metrics.reportable_tail(999), 90)
        self.assertEqual(metrics.reportable_tail(1000), 99)

    def test_end_to_end_reports_p90_only_with_enough_reads(self):
        def run(n_reads):
            recs = [{"type": "meta", "jvm_start": 0, "setup_end": 2_000_000,
                     "peak_rss_kb": 1024},
                    {"type": "unit", "unit": 0, "kind": "pass", "traced": False,
                     "start": 0, "end": n_reads * 1000}]
            recs += [{"type": "op", "op": i, "unit": 0, "kind": f"q{i % 5}", "cls": "read",
                      "traced": False, "start": i * 1000, "end": i * 1000 + 1000,
                      "rows": 1, "ok": True, "err": "", "staged_bytes": -1}
                     for i in range(n_reads)]
            return metrics.end_to_end(metrics.Run(recs), "report_mix")
        m, samples = run(99)
        self.assertNotIn("read_p90_ms", m)
        self.assertEqual(samples["reads"], 99)
        m, _ = run(100)
        self.assertEqual(m["read_p90_ms"], (1.0, "ms"))
        self.assertEqual(m["setup_s"], (2.0, "s"))
        self.assertAlmostEqual(m["ops_per_s"][0], 1000.0)

    def test_check_op_after_the_units_is_not_timed(self):
        recs = [{"type": "meta", "jvm_start": 0, "setup_end": 1000, "peak_rss_kb": 1024},
                {"type": "unit", "unit": 0, "kind": "tick", "traced": False,
                 "start": 1000, "end": 5000}]
        recs += [{"type": "op", "op": i, "unit": 0, "kind": f"k{i}", "cls": "read",
                  "traced": False, "start": 1000 * (i + 1), "end": 1000 * (i + 2),
                  "rows": 1, "ok": True, "err": "", "staged_bytes": -1}
                 for i in range(4)]
        before, _ = metrics.end_to_end(metrics.Run(recs), "report_mix")
        # the recorder stamps ops outside a unit with unit -1
        recs.append({"type": "op", "op": 4, "unit": -1, "kind": "final_state",
                     "cls": "check", "traced": False, "start": 5000, "end": 905000,
                     "rows": 1, "ok": True, "err": "", "staged_bytes": -1})
        after, samples = metrics.end_to_end(metrics.Run(recs), "report_mix")
        self.assertEqual(after["op_geomean_ms"], before["op_geomean_ms"])
        self.assertEqual(after["ops_per_s"], before["ops_per_s"])
        self.assertEqual(samples["ops"], 4)


class SpanSelfTime(unittest.TestCase):
    def span(self, i, parent, start, end, layer="x"):
        return {"id": i, "parent": parent, "start": start, "end": end, "layer": layer}

    def test_self_time_subtracts_merged_children(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 30), self.span(3, 1, 20, 40),
                 self.span(4, 1, 90, 120), self.span(5, 2, 12, 14)]
        st = metrics.self_times(spans)
        # children of 1 cover 10..40 and 90..100 (clipped)
        self.assertEqual(st[1], 100 - 30 - 10)
        self.assertEqual(st[2], 20 - 2)
        self.assertEqual(st[5], 2)

    def test_layer_self_times_sum_by_layer(self):
        spans = [self.span(1, 0, 0, 10, "a"), self.span(2, 1, 0, 4, "b"),
                 self.span(3, 0, 20, 30, "b")]
        self.assertEqual(metrics.layer_self_times(spans, lambda s: s["layer"]),
                         {"a": 6, "b": 14})

    def test_call_site_modules(self):
        self.assertEqual(metrics.site_module(
            "graft.operators.ScaleOps$.pagerank(ScaleOps.scala:120)"), "operators")
        self.assertEqual(metrics.site_module("graft.Tables$.load(Tables.scala:27)"), "Tables")
        self.assertEqual(metrics.site_module("perfbench.QueryWorkloads$.run(Q.scala:9)"), "exec")
        self.assertEqual(metrics.site_file(
            "graft.operators.ItemItemCf$.x(ItemItemCf.scala:4)"), "ItemItemCf")

    def test_overhead_compares_like_kinds(self):
        def op(kind, traced, ms):
            return {"kind": kind, "traced": traced, "start": 0, "end": ms}
        timed = [op("a", True, 110), op("a", False, 100), op("b", True, 220),
                 op("b", False, 200), op("c", True, 999)]
        self.assertAlmostEqual(metrics.overhead(timed), 0.1)


class Fingerprint(unittest.TestCase):
    def test_normalisation(self):
        self.assertEqual(oracle.norm(1.23456789), 1.234568)
        self.assertEqual(oracle.norm(float("nan")), "nan")
        self.assertEqual(oracle.norm(b"\x01\xff"), "01ff")
        self.assertEqual(oracle.norm(True), "True")
        self.assertIsNone(oracle.norm(None))
        import datetime
        self.assertEqual(oracle.norm(datetime.date(2024, 1, 2)), "2024-01-02")

    def test_fingerprint_ignores_row_and_column_order(self):
        a = oracle.fingerprint(["x", "y"], [(1, 0.1000000001), (2, None)])
        b = oracle.fingerprint(["y", "x"], [(None, 2), (0.1, 1)])
        self.assertEqual(a, b)
        self.assertEqual(a[0], 2)

    def test_fingerprint_sees_values_and_types(self):
        base = oracle.fingerprint(["x"], [(1,), (2,)])
        self.assertNotEqual(base, oracle.fingerprint(["x"], [(1,), (3,)]))
        self.assertNotEqual(base, oracle.fingerprint(["x"], [(1.0,), (2.0,)]))
        self.assertNotEqual(base, oracle.fingerprint(["z"], [(1,), (2,)]))


class Generator(unittest.TestCase):
    def test_same_seed_same_tables(self):
        a, b = gen.tables(5, 0.001), gen.tables(5, 0.001)
        self.assertEqual(sorted(a), sorted(oracle.TABLES))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)

    def test_other_seed_other_tables(self):
        a, b = gen.tables(5, 0.001), gen.tables(6, 0.001)
        self.assertFalse(a["lineitem"].equals(b["lineitem"]))
        self.assertEqual(a["lineitem"].num_rows, b["lineitem"].num_rows)

    def test_written_files_are_identical(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write(9, 0.001, os.path.join(d, "a"))
            gen.write(9, 0.001, os.path.join(d, "b"))
            for t in oracle.TABLES:
                with open(os.path.join(d, "a", f"{t}.parquet"), "rb") as fa, \
                        open(os.path.join(d, "b", f"{t}.parquet"), "rb") as fb:
                    self.assertEqual(fa.read(), fb.read(), t)


class Verdicts(unittest.TestCase):
    def test_gain_needs_nine_of_ten_and_more_than_the_spread(self):
        parent = [100, 101, 102, 103, 104, 100, 101, 102, 103, 104]
        change = [90, 91, 92, 93, 94, 90, 91, 92, 93, 105]
        v, wins = compare.verdict(parent, change, list(zip(parent, change)), "lower", 0.1)
        self.assertEqual((v, wins), ("gain", 9))
        change[0] = 101
        v, wins = compare.verdict(parent, change, list(zip(parent, change)), "lower", 0.1)
        self.assertEqual((v, wins), ("same", 8))

    def test_regression_and_unresolved(self):
        parent = [100.0] * 10
        v, _ = compare.verdict(parent, [115.0] * 10, list(zip(parent, [115.0] * 10)),
                               "lower", 0.1)
        self.assertEqual(v, "regression")
        noisy = [60, 80, 100, 120, 140, 60, 80, 100, 120, 140]
        v, _ = compare.verdict(noisy, noisy, list(zip(noisy, noisy)), "lower", 0.1)
        self.assertEqual(v, "unresolved")
        v, _ = compare.verdict([10.0] * 4, [9.0] * 4, [], "higher", 0.05)
        self.assertEqual(v, "regression")


class ScalaSelfTest(unittest.TestCase):
    def test_scene_generator_and_catalogue_model(self):
        import build
        try:
            cp = build.build()
        except build.BuildError as e:
            self.skipTest(str(e))
        r = subprocess.run(["java", "-cp", cp, "perfbench.SelfTest"],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        self.assertEqual(r.returncode, 0, r.stdout)


if __name__ == "__main__":
    unittest.main()
