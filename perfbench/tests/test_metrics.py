"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import metrics  # noqa: E402


def execution(pass_, name, total, ok=True, traced=False):
    return {"pass": pass_, "name": name, "total_s": total, "build_s": 0.0,
            "ok": ok, "traced": traced, "error": None if ok else "boom"}


class TailPercentile(unittest.TestCase):

    def test_reported_tail_has_ten_samples_beyond_it(self):
        for pct in (50, 66, metrics.TAIL_PCT, 75, 80, 90, 95, 99):
            n = metrics.tail_samples_needed(pct)
            xs = list(range(n))
            value = metrics.tail(xs, pct)
            self.assertGreaterEqual(sum(x > value for x in xs), metrics.TAIL_BEYOND, pct)
            # one sample fewer would leave fewer than ten beyond
            with self.assertRaises(ValueError):
                metrics.tail(xs[:-1], pct)

    def test_nearest_rank(self):
        xs = [float(i) for i in range(1, 41)]  # 1..40
        self.assertEqual(metrics.tail(xs, 75), 30.0)
        self.assertEqual(metrics.tail(list(reversed(xs)), 75), 30.0)


class SelfTime(unittest.TestCase):

    def span(self, id_, parent, start, end, name="job"):
        return {"id": id_, "parent": parent, "name": name, "qid": "w/1/q",
                "start_us": start, "end_us": end}

    def test_children_subtracted_once_where_they_overlap(self):
        spans = [self.span(0, -1, 0, 100, "query"),
                 self.span(1, 0, 10, 40), self.span(2, 0, 30, 60),  # overlap 30..40
                 self.span(3, 0, 80, 90)]
        st = metrics.self_times(spans)
        self.assertEqual(st[0], 100 - (60 - 10) - 10)
        self.assertEqual(st[1], 30)

    def test_children_clipped_to_parent(self):
        spans = [self.span(0, -1, 100, 200, "execute"), self.span(1, 0, 50, 150),
                 self.span(2, 0, 190, 400)]
        self.assertEqual(metrics.self_times(spans)[0], 100 - 50 - 10)

    def test_nested_levels(self):
        spans = [self.span(0, -1, 0, 100, "query"), self.span(1, 0, 0, 60, "build"),
                 self.span(2, 1, 10, 50, "job"), self.span(3, 2, 20, 30, "stage")]
        st = metrics.self_times(spans)
        self.assertEqual((st[0], st[1], st[2], st[3]), (40, 20, 30, 10))
        self.assertEqual(sum(st.values()), 100)


class ErrorRate(unittest.TestCase):

    def test_injected_failing_query_is_counted_not_dropped(self):
        ex = ([execution(0, "good", 1.0), execution(0, "bad", 0.1, ok=False)]
              + [execution(p, n, 1.0, ok=(n == "good")) for p in (1, 2, 3, 4, 5)
                 for n in ("good", "bad")] + [execution(6, "good", 1.0)] * 25)
        attempted, failed, names = metrics.errors(ex, {"good": None, "bad": "no output written"})
        self.assertEqual((attempted, failed, names), (37, 6, ["bad"]))
        e2e = metrics.end_to_end(ex, 1.0, 1024, {"good": None})
        self.assertEqual(e2e["error_rate"], (6 / 37, "ratio"))

    def test_wrong_output_counts_once_per_cold_execution(self):
        ex = [execution(0, "q", 1.0)] + [execution(p, "q", 1.0) for p in range(1, 21)]
        self.assertEqual(metrics.errors(ex, {"q": "rows 1 vs oracle 2"})[1], 1)
        self.assertEqual(metrics.errors(ex, {"q": None})[1], 0)


class Aggregation(unittest.TestCase):

    def test_wall_is_median_pass_sum_and_cold_excluded(self):
        ex = [execution(0, "a", 9.0), execution(0, "b", 9.0)]
        for p, (a, b) in enumerate([(1, 2), (2, 2), (1, 1)] * 7, start=1):
            ex += [execution(p, "a", a), execution(p, "b", b)]
        e2e = metrics.end_to_end(ex, 2.0, 2048, {})
        self.assertEqual(e2e["wall_s"][0], 3)
        self.assertEqual(e2e["cold_wall_s"][0], 18.0)
        self.assertEqual(e2e["setup_s"][0], 2.0)
        self.assertEqual(e2e["peak_rss_mb"][0], 2.0)

    def test_per_layer_sums_pass_and_takes_peaks(self):
        ex = [execution(1, "a", 1.0), execution(1, "b", 1.0),
              execution(2, "a", 1.5, traced=True), execution(2, "b", 1.5, traced=True)]
        counters = {"w/2/a": {"exec.jobs": 2, "exec.stages": 3, "exec.stages_skipped": 1,
                              "cache.peak_bytes": 10},
                    "w/2/b": {"exec.jobs": 1, "exec.stages": 1, "cache.peak_bytes": 7,
                              "plans.graft_rule_runs": 4, "plans.graft_rule_effective_runs": 1}}
        out = metrics.per_layer(ex, counters, [], "w")
        self.assertEqual(out["exec.jobs"], 3)
        self.assertEqual(out["cache.peak_bytes"], 10)
        self.assertEqual(out["exec.stage_reuse_ratio"], 1 / 5)
        self.assertEqual(out["plans.graft_rule_effective_ratio"], 0.25)
        self.assertAlmostEqual(out["trace.overhead_s"], 1.0)
        self.assertEqual(set(out) - {f"self.{g}_ms" for g in metrics.SELF_GROUPS.values()},
                         set(metrics.LAYER_COUNTERS)
                         | {"plans.graft_rule_effective_ratio", "exec.stage_reuse_ratio",
                            "trace.overhead_s"})


if __name__ == "__main__":
    unittest.main()
