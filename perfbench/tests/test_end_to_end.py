"""An injected failing query, run through the whole benchmark.

Needs what run.py needs (java, the Spark jars, the sf0.1 fixtures) and
takes about a minute:

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402


class InjectedFailure(unittest.TestCase):

    def test_failing_query_is_counted_not_dropped(self):
        workloads = {"injected": {"input": "fixtures", "scale": "sf0.1",
                                  "queries": ["q56_lsh_buckets", "q_injected_failure"]}}
        context, e2e, _, attempted, failed, report = run.run("injected", 1, 1, False, workloads)
        per_query = attempted // 2
        self.assertGreaterEqual(per_query, 1 + run.SETTLE_PASSES + 10)
        self.assertEqual(failed, per_query)
        self.assertEqual(e2e["error_rate"], (failed / attempted, "ratio"))
        self.assertEqual(report["failing_queries"], ["q_injected_failure"])
        self.assertEqual(report["mismatched"], {"q_injected_failure": "no output written"})
        self.assertIn("unknown query q_injected_failure", report["errors"][0])


if __name__ == "__main__":
    unittest.main()
