"""Self-tests for the benchmark's own arithmetic (stats.py).

Run with `python3 perfbench/run.py --self-test` (which also runs the
JVM-side fingerprint test) or `python3 -m unittest discover perfbench/tests`.
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import stats  # noqa: E402


def span(id, parent, kind, start, end, **attrs):
    return {"id": id, "parent": parent, "name": kind, "start_us": start, "end_us": end,
            "attrs": attrs}


class PercentileRule(unittest.TestCase):
    """The only percentile reported is the median over a run's passes."""

    def test_run_s_is_the_median_pass(self):
        raw = {"setup_s": 1.0,
               "passes": [{"pass": i, "traced": False} for i in range(4)],
               "ops": [{"pass": i, "seconds": s, "error": None}
                       for i, s in enumerate([9.0, 2.0, 4.0, 3.0])]}
        self.assertEqual(stats.end_to_end(raw)["run_s"], 3.5)
        raw["passes"].pop()
        self.assertEqual(stats.end_to_end(raw)["run_s"], 4.0)

    def test_no_untraced_pass_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.end_to_end({"setup_s": 1.0, "passes": [], "ops": []})


class SelfTime(unittest.TestCase):
    def test_children_subtracted_once_where_they_overlap(self):
        parent = span(1, -1, "construct", 0, 100)
        kids = [span(2, 1, "job", 10, 30), span(3, 1, "job", 20, 40), span(4, 1, "job", 60, 70)]
        self.assertEqual(stats.self_time(parent, kids), 100 - 30 - 10)

    def test_children_clipped_to_parent(self):
        parent = span(1, -1, "execute", 100, 200)
        kids = [span(2, 1, "job", 90, 110), span(3, 1, "job", 190, 250)]
        self.assertEqual(stats.self_time(parent, kids), 100 - 10 - 10)

    def test_no_children(self):
        self.assertEqual(stats.self_time(span(1, -1, "query", 5, 9), []), 4)

    def test_covered_union(self):
        self.assertEqual(stats.covered([(0, 5), (3, 8), (10, 12)], 0, 100), 10)
        self.assertEqual(stats.covered([], 0, 100), 0)


class JobAttribution(unittest.TestCase):
    def trace(self):
        return [
            span(1, -1, "pass", 0, 10_000, **{"pass": 1}),
            span(2, 1, "query", 0, 10_000, name="q"),
            span(3, 2, "construct", 0, 4_000),
            span(4, 2, "execute", 4_000, 10_000),
            # table resolution: parquet schema inference in Tables.scala
            span(10, -1, "job", 100, 900, call_site="parquet at Tables.scala:19"),
            # an eager job in an operator builder during construction
            span(11, -1, "job", 1_000, 2_000, call_site="count at ThreatOps.scala:120"),
            # the timed write's job, with one stage
            span(12, -1, "job", 5_000, 9_000, call_site="save at Workloads.scala:44"),
            span(13, 12, "stage", 5_000, 9_000, tasks=4, cpu_ns=8_000_000_000),
            span(14, -1, "plan.planning", 4_100, 4_600, cache_scan=True),
        ]

    def test_jobs_parented_by_time(self):
        by_id = {s["id"]: s for s in stats.assign_parents(self.trace())}
        self.assertEqual(by_id[10]["parent"], 3)
        self.assertEqual(by_id[11]["parent"], 3)
        self.assertEqual(by_id[12]["parent"], 4)
        self.assertEqual(by_id[13]["parent"], 12)
        self.assertEqual(by_id[14]["parent"], 4)

    def test_millisecond_listener_clock_slack(self):
        # a job reported 0.5 ms before its construct span opened still
        # belongs to it, not to the enclosing query
        t = [span(1, -1, "pass", 0, 10_000, **{"pass": 1}),
             span(2, 1, "query", 0, 10_000, name="q"),
             span(3, 2, "construct", 2_000, 4_000),
             span(4, 2, "execute", 4_000, 10_000),
             span(5, -1, "job", 1_500, 1_900, call_site="parquet at Tables.scala:19"),
             span(6, -1, "job", 500, 900, call_site="parquet at Tables.scala:19")]
        by_id = {s["id"]: s for s in stats.assign_parents(t)}
        self.assertEqual(by_id[5]["parent"], 3)
        self.assertEqual(by_id[6]["parent"], 2)

    def test_call_site_attribution(self):
        self.assertTrue(stats.is_table_resolution(
            {"attrs": {"call_site": "parquet at Tables.scala:19"}}))
        self.assertFalse(stats.is_table_resolution(
            {"attrs": {"call_site": "parquet at MyTables.scala:19"}}))
        self.assertFalse(stats.is_table_resolution(
            {"attrs": {"call_site": "count at ThreatOps.scala:120"}}))
        self.assertFalse(stats.is_table_resolution({"attrs": {}}))

    def test_pass_layers(self):
        spans = stats.assign_parents(self.trace())
        m = stats.pass_layers(stats.descendants(spans, 1), cores=4)
        self.assertEqual(m["tables.resolve_jobs"], 1)
        self.assertAlmostEqual(m["tables.resolve_s"], 800e-6)
        self.assertEqual(m["operators.eager_jobs"], 1)
        self.assertAlmostEqual(m["operators.construct_s"], 4_000e-6)
        self.assertAlmostEqual(m["operators.construct_self_s"], (4_000 - 800 - 1_000) * 1e-6)
        self.assertEqual(m["exec.jobs"], 1)
        self.assertEqual(m["exec.stages"], 1)
        self.assertEqual(m["exec.tasks"], 4)
        self.assertAlmostEqual(m["exec.util"], 8.0 / (6_000e-6 * 4))
        self.assertAlmostEqual(m["planner.planning_s"], 500e-6)
        self.assertEqual(m["memo.cache_scan_share"], 1.0)


class EndToEnd(unittest.TestCase):
    def test_failed_ops_are_never_timed(self):
        raw = {"setup_s": 3.0,
               "passes": [{"pass": 0, "traced": False, "run_s": 4.1},
                          {"pass": 1, "traced": True, "run_s": 50.0},
                          {"pass": 2, "traced": False, "run_s": 6.0}],
               "ops": [{"pass": 0, "seconds": 1.0, "error": None},
                       {"pass": 0, "seconds": 0.1, "error": "fingerprint mismatch"},
                       {"pass": 0, "seconds": 3.0, "error": None},
                       {"pass": 1, "seconds": 50.0, "error": None},
                       {"pass": 2, "seconds": 6.0, "error": None}]}
        m = stats.end_to_end(raw)
        self.assertEqual(m, {"setup_s": 3.0, "run_s": 5.0})


if __name__ == "__main__":
    unittest.main()
