"""Self-tests of the benchmark's generator and statistics:
`python3 benchmark/run.py --self-test`."""
import hashlib
import os
import tempfile
import unittest

import baseline
import gen
import metrics


def _digests(seed, stream=False):
    with tempfile.TemporaryDirectory() as d:
        info = gen.write(seed, d, stream=stream)
        files = sorted(os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs)
        return info, {os.path.relpath(f, d): hashlib.sha256(open(f, "rb").read())
                      .hexdigest() for f in files}


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        self.assertEqual(_digests(7, stream=True)[1], _digests(7, stream=True)[1])

    def test_seeds_differ_in_bytes_not_in_row_counts(self):
        (info1, d1), (info2, d2) = _digests(1, True), _digests(2, True)
        self.assertEqual({k: r for k, (r, _) in info1.items()},
                         {k: r for k, (r, _) in info2.items()})
        for name in ("lineitem", "events", "documents", "embeddings"):
            self.assertNotEqual(d1[f"{name}.parquet"], d2[f"{name}.parquet"])

    def test_corpus_has_exact_copies(self):
        texts = gen.tables(3)["documents"].sort_by("doc_id")["text"].to_pylist()
        self.assertLess(len(set(texts)), len(texts))


class PercentileRuleTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.highest_percentile(19))
        self.assertEqual(metrics.highest_percentile(20), 50)
        self.assertEqual(metrics.highest_percentile(39), 50)
        self.assertEqual(metrics.highest_percentile(40), 75)
        self.assertEqual(metrics.highest_percentile(100), 90)
        self.assertEqual(metrics.highest_percentile(200), 95)
        self.assertEqual(metrics.highest_percentile(1000), 99)

    def test_op_latency_reports_the_highest_percentile_it_can(self):
        def rec(n):
            return {"passes": [{"steps": [{"ops_ms": [float(i) for i in range(n)]}]}]}
        self.assertEqual(metrics.op_latency(rec(30)), {"samples": 30, "p50_ms": 14.5})
        self.assertEqual(metrics.op_latency(rec(40)),
                         {"samples": 40, "p50_ms": 19.5, "p75_ms": 29.75})


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "name": name, "start_ms": start, "end_ms": end}


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        own = metrics.self_times([
            span(0, -1, 0, 100),
            span(1, 0, 10, 40), span(2, 0, 30, 50),  # overlap 30..40
            span(3, 0, 90, 120),                      # runs past its parent
            span(4, 1, 15, 20)])
        self.assertEqual(own[0], 100 - 40 - 10)
        self.assertEqual(own[1], 25)
        self.assertEqual(own[2], 20)
        self.assertEqual(own[3], 30)
        self.assertEqual(own[4], 5)

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(metrics.self_times([span(0, -1, 5.5, 7.0)]), {0: 1.5})


class TracePassTest(unittest.TestCase):
    def test_jobs_land_in_their_tagged_step_and_planning_where_it_started(self):
        spans = [span(0, -1, 0, 100, "run"), span(1, 0, 0, 60, "step:a"),
                 span(2, 1, 0, 20, "call"), span(3, 1, 20, 60, "materialize"),
                 span(4, 0, 60, 100, "step:b"), span(5, 4, 60, 70, "call"),
                 span(6, 4, 70, 100, "materialize")]

        def job(step, tasks):
            return dict({k: 0 for k in metrics.JOB_COUNTERS}, step=step,
                        stages=1, tasks=tasks, task_run_ms=10 * tasks)
        # the untagged job (-1) ran outside every step
        trace = {"spans": spans, "jobs": [job(1, 2), job(4, 3), job(4, 1), job(-1, 5)],
                 "plans": [{"phases": {"optimization": {"start_ms": 21, "end_ms": 26},
                                       "planning": {"start_ms": 26, "end_ms": 30}}}]}
        p = {"start_ms": 0, "stores": {"bytes": 0, "files": 0, "versions": 0},
             "steps": [{"name": "a", "module": "Text", "call_ms": 20, "exec_ms": 40},
                       {"name": "b", "module": "Dedup", "call_ms": 10, "exec_ms": 30}]}
        x = metrics.trace_pass(p, trace)
        self.assertEqual(x["counts"], [("a", "Text", 1, 1, 2), ("b", "Dedup", 2, 2, 4)])
        self.assertEqual(x["sums"]["exec_ms"], (40 - 9) + 30)
        self.assertEqual(x["phase_ms"], {"optimization": 5, "planning": 4})
        self.assertEqual(x["coverage"], 1.0)
        self.assertEqual(metrics.unrepeated([x, x]), [])
        y = dict(x, counts=[("a", "Text", 1, 1, 3), x["counts"][1]])
        self.assertEqual(metrics.unrepeated([x, y]), ["a"])


class StampTest(unittest.TestCase):
    def test_records_from_other_hosts_do_not_compare(self):
        a = {"cpus": 4, "heap": "7g", "calib_st_ms": 640}
        self.assertIsNone(baseline.same_host(a, dict(a, calib_st_ms=690)))
        self.assertIn("calibration", baseline.same_host(a, dict(a, calib_st_ms=720)))
        self.assertIn("cpus", baseline.same_host(a, dict(a, cpus=32)))
        self.assertIn("heap", baseline.same_host(a, dict(a, heap="24g")))


if __name__ == "__main__":
    unittest.main()
