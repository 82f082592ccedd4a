"""Tests of the benchmark's metric arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import random
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import report  # noqa: E402


def span(id_, parent, kind, start, end, **attrs):
    return {"id": id_, "parent": parent, "kind": kind, "name": kind, "client": 0,
            "pass": 0, "start_s": start, "end_s": end, "attrs": attrs}


def record(label, pass_, wall=1.0, error=None, fingerprint="10:1", ref=None):
    return {"label": label, "pass": pass_, "client": 0, "wall_s": wall,
            "error": error, "fingerprint": fingerprint, "ref_fingerprint": ref}


class P90Test(unittest.TestCase):
    def test_ten_samples_lie_beyond_from_a_hundred_samples_on(self):
        self.assertEqual(report.p90(range(100, 0, -1)), (90, 10))
        self.assertEqual(report.p90(range(1, 201)), (180, 20))

    def test_fewer_samples_keep_p90_and_count_what_lies_beyond(self):
        self.assertEqual(report.p90(range(1, 41)), (36, 4))
        self.assertEqual(report.p90([3.0, 1.0, 2.0]), (3.0, 0))

    def test_never_below_the_median(self):
        rnd = random.Random(7)
        for n in range(1, 60):
            xs = [rnd.expovariate(1.0) for _ in range(n)]
            self.assertGreaterEqual(report.p90(xs)[0], statistics.median(xs))


class SelfTimeTest(unittest.TestCase):
    def test_wall_minus_disjoint_children(self):
        parent = span(1, 0, "query", 0.0, 10.0)
        kids = [span(2, 1, "build", 0.0, 3.0), span(3, 1, "exec", 4.0, 9.0)]
        self.assertAlmostEqual(report.self_time(parent, kids), 2.0)

    def test_overlapping_children_count_once(self):
        parent = span(1, 0, "job", 0.0, 10.0)
        kids = [span(2, 1, "stage", 1.0, 6.0), span(3, 1, "stage", 2.0, 8.0),
                span(4, 1, "stage", 9.0, 12.0)]   # clipped to the parent
        self.assertAlmostEqual(report.self_time(parent, kids), 2.0)

    def test_no_children(self):
        self.assertAlmostEqual(report.self_time(span(1, 0, "exec", 2.0, 2.5), []), 0.5)


class FailRatioTest(unittest.TestCase):
    def test_errors_wrong_outputs_and_oracle_rejects_all_count(self):
        recs = [record("a@sf", 0, ref="10:1"), record("a@sf", 1),
                record("a@sf", 2, fingerprint="10:2"),          # wrong rows
                record("b@sf", 0, error="Boom: sink in use"),   # raised
                record("c@sf", 0, ref="10:1"), record("c@sf", 1)]  # oracle rejects c
        bad = report.judge(recs, {"a@sf": None, "c@sf": "x: row0 1 vs 2"})
        self.assertEqual([r["ok"] for r in recs], [True, True, False, False, False, False])
        self.assertEqual(report.fail_ratio(len(recs), len(bad)), 4 / 6)
        self.assertTrue(bad[1]["why"].startswith("Boom"))

    def test_the_timed_reference_output_is_checked_against_its_re_execution(self):
        # the oracle judged the re-execution (10:2); the timed run gave 10:1
        recs = [record("a@sf", 0, fingerprint="10:1", ref="10:2"),
                record("a@sf", 1, fingerprint="10:2")]
        bad = report.judge(recs, {"a@sf": None})
        self.assertEqual([r["ok"] for r in recs], [False, True])
        self.assertIn("10:1", bad[0]["why"])

    def test_a_query_without_any_output_has_no_reference(self):
        recs = [record("a@sf", 0, error="E: x"), record("a@sf", 1)]
        bad = report.judge(recs, {})
        self.assertEqual([b["why"] for b in bad], ["E: x", "no reference output"])

    def test_zero_attempts(self):
        self.assertEqual(report.fail_ratio(0, 0), 0.0)


class EndToEndTest(unittest.TestCase):
    def test_first_pass_is_reported_alone_and_never_folded_in(self):
        passes = [{"pass": 0, "traced": False, "wall_s": 9.0},
                  {"pass": 1, "traced": False, "wall_s": 2.0},
                  {"pass": 2, "traced": False, "wall_s": 3.0},
                  {"pass": 3, "traced": False, "wall_s": 4.0}]
        recs = [dict(record("a@sf", p, wall=w), ok=True)
                for p, w in ((0, 9.0), (1, 2.0), (2, 3.0), (3, 4.0))]
        m, d = report.end_to_end(recs, passes)
        self.assertEqual(m["first_pass_s"], 9.0)
        self.assertEqual(m["wall_s"], 3.0)
        self.assertEqual(d["query_n"], 3)
        self.assertAlmostEqual(m["throughput_qps"], 3 / 9.0)


class PerLayerTest(unittest.TestCase):
    def test_jobs_count_under_their_phase_and_per_query(self):
        spans = [span(1, 0, "pass", 0, 10), span(2, 1, "query", 0, 4),
                 span(3, 2, "build", 0, 1, plan_s=0.1), span(4, 3, "job", 0.2, 0.8),
                 span(5, 2, "exec", 1, 4, codegen_s=0.3, codegen_compiles=2),
                 span(6, 5, "job", 1.5, 3.5), span(7, 6, "stage", 1.5, 3.5, tasks=4),
                 span(8, 1, "query", 4, 6), span(9, 8, "build", 4, 5), span(10, 8, "exec", 5, 6)]
        for s in spans:
            s["pass"] = 2
        # the first pass: one slow query whose build trains an artifact
        spans += [dict(span(11, 0, "pass", -9, -1), **{"pass": 0}),
                  dict(span(12, 11, "query", -9, -2), **{"pass": 0}),
                  dict(span(13, 12, "build", -9, -3), **{"pass": 0}),
                  dict(span(14, 13, "job", -9, -3), **{"pass": 0})]
        passes = [{"pass": 0, "traced": True, "wall_s": 9, "cached_frames": 5,
                   "persisted_mb": 9.0, "host": {"gc_s": 7.0}},
                  {"pass": 1, "traced": False, "wall_s": 8, "cached_frames": 0,
                   "persisted_mb": 0.0, "host": {}},
                  {"pass": 2, "traced": True, "wall_s": 10, "cached_frames": 1,
                   "persisted_mb": 2.0, "host": {"gc_s": 1.0}},
                  {"pass": 3, "traced": False, "wall_s": 6, "cached_frames": 0,
                   "persisted_mb": 0.0, "host": {}}]
        m = report.per_layer(spans, passes)
        self.assertEqual(m["queries.first_build_s"], 6.0)
        self.assertEqual(m["trace.overhead_s"], 3.0)
        self.assertEqual(m["core.cached_frames"], 1)
        self.assertEqual(m["queries.build_jobs"], 0.5)
        self.assertEqual(m["spark.jobs"], 1.0)
        self.assertEqual(m["spark.tasks"], 2.0)
        self.assertEqual(m["queries.build_s"], 1.0)
        self.assertEqual(m["spark.exec_self_s"], (1.0 + 1.0) / 2)
        self.assertEqual(m["spark.codegen_compiles"], 1.0)
        self.assertEqual(m["jvm.gc_s"], 0.5)
        self.assertEqual(m["trace.coverage"], 1.0)
        self.assertEqual(set(m), set(report.LAYER_UNITS))

    def test_overhead_cancels_the_speed_up_across_passes(self):
        # passes get 0.5 s faster each; tracing adds 0.2 s
        passes = [{"pass": p, "traced": p % 2 == 0, "cached_frames": 0, "persisted_mb": 0.0,
                   "host": {}, "wall_s": 6.0 - 0.5 * p + (0.2 if p % 2 == 0 else 0.0)}
                  for p in range(8)]
        m = report.per_layer([], passes)
        self.assertAlmostEqual(m["trace.overhead_s"], 0.2)


if __name__ == "__main__":
    unittest.main()
