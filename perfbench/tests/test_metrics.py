"""Tests for the benchmark's own math. Run: python3 -m unittest discover perfbench/tests"""

import math
import os
import random
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics  # noqa: E402


class Percentile(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 0.5), 50)
        self.assertEqual(metrics.percentile(xs, 0.9), 90)
        self.assertEqual(metrics.percentile(list(reversed(xs)), 0.5), 50)
        self.assertEqual(metrics.percentile([7.0], 0.5), 7.0)
        self.assertEqual(metrics.percentile([], 0.5), 0.0)


class EndToEnd(unittest.TestCase):
    def raw(self, workload, samples, **values):
        return {"workload": workload, "samples": samples, "counters": {},
                "values": {"setup_s": 30.5, "mem_peak_mb": 190.0, **values}}

    def test_ingest_completion_is_the_median_catch_up_round_after_the_first(self):
        raw = self.raw("ingest", {"catchup_round_s": [4.5, 3.2, 3.0, 3.9, 3.4],
                                  "streaming.live_freshness_ms": [1000.0, 2000.0, 6000.0],
                                  "serving.latency_ms": [10.0, 600.0]})
        e2e = metrics.end_to_end(raw)
        self.assertEqual(list(e2e), metrics.E2E)
        self.assertEqual(e2e["completion_s"], 3.2)
        layer = metrics.per_layer(raw, [])
        self.assertAlmostEqual(layer["streaming.live_freshness_mean_ms"], 3000.0)
        self.assertAlmostEqual(layer["serving.latency_mean_ms"], 305.0)

    def test_a_failed_request_misses_every_limit(self):
        raw = self.raw("ingest", {"catchup_round_s": [3.0], "serving.latency_ms": [10.0, math.inf]})
        layer = metrics.per_layer(raw, [])
        self.assertEqual(metrics.finite(layer["serving.latency_mean_ms"]), 1e9)

    def test_suite_completion_sums_each_querys_median_pass_after_the_first(self):
        raw = self.raw("suite", {"query_ms.operators.text:a": [90.0, 30.0, 10.0, 20.0],
                                 "query_ms.operators.stats:b": [95.0, 50.0, 70.0, 60.0]})
        self.assertAlmostEqual(metrics.end_to_end(raw)["completion_s"], 0.08)

    def test_a_single_repetition_is_counted(self):
        self.assertEqual(metrics.steady([4.0]), [4.0])
        self.assertEqual(metrics.steady([4.0, 3.0]), [3.0])


class Geomean(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(metrics.geomean([1, 100]), 10.0)
        self.assertAlmostEqual(metrics.geomean([2, 8]), 4.0)
        self.assertAlmostEqual(metrics.geomean([5.0]), 5.0)
        self.assertEqual(metrics.geomean([]), 0.0)

    def test_scale_and_order(self):
        xs = [random.Random(3).uniform(0.1, 50) for _ in range(40)]
        self.assertAlmostEqual(metrics.geomean([3 * x for x in xs]), 3 * metrics.geomean(xs))
        self.assertAlmostEqual(metrics.geomean(sorted(xs)), metrics.geomean(xs))
        self.assertLessEqual(metrics.geomean(xs), sum(xs) / len(xs))


def span(i, parent, start, end, name="serving.x"):
    return {"trace": "t", "id": i, "parent": parent, "name": name, "start_ns": start, "end_ns": end}


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(metrics.self_times([span(1, 0, 0, 100)]), {1: 100})

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 60), span(4, 1, 80, 90)]
        st = metrics.self_times(spans)
        # children cover [10, 60] and [80, 90]: 60 of 100
        self.assertEqual(st[1], 40)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 30)

    def test_nested_and_clipped_children(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 20, 50), span(3, 1, 25, 35),
                 span(4, 1, 90, 130), span(5, 2, 30, 40)]
        st = metrics.self_times(spans)
        # children of 1 cover [20, 50] and [90, 100] (clipped): 40
        self.assertEqual(st[1], 60)
        self.assertEqual(st[2], 20)

    def test_layer_sums(self):
        spans = [span(1, 0, 0, 100, "streaming.batch"), span(2, 1, 10, 70, "streaming.process"),
                 span(3, 0, 0, 50, "sources.next_range")]
        out = metrics.layer_self_s(spans)
        self.assertAlmostEqual(out["streaming"], 100e-9)
        self.assertAlmostEqual(out["sources"], 50e-9)
        self.assertEqual(out["plugs"], 0.0)


class FamilySums(unittest.TestCase):
    def counters(self):
        rng = random.Random(7)
        c = {}
        for fam in metrics.FAMILIES:
            for q in range(3):
                c[f"q:{fam}:{fam.split('.')[-1]}_{q}"] = {
                    "jobs": rng.randint(0, 9), "tasks": rng.randint(0, 90),
                    "task_ms": rng.randint(0, 9000), "shuffle_write_bytes": rng.randint(0, 10**7),
                    "spill_bytes": 0, "gc_ms": rng.randint(0, 99)}
        return c

    def test_families_sum_to_core_totals(self):
        c = self.counters()
        walls = {t[2:]: 10.0 * i for i, t in enumerate(c)}
        fams = metrics.family_totals(c, walls)
        core = metrics.core_totals(c, {})
        self.assertEqual(sum(f["jobs"] for f in fams.values()), core["core.jobs"])
        self.assertEqual(sum(f["tasks"] for f in fams.values()), core["core.tasks"])
        self.assertAlmostEqual(sum(f["task_s"] for f in fams.values()), core["core.task_s"])
        self.assertAlmostEqual(sum(f["wall_s"] for f in fams.values()), sum(walls.values()) / 1000)

    def test_per_layer_names_are_unique_and_cover_families(self):
        names = metrics.per_layer_names()
        self.assertEqual(len(names), len(set(names)))
        for fam in metrics.FAMILIES:
            for f in metrics.FAMILY_FIELDS:
                self.assertIn(f"{fam}.{f}", names)


if __name__ == "__main__":
    unittest.main()
