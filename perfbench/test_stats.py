"""Tests of the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import stats


class TailTest(unittest.TestCase):
    def assertTail(self, values, pct, value, above):
        got = stats.tail(values)
        self.assertEqual(got[0], pct)
        self.assertAlmostEqual(got[1], value, places=3)
        self.assertEqual(got[2], above)

    def test_highest_percentile_with_ten_samples_above(self):
        self.assertTail(list(range(1, 101)), 90.0, 90.5, 10)
        self.assertTail(list(range(1, 41)), 75.0, 30.5, 10)

    def test_one_sample_short_drops_a_rung(self):
        # p75 of 39 samples has nearest rank 30, with only 9 above it
        self.assertTail(list(range(1, 40)), 50.0, 20.0, 19)

    def test_too_few_samples_give_the_median(self):
        self.assertTail([3.0, 1.0, 2.0, 5.0, 4.0], 50.0, 3.0, 2)

    def test_order_of_samples_does_not_matter(self):
        values = [5.0, 1.0, 4.0, 2.0, 3.0] * 8
        self.assertEqual(stats.tail(values), stats.tail(sorted(values)))

    def test_one_outlier_at_a_cluster_edge_barely_moves_it(self):
        # 30 fast and 10 slow samples: p75 sits on the edge of the fast
        # cluster, where one slow fast-key sample would move a single
        # order statistic by half the gap
        base = [1.0] * 30 + [2.0] * 10
        bumped = [1.0] * 29 + [1.5] + [2.0] * 10
        moved = stats.tail(bumped)[1] - stats.tail(base)[1]
        self.assertLess(moved, 0.1)


class UnionTest(unittest.TestCase):
    def test_overlapping_and_touching_intervals_merge(self):
        self.assertEqual(stats.union_seconds([(0, 1000), (500, 1500), (3000, 4000)]), 2.5)
        self.assertEqual(stats.union_seconds([(1000, 2000), (0, 1000)]), 2.0)

    def test_nested_interval_counts_once(self):
        self.assertEqual(stats.union_seconds([(0, 4000), (1000, 2000)]), 4.0)

    def test_clipped_to_the_span(self):
        got = stats.union_seconds([(0, 1000), (500, 1500), (3000, 4000)], 200, 3500)
        self.assertAlmostEqual(got, 1.8)
        self.assertEqual(stats.union_seconds([(5000, 6000)], 0, 4000), 0.0)

    def test_driver_gap_is_wall_minus_union(self):
        self.assertAlmostEqual(
            stats.driver_gap(3.0, [(0, 1000), (500, 1500), (3000, 4000)], 0, 4000), 0.5)
        self.assertEqual(stats.driver_gap(1.0, [], 0, 1000), 1.0)
        self.assertEqual(stats.driver_gap(1.0, [(0, 2000)], 0, 2000), 0.0)


class KeyOrderTest(unittest.TestCase):
    KEYS = ["q_a", "q_b", "q_c", "q_d", "q_e", "q_f"]

    def test_same_seed_same_orders(self):
        self.assertEqual(stats.key_orders(self.KEYS, 7, 5),
                         stats.key_orders(list(reversed(self.KEYS)), 7, 5))

    def test_each_pass_is_a_permutation(self):
        for order in stats.key_orders(self.KEYS, 3, 20):
            self.assertEqual(sorted(order), sorted(self.KEYS))

    def test_seeds_and_passes_differ(self):
        a = stats.key_orders(self.KEYS, 1, 10)
        b = stats.key_orders(self.KEYS, 2, 10)
        self.assertNotEqual(a, b)
        self.assertGreater(len({tuple(o) for o in a}), 1)


def span(pass_, key, start, build_end, end):
    return {"pass": pass_, "key": key, "start_ms": start, "build_end_ms": build_end,
            "end_ms": end, "build_s": (build_end - start) / 1000.0,
            "action_s": (end - build_end) / 1000.0}


def stage(ms, start, end, task_ms, **kw):
    e = {"kind": "stage", "ms": ms, "start_ms": start, "end_ms": end,
         "tasks": len(task_ms), "task_ms": task_ms, "shuffle_write": 0,
         "shuffle_read": 0, "spill": 0, "input": 0, "output": 0, "gc_ms": 0,
         "cache_builds": 0, "checkpoint_bytes": 0}
    e.update(kw)
    return e


class LayerTest(unittest.TestCase):
    def test_events_land_in_their_span_and_phase(self):
        spans = [span(0, "q_a", 0, 1000, 3000), span(0, "q_b", 3000, 3100, 4000)]
        index = stats.Spans(spans)
        self.assertEqual(index.at(500)[1], "build")
        self.assertEqual(index.at(1000)[1], "action")
        self.assertEqual(index.at(3050)[0]["key"], "q_b")
        self.assertEqual(index.at(5000), (None, None))
        self.assertEqual(index.at(-1), (None, None))

    def test_pass_sums_and_ratios(self):
        spans = [span(0, "q_a", 0, 1000, 3000), span(0, "q_b", 3000, 3100, 4000)]
        events = [
            {"kind": "job", "ms": 100}, {"kind": "job", "ms": 1500},
            stage(100, 100, 900, [400, 400], cache_builds=1),
            stage(1500, 1500, 2500, [1000, 200, 200, 200]),
            stage(3200, 3200, 3700, [500]),
            {"kind": "plan", "ms": 3200, "planning_ms": 50, "cache_scans": 3},
            {"kind": "trigger", "ms": 3300, "trigger_ms": 100, "addbatch_ms": 40},
        ]
        keys = stats.key_layers(spans, events)
        a = keys[(0, "q_a")]
        self.assertEqual(a["operators.build_jobs"], 1)
        self.assertEqual(a["spark.jobs"], 2)
        self.assertAlmostEqual(a["spark.stage_busy_s"], 1.8)
        self.assertAlmostEqual(a["spark.driver_gap_s"], 1.2)
        tot = stats.pass_layers(list(keys.values()), cores=4)
        self.assertEqual(tot["spark.stages"], 3)
        self.assertEqual(tot["spark.tasks"], 7)
        self.assertEqual(tot["spark.single_task_stages"], 1)
        self.assertAlmostEqual(tot["spark.task_s"], 2.9)
        self.assertAlmostEqual(tot["spark.core_util"], 2.9 / (2.3 * 4))
        self.assertEqual(tot["spark.skew_max"], 5.0)
        self.assertEqual(tot["engine.cache_hit_ratio"], 0.75)
        self.assertEqual(tot["streaming.triggers"], 1)
        self.assertAlmostEqual(tot["plans.planning_s"], 0.05)


if __name__ == "__main__":
    unittest.main()
