"""Unit tests for the benchmark's own logic (no JVM needed):

    python3 -m unittest discover -s perfbench/tests
"""
import os
import random
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import lakehouse  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail_percentile(10_000), 99.9)
        self.assertEqual(stats.tail_percentile(1_000), 99.0)
        self.assertEqual(stats.tail_percentile(999), 90.0)   # p99 has only 9 beyond
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(99), 75.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(39), 50.0)
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertIsNone(stats.tail_percentile(19))

    def test_summary_states_the_count(self):
        s = stats.summarize(list(range(1, 101)))
        self.assertEqual((s["n"], s["tail_p"], s["beyond_tail"]), (100, 90.0, 10))
        self.assertEqual(s["tail"], 90)  # nearest rank: ten samples lie above it
        self.assertEqual(s["p50"], 50.5)

    def test_nearest_rank(self):
        self.assertEqual(stats.percentile([5, 1, 3], 50), 3)
        self.assertEqual(stats.percentile([1, 2, 3, 4], 75), 3)
        self.assertEqual(stats.percentile([7], 99), 7)


class StageUnion(unittest.TestCase):
    def test_overlaps_and_gaps(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_length([(0, 10), (0, 10)]), 10)
        self.assertEqual(stats.union_length([(0, 10), (10, 20)]), 20)  # touching
        self.assertEqual(stats.union_length([]), 0)

    def test_nested_and_unsorted(self):
        self.assertEqual(stats.union_length([(20, 30), (0, 100), (40, 50)]), 100)

    def test_clipped_to_the_op(self):
        self.assertEqual(stats.union_length([(-5, 5), (8, 20)], 0, 10), 7)
        self.assertEqual(stats.union_length([(50, 60)], 0, 10), 0)

    def test_gap_is_wall_minus_union(self):
        # a 100 ms op whose two overlapping stages cover 30..70
        self.assertEqual(stats.gap(0, 100, [(30, 60), (40, 70)]), 60)
        self.assertEqual(stats.gap(0, 100, []), 100)

    def test_against_a_brute_force_count(self):
        rng = random.Random(7)
        for _ in range(200):
            ivs = [(a, a + rng.randrange(0, 20)) for a in
                   (rng.randrange(0, 100) for _ in range(rng.randrange(0, 8)))]
            covered = {t for a, b in ivs for t in range(a, b)}
            self.assertEqual(stats.union_length(ivs), len(covered))


class EmitAttribution(unittest.TestCase):
    def test_first_batch_whose_total_exceeds_the_index(self):
        emits = [(100.0, 3), (200.0, 7), (300.0, 10)]
        self.assertEqual(stats.emit_times(0, 10, emits),
                         [100.0] * 3 + [200.0] * 4 + [300.0] * 3)

    def test_offset_by_the_events_before_the_phase(self):
        # 4 warm-up events were folded before the phase starts
        emits = [(50.0, 4), (120.0, 6), (130.0, 9)]
        self.assertEqual(stats.emit_times(4, 5, emits), [120.0, 120.0, 130.0, 130.0, 130.0])

    def test_empty_batches_and_unemitted_events(self):
        emits = [(10.0, 2), (20.0, 2), (30.0, 3)]
        self.assertEqual(stats.emit_times(0, 5, emits), [10.0, 10.0, 30.0, None, None])


class SelfTime(unittest.TestCase):
    def test_child_cover_is_subtracted(self):
        spans = [
            {"id": 0, "layer": "driver", "parent": -1, "start_ms": 0, "end_ms": 100},
            {"id": 1, "layer": "exec", "parent": 0, "start_ms": 10, "end_ms": 50},
            {"id": 2, "layer": "exec", "parent": 0, "start_ms": 40, "end_ms": 70},
            {"id": 3, "layer": "exec", "parent": 1, "start_ms": 20, "end_ms": 30},
        ]
        self.assertEqual(stats.self_times(spans), {"driver": 40, "exec": 30 + 30 + 10})


class LakehouseModel(unittest.TestCase):
    BASE = {k: (k % 7, 100 * k, "FOP"[k % 3]) for k in range(50)}

    def test_commits_and_reads(self):
        m = lakehouse.Model(self.BASE)
        self.assertEqual(m.point(3), "3,300,F")
        m.commit("insert", rows=[(50, 1, 5, "O")])
        m.commit("merge", rows=[(3, 3, 7, "F"), (51, 2, 9, "P")])
        m.commit("delete", lo=10, hi=19)
        self.assertEqual(m.point(3), "3,7,F")
        self.assertEqual(m.point(12), "")
        self.assertEqual(m.next_key, 52)
        self.assertEqual(m.range(8, 21), f"4,{800 + 900 + 2000 + 2100}")
        self.assertEqual(m.range(100, 200), "0,0")

    def test_version_reads_see_history(self):
        m = lakehouse.Model(self.BASE)
        total = sum(100 * k for k in range(50))
        m.commit("delete", lo=0, hi=9)
        m.commit("insert", rows=[(60, 0, 1, "F")])
        self.assertEqual(m.version(-1), f"50,{total}")
        self.assertEqual(m.version(0), f"40,{total - sum(100 * k for k in range(10))}")
        self.assertEqual(m.version(1), f"41,{total - sum(100 * k for k in range(10)) + 1}")

    def test_head_digest(self):
        m = lakehouse.Model({1: (2, 3, "F"), 4: (5, 6, "O")})
        self.assertEqual(m.head(), f"2,5,7,9,{1 * 3 + 4 * 6},{1 * ord('F') + 4 * ord('O')}")

    def test_op_sequence_is_seeded_and_consistent(self):
        a, ma = lakehouse.ops(self.BASE, 5, commits=12, reads_per_commit=2, batch_rows=6,
                              warm_commits=1)
        b, mb = lakehouse.ops(self.BASE, 5, commits=12, reads_per_commit=2, batch_rows=6,
                              warm_commits=1)
        self.assertEqual(a, b)
        self.assertEqual(ma.head(), mb.head())
        self.assertEqual(len(a), 13 * 3)
        self.assertEqual(sum(o["warm"] for o in a), 3)
        writes = [o for o in a if o["kind"] in ("insert", "merge", "delete")]
        self.assertEqual(len(writes), 13)
        # the same mix for every seed: commits cycle, each block reads one of each kind
        self.assertEqual([o["kind"] for o in writes[:3]], ["insert", "merge", "delete"])
        c, _ = lakehouse.ops(self.BASE, 6, commits=12, reads_per_commit=3, batch_rows=6)
        for i in range(0, len(c), 4):
            self.assertEqual(sorted(o["kind"] for o in c[i + 1:i + 4]),
                             ["point", "range", "version"])
        self.assertEqual(len(ma.history), 14)
        # a version read only names commits that precede it
        seen = 0
        for o in a:
            if o["kind"] in ("insert", "merge", "delete"):
                seen += 1
            elif o["kind"] == "version":
                j = int(o["sql"].split("@V")[1].split("@")[0])
                self.assertTrue(-1 <= j < seen)

    def test_replaying_the_sql_effects_reproduces_the_model(self):
        ops, model = lakehouse.ops(self.BASE, 9, commits=20, reads_per_commit=1, batch_rows=4)
        replay = lakehouse.Model(self.BASE)
        for o in ops:
            if o["kind"] == "delete":
                lo, hi = (int(x) for x in o["sql"].split("BETWEEN ")[1].split(" AND "))
                replay.commit("delete", lo=lo, hi=hi)
            elif o["kind"] in ("insert", "merge"):
                body = o["sql"].split("VALUES ", 1)[1].split(" AS s(")[0].split(")) s ON")[0]
                rows = [tuple(x.strip(" ()'") for x in t.split(","))
                        for t in body.strip("()").split("), (")]
                rows = [(int(k), int(c), int(p), s) for k, c, p, s in rows]
                replay.commit(o["kind"], rows=rows)
        self.assertEqual(replay.head(), model.head())


if __name__ == "__main__":
    unittest.main()
