"""Tests for the benchmark's own logic (no Spark, no build needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import collections
import os
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def class_mix(queries):
    return collections.Counter(c for q in queries for c in q["classes"])


class AdhocGeneratorTest(unittest.TestCase):
    def test_same_seed_same_queries_and_mix(self):
        a = gen.adhoc_queries(7, 40)
        b = gen.adhoc_queries(7, 40)
        self.assertEqual([q["spec"] for q in a], [q["spec"] for q in b])
        self.assertEqual([q["sql"] for q in a], [q["sql"] for q in b])
        self.assertEqual(class_mix(a), class_mix(b))

    def test_other_seed_other_queries(self):
        a = gen.adhoc_queries(7, 40)
        b = gen.adhoc_queries(8, 40)
        self.assertNotEqual([q["spec"] for q in a], [q["spec"] for q in b])

    def test_every_class_appears(self):
        mix = class_mix(gen.adhoc_queries(1, 200))
        self.assertEqual(set(mix), set(gen.CLASSES))

    def test_every_block_has_the_template_mix(self):
        k = len(gen.BLOCK)
        for seed in (3, 4):
            qs = gen.adhoc_queries(seed, 3 * k, warm=0)
            for b in range(3):
                block = qs[b * k:(b + 1) * k]
                self.assertEqual(sorted(q["template"] for q in block), list(range(k)))
                for q in block:
                    g = gen.BLOCK[q["template"]][0]
                    self.assertEqual(q["spec"].split("\n")[2], ",".join(g))

    def test_spec_shape(self):
        for q in gen.adhoc_queries(5, 30):
            lines = q["spec"].split("\n")
            self.assertIn(len(lines), (5, 6))
            n = int(lines[1])
            self.assertEqual(len(lines[3].split(",")), n)
            self.assertEqual(q["sql"].count(" LEFT JOIN base t ON "), n)


class TailRuleTest(unittest.TestCase):
    def test_hundred_samples_give_p90(self):
        xs = list(range(1, 101))
        value, p, n = stats.tail(xs)
        self.assertEqual((value, p, n), (90, 90, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_at_least_ten_beyond(self):
        for n in range(20, 400, 7):
            xs = [float(i) for i in range(n)]
            value, p, _ = stats.tail(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > value), 10)
            # one percentile higher would leave fewer than ten beyond
            if p < 99:
                rank = -(-(p + 1) * n // 100)
                self.assertLess(n - rank, 10)

    def test_sixty_samples(self):
        value, p, _ = stats.tail(list(range(60)))
        self.assertEqual(p, 83)
        self.assertEqual(value, 49)

    def test_few_samples_fall_back_to_median(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (2.0, 50, 3))
        self.assertEqual(stats.tail([])[2], 0)


class SelfTimeTest(unittest.TestCase):
    def test_nested_spans(self):
        spans = {
            "op": ("op", 0, 100, None),
            "plan": ("plan", 0, 30, "op"),
            "action": ("action", 30, 100, "op"),
            "job1": ("job", 40, 60, "action"),
            "job2": ("job", 50, 80, "action"),  # overlaps job1
            "stage1": ("stage", 40, 55, "job1"),
        }
        self.assertEqual(stats.self_times(spans), {
            "op": 0, "plan": 30, "action": 70 - 40, "job": (20 - 15) + 30, "stage": 15})

    def test_children_outside_parent_are_clipped(self):
        spans = {"a": ("a", 10, 20, None), "b": ("b", 5, 15, "a")}
        self.assertEqual(stats.self_times(spans)["a"], 5)


class DriverGapTest(unittest.TestCase):
    def test_disjoint_jobs(self):
        self.assertEqual(stats.driver_gap((0, 100), [(10, 20), (40, 70)]), 60)

    def test_overlapping_jobs(self):
        self.assertEqual(stats.driver_gap((0, 100), [(10, 50), (30, 60), (55, 58)]), 50)

    def test_jobs_past_the_action_are_clipped(self):
        self.assertEqual(stats.driver_gap((0, 100), [(90, 130)]), 90)

    def test_no_jobs(self):
        self.assertEqual(stats.driver_gap((5, 25), []), 20)


class DigestTest(unittest.TestCase):
    def test_order_independent(self):
        a = checks.digest(["b", "a"], [(1, "x"), (2, "y")])
        b = checks.digest(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)

    def test_exact_cells(self):
        self.assertEqual(checks.cell(1.0), "D3ff0000000000000")
        self.assertEqual(checks.cell(7), "I7")
        self.assertEqual(checks.cell(None), "N")
        self.assertNotEqual(checks.cell(0.1 + 0.2), checks.cell(0.3))



class FixtureTest(unittest.TestCase):
    def table_digests(self, seed):
        with tempfile.TemporaryDirectory() as d:
            counts = gen.make_fixture(d, seed, 600, surface=True)
            out = {}
            for t, n in counts.items():
                cols, rows = checks.run_sql(
                    duckdb.connect(), f"SELECT * FROM '{d}/{t}.parquet'")
                self.assertEqual(len(rows), n, t)
                out[t] = checks.digest(cols, rows)
            return out

    def test_same_seed_same_tables(self):
        a, b, c = self.table_digests(3), self.table_digests(3), self.table_digests(4)
        self.assertEqual(a, b)
        self.assertEqual(set(a), set(checks.TABLES))
        for t in ("lineitem", "events", "documents", "embeddings"):
            self.assertNotEqual(a[t], c[t], t)


class SurfaceMetricsTest(unittest.TestCase):
    def op(self, q, kind, p, wall, held):
        return {"q": q, "kind": kind, "pass": p, "wall_s": wall, "held_mb": held}

    def test_passes_shared_lines_and_peak_memory(self):
        ops = [self.op("_shared_x", "shared", 0, 1.0, 2.0),
               self.op("a", "entry", 0, 0.5, 2.0), self.op("b", "entry", 0, 0.3, 0.0),
               self.op("_shared_x", "shared", 1, 1.2, 4.0),
               self.op("a", "entry", 1, 0.7, 4.0), self.op("b", "entry", 1, 0.1, 0.0)]
        res = {"workload": "surface", "ops": ops, "timed_ms": 3800.0, "session_s": 4.0,
               "setups": [{"setup_s": s} for s in (3.0, 0.5, 0.4)]}
        e2e, summary = run.e2e_metrics(res)
        self.assertEqual(e2e["setup_s"], 4.5)
        self.assertEqual(e2e["ops_per_s"], 4 / 3.8)  # shared lines are not ops
        self.assertEqual(e2e["latency_p50_s"], 0.4)
        self.assertEqual(e2e["held_mb"], 3.0)  # median of the passes' peaks
        self.assertAlmostEqual(summary["total_s"], (1.8 + 2.0) / 2)
        self.assertEqual(summary["passes"], 2)


if __name__ == "__main__":
    unittest.main()
