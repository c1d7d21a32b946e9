"""Unit tests for the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402
import stats  # noqa: E402


class Medians(unittest.TestCase):
    def test_median_reports_its_sample_count(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), {"value": 2.0, "n": 3})
        self.assertEqual(stats.median([4.0, 1.0, 2.0, 3.0]), {"value": 2.5, "n": 4})

    def test_median_of_nothing_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])


class Intervals(unittest.TestCase):
    def test_union_counts_overlaps_once(self):
        self.assertEqual(stats.union_length([(0, 4), (2, 6), (8, 9)]), 7)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_union_clips_to_the_window(self):
        self.assertEqual(stats.union_length([(-5, 2), (8, 20)], 0, 10), 4)
        self.assertEqual(stats.union_length([(11, 20)], 0, 10), 0)

    def test_driver_time_is_wall_not_covered_by_any_job(self):
        jobs = [(1, 3), (2, 5), (7, 8)]
        self.assertEqual(stats.driver_time(0, 10, jobs), 10 - 5)
        # jobs running past the window are clipped to it
        self.assertEqual(stats.driver_time(4, 10, [(0, 6)]), 4)
        self.assertEqual(stats.driver_time(0, 10, []), 10)


class SpanSelfTime(unittest.TestCase):
    def test_self_time_subtracts_children_union(self):
        spans = [
            dict(id=1, start=0, end=100, parent=0),
            dict(id=2, start=10, end=40, parent=1),
            dict(id=3, start=30, end=60, parent=1),  # overlaps its sibling
            dict(id=4, start=35, end=45, parent=3),
        ]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 50)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 30 - 10)
        self.assertEqual(st[4], 10)

    def test_child_outside_its_parent_is_clipped(self):
        spans = [dict(id=1, start=0, end=10, parent=0),
                 dict(id=2, start=5, end=15, parent=1)]
        self.assertEqual(stats.self_times(spans)[1], 5)


class Attribution(unittest.TestCase):
    MODULES = {"TextOps": ["q33_tokenize", "q132_auc"],
               "PipelineOps": ["q173_chunk_decontaminate"],
               "Relational": ["q1_pricing_summary", "q10_window_rank"]}

    def test_ops_map_to_the_module_whose_list_holds_them(self):
        idx = stats.module_index(self.MODULES)
        self.assertEqual(idx["q173_chunk_decontaminate"], "PipelineOps")
        self.assertEqual(idx["q132_auc"], "TextOps")
        # short names resolve too, and q1 is not q10
        self.assertEqual(idx["q1"], "Relational")
        self.assertEqual(idx["q10"], "Relational")
        self.assertNotIn("q13", idx)

    def test_an_op_in_two_lists_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.module_index({"A": ["q1_x"], "B": ["q1_x"]})

    def test_untagged_jobs_belong_to_the_engine(self):
        idx = stats.module_index(self.MODULES)
        self.assertEqual(stats.layer_of("q33_tokenize", idx), "TextOps")
        self.assertEqual(stats.layer_of("(none)", idx), "spark")


class ClassifierInvariants(unittest.TestCase):
    """q81's WSS@95 must match its definition (N - k)/N - 0.05."""

    def check(self, rows):
        import duckdb
        with tempfile.TemporaryDirectory() as out:
            d = os.path.join(out, "outputs", "q81_wss95_trained")
            os.makedirs(d)
            values = ", ".join(f"('m{i}', {n}, {p}, 0.5, {k}, {w})"
                               for i, (n, p, k, w) in enumerate(rows))
            duckdb.sql(f"COPY (SELECT * FROM (VALUES {values}) t(model, n_docs, "
                       f"n_pos, t, k_at_95, wss95)) TO '{d}/part.parquet'")
            return run.invariant_failures(out, ["q81_wss95_trained"])

    def test_a_chance_level_ranking_may_be_slightly_negative(self):
        self.assertEqual(self.check([(1000, 385, 953, -0.003), (1000, 385, 500, 0.45)]), [])

    def test_a_value_off_its_definition_fails(self):
        self.assertEqual(len(self.check([(1000, 385, 953, 0.3)])), 1)
        self.assertEqual(len(self.check([(1000, 385, 1001, -0.051)])), 1)


if __name__ == "__main__":
    unittest.main()
