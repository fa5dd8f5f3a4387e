"""The benchmark's own tests: generator determinism, the statistics and
failure counting, and span self-time arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen_tcga  # noqa: E402
import stats  # noqa: E402


def _tree(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


class GeneratorTest(unittest.TestCase):

    def _gen(self, seed):
        with tempfile.TemporaryDirectory() as d:
            gen_tcga.generate(d, seed, 60, 24)
            return _tree(d)

    def test_same_seed_is_byte_identical(self):
        a, b = self._gen(7), self._gen(7)
        self.assertEqual(sorted(a), sorted(b))
        self.assertIn(os.path.join("expression", "part-00000.parquet"), a)
        for name in a:
            self.assertEqual(a[name], b[name], name)

    def test_other_seed_differs(self):
        a, b = self._gen(7), self._gen(8)
        self.assertEqual(sorted(a), sorted(b))
        self.assertNotEqual(a[os.path.join("expression", "part-00000.parquet")],
                            b[os.path.join("expression", "part-00000.parquet")])
        self.assertNotEqual(a[os.path.join("samples", "part-00000.parquet")],
                            b[os.path.join("samples", "part-00000.parquet")])

    def test_plants_what_the_pipelines_need(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            gen_tcga.generate(d, 3, 200, 120)
            s = pq.read_table(os.path.join(d, "samples")).to_pydict()
            e = pq.read_table(os.path.join(d, "expression")).to_pydict()
        self.assertEqual(len(e["count"]), 200 * 120)
        self.assertIn("Stage X", s["ajcc_pathologic_stage"])
        self.assertIn(None, s["vital_status"])
        self.assertIn("NT", s["short_letter_code"])
        # several samples per patient, and ragged treatments
        self.assertLess(len(set(s["submitter_id"])), len(s["barcode"]))
        self.assertGreater(len({len(t) for t in s["treatments"]}), 2)
        totals = {}
        for g, c in zip(e["gene_id"], e["count"]):
            totals[g] = totals.get(g, 0) + c
        self.assertTrue(any(t < 10 for t in totals.values()))


class StatsTest(unittest.TestCase):

    def test_median_and_spread(self):
        xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 12.0, 8.0, 10.0, 10.2]
        self.assertEqual(stats.median(xs), 10.0)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / 10.0)
        # exclusive-method quartiles of 1..9 are 2.5 and 7.5
        self.assertAlmostEqual(stats.spread(list(range(1, 10))), 5.0 / 5.0)

    def test_failures_count_each_operation_once(self):
        ops = [(1, "a", None), (1, "b", "boom"), (2, "a", None), (2, "b", None)]
        self.assertEqual(stats.failures(ops, set()), (4, 1))
        # raised and failed a check: still one failure
        self.assertEqual(stats.failures(ops, {(1, "b")}), (4, 1))
        self.assertEqual(stats.failures(ops, {(2, "a"), (2, "b")}), (4, 3))


def span(id, parent, layer, start, end, **counters):
    return {"id": id, "parent": parent, "run": 1, "layer": layer,
            "name": layer, "start": start, "end": end, "counters": counters}


class SpanArithmeticTest(unittest.TestCase):

    def test_union_length(self):
        self.assertEqual(stats.union_length([]), 0.0)
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4.0)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10.0)

    def test_self_time_subtracts_children_once(self):
        root = span(1, 0, "api", 0, 100)
        kids = [span(2, 1, "sinks", 10, 30), span(3, 1, "sinks", 20, 50),
                span(4, 1, "sources", 90, 120)]  # runs past the parent's end
        self.assertEqual(stats.self_time(root, kids), 100 - 40 - 10)

    def test_driver_time_excludes_jobs_and_children(self):
        root = span(1, 0, "api", 0, 100)
        kids = [span(2, 1, "sinks", 60, 80)]
        jobs = [{"start": 10, "end": 30}, {"start": 70, "end": 90}]
        # self intervals [0,60) and [80,100); jobs cover 20 + 10 of them
        self.assertEqual(stats.driver_time(root, kids, jobs), 80 - 30)

    def test_layer_metrics_partition_the_run(self):
        spans = [span(1, 0, "op", 0, 100),
                 span(2, 1, "api", 0, 90, rows_out=5.0),
                 span(3, 2, "functions.DiffExpression", 20, 60, genes_fit=7.0),
                 span(4, 1, "sinks", 90, 100)]
        st = [{"span": 3, "tasks": 4, "cpu_s": 1.5, "gc_s": 0.1,
               "shuffle_write_mb": 2.0, "shuffle_read_mb": 2.0,
               "fetch_wait_s": 0.0, "spill_mb": 0.0,
               "task_max_s": 0.6, "task_median_s": 0.2}]
        layers, counters = stats.layer_metrics(spans, [], st)
        self.assertAlmostEqual(layers["api"]["busy_s"], 0.050)
        self.assertAlmostEqual(layers["functions.DiffExpression"]["busy_s"], 0.040)
        self.assertAlmostEqual(layers["sinks"]["busy_s"], 0.010)
        self.assertAlmostEqual(layers["functions.DiffExpression"]["cpu_s"], 1.5)
        self.assertAlmostEqual(layers["functions.DiffExpression"]["task_skew"], 3.0)
        self.assertEqual(layers["api"]["rows_out"], 5.0)
        self.assertEqual(counters["genes_fit"], 7.0)
        # the layers' self times add up to the operation's duration
        busy = sum(m["busy_s"] for m in layers.values())
        self.assertAlmostEqual(busy, 0.100)


if __name__ == "__main__":
    unittest.main()
