"""Tests of the benchmark's own logic.

  python3 -m unittest perfbench/test_perfbench.py

The generator, the tail rule, the span interval arithmetic and the
metric lists run in seconds. The corrupted-expectation self-test, which
builds the engine and runs every workload, is test_selftest.py.
"""

import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

# scratch files stay inside the checkout, under the build directory
os.makedirs(os.path.join(run.build_dir(), "tmp"), exist_ok=True)
tempfile.tempdir = os.path.join(run.build_dir(), "tmp")


def tree_bytes(root):
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in gen.WORKLOADS:
            with tempfile.TemporaryDirectory() as t:
                for name, seed in (("a", 5), ("b", 5), ("c", 6)):
                    gen.generate(os.path.join(t, name), w, seed)
                a, b, c = (tree_bytes(os.path.join(t, n)) for n in "abc")
                self.assertTrue(a, w)
                self.assertEqual(a, b, w)
                self.assertEqual(a.keys(), c.keys(), w)
                self.assertNotEqual(a, c, w)

    def test_mor_ops_never_fail(self):
        """Updates and deletes name ranges inside the key space, and
        merge batches have unique keys."""
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as t:
            gen.generate(t, "mor_dml", 3)
            with open(os.path.join(t, "mor", "ops.json")) as fh:
                ops = json.load(fh)
            for o in ops:
                keys = pq.read_table(os.path.join(t, "mor", o["batch"])) \
                    .column("o_orderkey").to_pylist()
                self.assertEqual(len(keys), len(set(keys)))
                self.assertGreaterEqual(min(o["update_lo"], o["delete_lo"], o["read_lo"]), 0)

    def test_corpus_ids_increase_across_batches(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as t:
            gen.generate(t, "corpus_ingest", 3)
            d = os.path.join(t, "corpus")
            last = -1
            for f in sorted(x for x in os.listdir(d) if x.startswith("batch_")):
                ids = pq.read_table(os.path.join(d, f)).column("doc_id").to_pylist()
                self.assertGreater(min(ids), last)
                last = max(ids)

    def test_serve_draws_are_whole_rounds_of_the_mix(self):
        with tempfile.TemporaryDirectory() as t:
            gen.generate(t, "serve_gold", 3)
            with open(os.path.join(t, "draws.json")) as fh:
                draws = json.load(fh)
            k = len(gen.SERVE_MIX)
            for i in range(0, len(draws), k):
                self.assertEqual(sorted(draws[i:i + k]), sorted(gen.SERVE_MIX))


class StatsTest(unittest.TestCase):
    def test_tail_rule_leaves_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_pct(10))
        self.assertEqual(stats.tail_pct(11), 9)
        self.assertEqual(stats.tail_pct(30), 66)
        self.assertEqual(stats.tail_pct(100), 90)
        for n in range(11, 300):
            p = stats.tail_pct(n)
            rank = -(-p * n // 100)
            self.assertGreaterEqual(n - rank, 10, n)
            self.assertLess(n - (-(-(p + 1) * n // 100)), 10, n)

    def test_percentile_nearest_rank_and_median(self):
        v = list(range(1, 101))
        self.assertEqual(stats.percentile(v, 90), 90)
        self.assertEqual(stats.percentile(v, 50), 50)
        self.assertEqual(stats.percentile([7], 99), 7)
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)

    def test_covered_merges_overlaps_and_clips(self):
        self.assertEqual(stats.covered([], 0, 10), 0)
        self.assertEqual(stats.covered([(1, 3), (2, 5)], 0, 10), 4)
        self.assertEqual(stats.covered([(1, 3), (5, 6)], 0, 10), 3)
        self.assertEqual(stats.covered([(1, 9), (2, 3)], 0, 10), 8)
        self.assertEqual(stats.covered([(-5, 2), (8, 20)], 0, 10), 4)
        self.assertEqual(stats.covered([(12, 15)], 0, 10), 0)

    def test_mix_median_averages_the_kinds_medians(self):
        samples = {"op_ms:a": [1, 2, 30], "op_ms:b": [10, 20], "op_msx": [99]}
        self.assertEqual(run.mix_median(samples, "op_ms"), (2 + 15) / 2)
        self.assertEqual(run.mix_median({"op_ms": [4, 1, 9]}, "op_ms"), 4)

    def test_gap_is_wall_minus_job_cover(self):
        self.assertEqual(stats.gap_ms((0, 100), [(10, 40), (30, 60)]), 50)
        self.assertEqual(stats.gap_ms((0, 100), []), 100)
        self.assertEqual(stats.gap_ms((0, 100), [(-10, 200)]), 0)


class MetricListTest(unittest.TestCase):
    def test_benchmark_json_lists_what_every_workload_reports(self):
        """Every workload reports every metric BENCHMARK.json lists: the
        end-to-end ones untraced, the per-layer ones traced."""
        self.assertEqual(run.END_TO_END, [m["name"] for m in run.BENCHMARK["end_to_end"]])
        self.assertEqual(run.PER_LAYER, [m["name"] for m in run.BENCHMARK["per_layer"]])
        self.assertEqual(set(run.WORKLOADS), set(gen.WORKLOADS))
        self.assertEqual(set(run.WORKLOADS),
                         {w["name"] for w in run.BENCHMARK["workloads"]})

    def test_per_layer_reports_every_metric_of_any_workload(self):
        """A traced run's result has every per-layer metric, however
        many of them its spans feed."""
        for wl, w in run.WORKLOADS.items():
            span = next(iter(w["spans"]))
            res = {
                "spans": [{"name": span, "start": 0.0, "end": 10.0, "extra": {}},
                          {"name": "unnamed", "start": 20.0, "end": 30.0, "extra": {}}],
                "jobs": [{"span": span, "start": 2.0, "end": 6.0, "tasks": 4,
                          "cpu_ns": 2e6, "in_bytes": 8, "shuffle_bytes": 0,
                          "out_bytes": 0, "spill_bytes": 0}],
                "ops": [(0.0, 12.0), (20.0, 32.0)], "gc_ms": 3.0,
                "peak_rss_mb": 900.0, "session_cpu_ms": 100.0,
                "fixture_cpu_ms": [], "warmup_cpu_ms": 50.0,
                "samples": {"op_ms": [12.0, 12.0]},
                "window_samples": {"op_cpu_ms": [7.0, 9.0]}}
            m = run.per_layer(res, wl)
            self.assertEqual(list(m), run.PER_LAYER, wl)
            self.assertEqual(m["op.jobs"], 0.5, wl)
            self.assertEqual(m["op.gap_ms"], 3.0, wl)
            self.assertEqual(m["trace.span_coverage"], 10 / 24, wl)
            self.assertEqual(m["setup.prepare_ms"], 50.0, wl)


if __name__ == "__main__":
    unittest.main()
