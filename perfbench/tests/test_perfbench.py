"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests

The last test runs a traced cluster_errors job loop through the real
harness; it needs sbt and a JVM and is skipped unless PERFBENCH_INTEGRATION=1.
"""
import filecmp
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import gen      # noqa: E402
import layers   # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(layers.tail_percentile(range(19)))
        self.assertEqual(layers.tail_percentile(range(1, 21)), (50, 10))

    def test_picks_the_highest_qualifying_percentile(self):
        xs = list(range(1, 101))
        self.assertEqual(layers.tail_percentile(xs), (90, 90))
        self.assertEqual(layers.tail_percentile(list(range(1, 1001))), (99, 990))
        self.assertEqual(layers.tail_percentile(list(range(1, 40))), (50, 20))
        self.assertEqual(layers.tail_percentile(list(range(1, 41))), (75, 30))

    def test_order_does_not_matter(self):
        self.assertEqual(layers.tail_percentile([5, 1, 4, 2, 3] * 8), (75, 4))


class SelfTime(unittest.TestCase):
    def test_disjoint_children(self):
        own, gap = layers.self_times((0, 10), [(1, 3, "a"), (5, 6, "b")])
        self.assertEqual(own, {"a": 2, "b": 1})
        self.assertEqual(gap, 7)

    def test_overlap_goes_to_the_later_child(self):
        own, gap = layers.self_times((0, 10), [(0, 6, "a"), (4, 8, "b")])
        self.assertEqual(own, {"a": 4, "b": 4})
        self.assertEqual(gap, 2)

    def test_nested_child_interrupts_its_parent(self):
        own, gap = layers.self_times((0, 10), [(0, 10, "a"), (2, 3, "b")])
        self.assertEqual(own, {"a": 9, "b": 1})
        self.assertEqual(gap, 0)

    def test_children_are_clipped_to_the_parent(self):
        own, gap = layers.self_times((2, 4), [(0, 3, "a"), (3.5, 9, "a")])
        self.assertEqual(own, {"a": 1.5})
        self.assertEqual(gap, 0.5)

    def test_parts_sum_to_the_parent(self):
        kids = [(0.5, 2, "a"), (1, 4, "b"), (3, 3.5, "c"), (6, 7, None)]
        own, gap = layers.self_times((0, 8), kids)
        self.assertAlmostEqual(sum(own.values()) + gap, 8)

    def test_union_length(self):
        self.assertEqual(layers.union_length([(0, 2), (1, 3), (5, 6)]), 4)


class Attribution(unittest.TestCase):
    def test_call_site_files_map_to_layers(self):
        self.assertEqual(layers.module_of_call_site(["Embed.scala"]), "ml.Embed")
        self.assertEqual(layers.module_of_call_site(["SparkEntry.scala"]), "pipeline")
        # an unlisted library file (a lazy kernel) defers to the next frame
        self.assertEqual(layers.module_of_call_site(["NnTopK.scala", "Dbscan.scala"]), "ml.Dbscan")
        self.assertIsNone(layers.module_of_call_site(["Kneedle.scala"]))

    def test_benchmark_call_site_goes_to_the_enclosing_span(self):
        spans = [{"id": 0, "name": "job", "parent": -1, "iter": 0, "start": 0, "end": 100},
                 {"id": 1, "name": "ml.ClusterStats", "parent": 0, "iter": 0, "start": 10, "end": 50}]
        jobs = [
            # forced by the benchmark's noop sink: no library frame at all
            {"id": 1, "call_site": "save at Trace.scala:40", "graft_files": [],
             "execution_files": [], "start": 20, "end": 30},
            {"id": 2, "call_site": "collect at Embed.scala:150", "graft_files": ["Embed.scala"],
             "execution_files": [], "start": 31, "end": 40},
            # an AQE stage job: its SQL execution names the library file
            {"id": 3, "call_site": "run at CompletableFuture.java:1768", "graft_files": [],
             "execution_files": ["SparkEntry.scala"], "start": 41, "end": 45},
            # outside every benchmark span: not part of the timed loop
            {"id": 4, "call_site": "count at Bench.scala:1", "graft_files": [],
             "execution_files": [], "start": 200, "end": 210},
        ]
        got = {j["id"]: j["layer"] for j in layers.attribute({"spans": spans, "jobs": jobs})}
        self.assertEqual(got, {1: "ml.ClusterStats", 2: "ml.Embed", 3: "pipeline"})

    def test_per_layer_metric_count(self):
        names = [n for n, _ in layers.per_layer_names()]
        self.assertEqual(len(names), 119)
        self.assertEqual(len(set(names)), 119)


class Generator(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            for out, seed in ((a, 5), (b, 5), (c, 6)):
                gen.generate(seed, out)
            self.assertTrue(tree_equal(a, b))
            self.assertFalse(tree_equal(a, c))

    def test_shapes_follow_the_reference_corpus(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            gen.generate(5, d, "cluster_errors")
            gen.generate(5, d, "event_analytics")
            docs = pq.read_table(os.path.join(d, "fts", "docs.parquet")).column("text").to_pylist()
            truth = pq.read_table(os.path.join(d, "fts", "truth.parquet"))
            events = pq.read_table(os.path.join(d, "events", "rucio_events.parquet"))
            failed = pq.read_table(os.path.join(d, "events", "truth.parquet"))
        # BASELINE.md "Corpus cardinalities"
        self.assertEqual(len(docs), 2826)
        self.assertEqual(len(set(docs)), 589)
        self.assertEqual(sum(1 for t in docs if not t.strip()), 38)
        self.assertEqual(len(set(truth.column("template_id").to_pylist()) - {-1}), 340)
        self.assertEqual(len(set(events.column("src_rse").to_pylist())), 90)
        self.assertEqual(len(set(events.column("dst_rse").to_pylist())), 92)
        types = events.column("event_type").to_pylist()
        self.assertEqual(failed.column("failed_events")[0].as_py(),
                         sum(t.endswith("-failed") for t in types))


def tree_equal(x, y):
    fx = sorted(os.path.relpath(os.path.join(r, f), x) for r, _, fs in os.walk(x) for f in fs)
    fy = sorted(os.path.relpath(os.path.join(r, f), y) for r, _, fs in os.walk(y) for f in fs)
    if fx != fy:
        return False
    return all(filecmp.cmp(os.path.join(x, f), os.path.join(y, f), shallow=False) for f in fx)


class NoHiddenMemo(unittest.TestCase):
    def test_harness_never_resets_library_memos(self):
        for d, _, fs in os.walk(os.path.join(BENCH, "src")):
            for f in fs:
                with open(os.path.join(d, f)) as fh:
                    self.assertNotIn("benchReset", fh.read(), f)

    @unittest.skipUnless(os.environ.get("PERFBENCH_INTEGRATION") == "1",
                         "set PERFBENCH_INTEGRATION=1 to run the harness")
    def test_cluster_errors_jobs_per_layer_repeat_across_iterations(self):
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "cluster_errors",
                            "--seed", "3", "--seconds", "1", "--trace", "1"],
                           cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        report, result = (json.loads(l) for l in p.stdout.strip().splitlines()[-2:])
        acct = report["accounting"]
        self.assertGreaterEqual(acct["iterations"], 2)
        self.assertTrue(acct["jobs_repeat_across_iterations"], acct["jobs_per_iteration"])
        self.assertTrue(result["correct"])


if __name__ == "__main__":
    unittest.main()
