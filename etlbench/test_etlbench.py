"""Self-tests of the benchmark (no JVM needed):

    python3 -m unittest discover -s etlbench -p 'test_*.py'
"""
import csv
import filecmp
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402


def span(id, name, start, end, parent=-1, run=0, jobs=()):
    return {"id": id, "name": name, "parent": parent, "run": run,
            "start_ns": start, "end_ns": end, "job_intervals_ms": list(jobs)}


class GeneratorTest(unittest.TestCase):

    def tree(self, workload, seed, root):
        gen.generate(workload, seed, root)
        return sorted(os.path.relpath(os.path.join(d, f), root)
                      for d, _, fs in os.walk(root) for f in fs)

    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            files = self.tree("snapshot_upsert", 5, a)
            self.assertEqual(files, self.tree("snapshot_upsert", 5, b))
            _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.generate("snapshot_upsert", 5, a)
            gen.generate("snapshot_upsert", 6, b)
            self.assertFalse(filecmp.cmp(os.path.join(a, "initial.csv"),
                                         os.path.join(b, "initial.csv"), shallow=False))

    def test_pipeline_inputs_have_reference_shapes(self):
        with tempfile.TemporaryDirectory() as d:
            info = gen.generate("pipeline_hourly", 3, d)
            shards = sorted(os.listdir(os.path.join(d, "streams")))
            self.assertEqual(shards, ["streams1.csv", "streams2.csv", "streams3.csv"])
            lines = 0
            for s in shards:
                with open(os.path.join(d, "streams", s)) as f:
                    self.assertEqual(f.readline().strip(), "user_id,track_id,listen_time")
                    lines += sum(1 for _ in f)
            self.assertEqual(lines, info["events"])
            self.assertEqual(info["events"], gen.REFERENCE_EVENTS)

    def test_stream_keys_have_the_reference_distinct_counts(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("pipeline_hourly", 3, d)
            users, tracks = set(), set()
            for s in os.listdir(os.path.join(d, "streams")):
                with open(os.path.join(d, "streams", s)) as f:
                    for row in csv.DictReader(f):
                        users.add(row["user_id"])
                        tracks.add(row["track_id"])
            self.assertAlmostEqual(len(users) / gen.REFERENCE_USERS, 1, delta=0.03)
            self.assertAlmostEqual(len(tracks) / gen.REFERENCE_TRACKS, 1, delta=0.03)


class MetricNamesTest(unittest.TestCase):

    def test_names_and_units_use_the_allowed_characters(self):
        names = [n for n, _ in metrics.END_TO_END + metrics.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, metrics.NAME)
        for _, u in metrics.END_TO_END + metrics.PER_LAYER:
            self.assertRegex(u, r"^[A-Za-z0-9_/%.-]{1,16}$")
        for bad in ("quality.*.jobs", "a b", "_x", "x" * 65):
            self.assertNotRegex(bad, metrics.NAME)

    def test_benchmark_json_lists_the_same_metrics(self):
        path = os.path.join(HERE, "..", "BENCHMARK.json")
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         metrics.PER_LAYER)
        bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
        self.assertEqual(max(bounds.values()), bounds["setup_s"])


class PercentileRuleTest(unittest.TestCase):

    def test_ten_samples_beyond(self):
        self.assertTrue(metrics.tail_allowed(100, 90))
        self.assertFalse(metrics.tail_allowed(99, 90))
        self.assertTrue(metrics.tail_allowed(40, 75))
        self.assertFalse(metrics.tail_allowed(39, 75))



class SpanTest(unittest.TestCase):

    def test_self_time_subtracts_the_union_of_children(self):
        root = span(0, "pipeline.run", 0, 100)
        spans = [root,
                 span(1, "pipeline.stage", 10, 40, parent=0),
                 span(2, "pipeline.stage", 30, 50, parent=0),   # overlaps 1
                 span(3, "quality.validate_data", 12, 20, parent=1),  # grandchild
                 span(4, "pipeline.stage", 90, 130, parent=0)]  # runs past the end
        self.assertEqual(metrics.self_time_ns(root, spans), 100 - 40 - 10)
        self.assertEqual(metrics.self_time_ns(spans[1], spans), 30 - 8)
        self.assertEqual(metrics.self_time_ns(spans[3], spans), 8)

    def test_outside_jobs_counts_the_whole_subtree(self):
        ms = 1_000_000
        spans = [span(0, "pipeline.run", 0, 100 * ms, jobs=[(10, 20)]),
                 span(1, "pipeline.stage", 15 * ms, 60 * ms, parent=0, jobs=[(30, 50)])]
        self.assertEqual(metrics.outside_jobs_ns(spans[0], spans), 70 * ms)

    def test_per_layer_reports_every_metric(self):
        raw = {"spans": [dict(span(0, "pipeline.run", 0, 10), jobs=1, tasks=4,
                              cpu_ns=5, gc_ms=0, spill_bytes=0,
                              shuffle_write_bytes=0, input_bytes=0,
                              input_records=0, output_bytes=0)],
               "traced_s": [2.0], "untraced_s": [1.5]}
        out = metrics.per_layer(raw)
        self.assertEqual(set(out), {n for n, _ in metrics.PER_LAYER})
        self.assertEqual(out["spark.tasks"], 4)
        self.assertEqual(out["trace.overhead_s"], 0.5)


if __name__ == "__main__":
    unittest.main()
