"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7], 99), 7)
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_median(self):
        self.assertEqual(stats.median([4, 1, 3]), 3)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_highest_percentile_with_samples_beyond(self):
        # 300 batches: p95 leaves 15 beyond, p99 only 3
        self.assertEqual(stats.highest_percentile_with_tail(300, 10), 95)
        # 100 batches: p90 leaves exactly 10 beyond
        self.assertEqual(stats.highest_percentile_with_tail(100, 10), 90)
        self.assertEqual(stats.highest_percentile_with_tail(99, 10), 75)
        self.assertIsNone(stats.highest_percentile_with_tail(15, 10))
        # the definition holds for every n: n - rank(q) >= min_beyond
        for n in range(1, 400):
            q = stats.highest_percentile_with_tail(n, 10)
            if q is not None:
                rank = sum(1 for i in range(1, n + 1) if i <= q / 100.0 * n)
                self.assertGreaterEqual(n - max(1, rank), 10)


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(stats.self_time((0, 100), []), 100)

    def test_disjoint_children(self):
        self.assertEqual(stats.self_time((0, 100), [(10, 20), (50, 70)]), 70)

    def test_overlapping_children_count_once(self):
        self.assertEqual(stats.self_time((0, 100), [(10, 40), (30, 60)]), 50)
        self.assertEqual(stats.self_time((0, 100), [(10, 60), (20, 30)]), 50)

    def test_children_clipped_to_span(self):
        self.assertEqual(stats.self_time((10, 20), [(0, 15), (18, 30)]), 3)
        self.assertEqual(stats.self_time((10, 20), [(30, 40)]), 10)

    def test_union_length(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(0, 1), (1, 2), (5, 6)]), 3)


class FileBatchTest(unittest.TestCase):
    # source 0 (listings) finds files in query batches 0, 1 and 3;
    # source 1 (agents) in batches 1 and 3 only: its own log offsets
    # trail the query's batch ids
    LISTINGS_2 = "v1\n" + json.dumps(
        {"path": "file:///w/src/listings/live-000003.json",
         "timestamp": 3, "batchId": 2})
    LISTINGS_COMPACT = "v1\n" + "\n".join(json.dumps(e) for e in [
        {"path": "file:///w/src/listings/seed-000.json",
         "timestamp": 0, "batchId": 0},
        {"path": "file:///w/src/listings/live-000001.json",
         "timestamp": 1, "batchId": 1}])
    AGENTS = [
        {"path": "file:///w/src/agents/live-000001.json", "batchId": 0},
        {"path": "file:///w/src/agents/live-000003.json", "batchId": 1}]

    @staticmethod
    def offset_file(per_source):
        return "\n".join(["v1", json.dumps({"batchWatermarkMs": 0})] + [
            "-" if n is None else json.dumps({"logOffset": n})
            for n in per_source])

    def offsets(self):
        return {b: stats.parse_offset_log(self.offset_file(o)) for b, o in
                {0: [0, None], 1: [1, 0], 2: [1, 0], 3: [2, 1]}.items()}

    def test_parse_offset_log(self):
        self.assertEqual(stats.parse_offset_log(self.offset_file([4, None])),
                         [4, None])

    def test_map_through_the_query_offsets(self):
        entries = {0: (stats.parse_source_log(self.LISTINGS_COMPACT) +
                       stats.parse_source_log(self.LISTINGS_2)),
                   1: self.AGENTS}
        got = stats.file_batches(entries, self.offsets(),
                                 ["listings", "agents"])
        self.assertEqual(got, {"listings/seed-000.json": 0,
                               "listings/live-000001.json": 1,
                               "listings/live-000003.json": 3,
                               "agents/live-000001.json": 1,
                               "agents/live-000003.json": 3})

    def test_not_yet_committed_and_unknown_topics_are_left_out(self):
        entries = {0: [{"path": "file:///w/src/listings/x.json",
                        "batchId": 9}],
                   1: [{"path": "file:///w/other/y.json", "batchId": 0}]}
        self.assertEqual(stats.file_batches(entries, self.offsets(),
                                            ["listings", "agents"]), {})

    def test_record_latency_from_due_time_to_batch_end(self):
        files = [{"path": "listings/a", "due_ms": 100.0, "rows": 2},
                 {"path": "agents/b", "due_ms": 150.0, "rows": 1},
                 {"path": "media/c", "due_ms": 900.0, "rows": 1}]
        batch_of = {"listings/a": 1, "agents/b": 2}
        lat, missing = stats.record_latencies(files, batch_of,
                                              {1: 400.0, 2: 650.0})
        self.assertEqual(lat, [300.0, 300.0, 500.0])
        self.assertEqual(missing, ["media/c"])

    def test_backlog_counts_published_uncommitted_rows(self):
        files = [{"path": "a", "published_ms": 0, "rows": 5},
                 {"path": "b", "published_ms": 10, "rows": 3},
                 {"path": "c", "published_ms": 30, "rows": 4}]
        batch_of = {"a": 1, "b": 2, "c": 2}
        # batch 1 starts at 20: a and b are out, b waits for batch 2;
        # batch 2 starts at 40: b and c are out
        self.assertEqual(stats.backlog_max(files, batch_of,
                                           {1: 20, 2: 40}), 8)


class LayerMapTest(unittest.TestCase):
    def test_every_per_layer_metric_is_mapped_once(self):
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "layers.json")) as f:
            mapped = [m for layer in json.load(f)["layers"]
                      for m in layer["metrics"]]
        with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
            declared = [m["name"] for m in json.load(f)["per_layer"]]
        self.assertEqual(sorted(mapped), sorted(declared))
        self.assertEqual(len(set(mapped)), len(mapped))


if __name__ == "__main__":
    unittest.main()
