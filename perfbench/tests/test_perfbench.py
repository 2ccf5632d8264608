"""Self-tests of the benchmark's own code; they need no JVM.

Run from the repository root: ``python3 -m unittest discover -s perfbench/tests``
"""
import csv
import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import metrics  # noqa: E402


def tree_digest(path):
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for name in sorted(files):
            with open(os.path.join(base, name), "rb") as f:
                h.update(name.encode() + f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def generate(self, seed, rows=3000, files=4):
        tmp = tempfile.TemporaryDirectory()
        self.addCleanup(tmp.cleanup)
        manifest = gen.generate(tmp.name, seed, rows, files)
        return tmp.name, manifest

    def test_same_seed_gives_identical_bytes(self):
        a, _ = self.generate(7)
        b, _ = self.generate(7)
        self.assertEqual(tree_digest(a), tree_digest(b))

    def test_other_seed_gives_other_bytes(self):
        a, _ = self.generate(7)
        b, _ = self.generate(8)
        self.assertNotEqual(tree_digest(a), tree_digest(b))

    def test_edge_cases_present_at_their_shares(self):
        d, manifest = self.generate(3, rows=20000, files=0)
        with open(os.path.join(d, "trips.csv"), newline="") as f:
            rows = list(csv.DictReader(f))
        n = len(rows)
        self.assertEqual(n, 20000)

        def share(pred):
            return sum(1 for r in rows if pred(r)) / n

        def near(got, want):
            self.assertLess(abs(got - want), max(0.01, want * 0.3), (got, want))

        near(share(lambda r: "," in r["fare"]), gen.SHARES["thousands_currency"])
        near(share(lambda r: r["trip_seconds"] == ""), gen.SHARES["empty_seconds"])
        near(share(lambda r: r["company"] == ""), gen.SHARES["empty_company"])
        near(share(lambda r: r["pickup_community_area"] == "99"), gen.SHARES["unknown_area"])
        near(share(lambda r: r["pickup_community_area"] == ""), gen.SHARES["null_area"])
        lines = [tuple(r.values()) for r in rows]
        near(1 - len(set(lines)) / n, gen.SHARES["duplicate"])
        self.assertTrue(any(float(r["trip_miles"]) < 1 for r in rows), "lossy sub-mile trips")
        months = {(r["trip_start_timestamp"][6:10], r["trip_start_timestamp"][:2]) for r in rows}
        self.assertEqual(len(months), 12 * len(gen.YEARS))
        # Zipf skew: the most frequent company has several times the mean share
        counts = {}
        for r in rows:
            counts[r["company"]] = counts.get(r["company"], 0) + 1
        self.assertGreater(max(counts.values()) / (n / len(counts)), 3)
        inner = sum(1 for r in rows if gen.joins_both_areas(
            {k: (v or None) for k, v in r.items()}))
        self.assertEqual(inner, manifest["inner_join_rows"])

    def test_feed_is_the_csv_rows_in_event_time_order(self):
        d, _ = self.generate(5, rows=2000, files=4)
        with open(os.path.join(d, "trips.csv"), newline="") as f:
            csv_ids = sorted(r["trip_id"] for r in csv.DictReader(f))
        feed = []
        for name in sorted(os.listdir(os.path.join(d, "feed"))):
            with open(os.path.join(d, "feed", name)) as f:
                feed += [json.loads(line) for line in f if line.strip()]
        self.assertEqual(sorted(r["trip_id"] for r in feed), csv_ids)

        def key(r):
            ts = r["trip_start_timestamp"]
            return ts[6:10], ts[:2], ts[3:5]
        self.assertEqual([key(r) for r in feed], sorted(key(r) for r in feed))


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile([3, 1, 2], 50), 2)
        self.assertEqual(metrics.percentile([5], 99), 5)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(19))
        self.assertEqual(metrics.tail_percentile(20), 50.0)
        self.assertEqual(metrics.tail_percentile(40), 75.0)
        self.assertEqual(metrics.tail_percentile(99), 75.0)
        self.assertEqual(metrics.tail_percentile(100), 90.0)
        self.assertEqual(metrics.tail_percentile(200), 95.0)
        self.assertEqual(metrics.tail_percentile(1000), 99.0)
        for n in range(1, 2000):
            p = metrics.tail_percentile(n)
            if p is not None:
                self.assertGreaterEqual(metrics.beyond(n, p), 10)

    def test_tail_metric_names_the_percentile_it_reports(self):
        self.assertEqual(metrics.tail_metric("q", list(range(19)), "s"), {})
        self.assertEqual(list(metrics.tail_metric("q", list(range(50)), "s")), ["q_p75_s"])
        self.assertEqual(list(metrics.tail_metric("q", list(range(300)), "s")), ["q_p90_s"])


class SelfTimeTest(unittest.TestCase):
    def span(self, id, parent, start, end, name="s", trace=1):
        return {"id": id, "parent": parent, "trace": trace, "name": name,
                "start_ns": start, "end_ns": end}

    def test_children_are_subtracted_once_where_they_overlap(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 30), self.span(3, 1, 20, 50),
                 self.span(4, 1, 70, 80), self.span(5, 2, 12, 14)]
        # children cover [10, 50] and [70, 80]; the grandchild adds nothing
        self.assertEqual(metrics.self_ns(spans[0], spans), 100 - 40 - 10)
        self.assertEqual(metrics.self_ns(spans[1], spans), 20 - 2)
        self.assertEqual(metrics.self_ns(spans[2], spans), 30)

    def test_children_are_clipped_to_the_parent(self):
        spans = [self.span(1, 0, 100, 200), self.span(2, 1, 50, 150)]
        self.assertEqual(metrics.self_ns(spans[0], spans), 50)

    def test_span_sums_per_trace(self):
        spans = [self.span(1, 0, 0, 2e9, "a", 1), self.span(2, 0, 0, 1e9, "a", 2),
                 self.span(3, 0, 0, 5e8, "a", 2), self.span(4, 0, 0, 9e9, "b", 2)]
        self.assertEqual(metrics.span_sums(spans, [1, 2], "a"), [2.0, 1.5])


class ContractTest(unittest.TestCase):
    def test_benchmark_json_names_what_run_py_prints(self):
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, metrics.E2E_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]},
                         metrics.per_layer_names())


if __name__ == "__main__":
    unittest.main()
