"""Self-tests of the benchmark's own logic (no JVM needed).

Run: python3 -m unittest discover -s ubabench -p 'test_*.py'
"""

import hashlib
import json
import random
import tempfile
import unittest
from pathlib import Path

import numpy as np

import checks
import gen
import stats


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0.9), 90)  # 91..100 lie beyond
        with self.assertRaises(ValueError):
            stats.percentile(xs[:99], 0.9)

    def test_median_needs_twenty_samples(self):
        self.assertEqual(stats.percentile(range(20), 0.5), 9)  # 10..19 lie beyond
        with self.assertRaises(ValueError):
            stats.percentile(range(19), 0.5)

    def test_percentile_ignores_input_order(self):
        xs = [random.Random(1).random() for _ in range(200)]
        self.assertEqual(stats.percentile(xs, 0.9), stats.percentile(sorted(xs), 0.9))


class Digests(unittest.TestCase):
    def test_rows_digest_is_order_independent(self):
        rows = [(i, "u%d" % i, i * 0.5) for i in range(50)]
        shuffled = rows[:]
        random.Random(7).shuffle(shuffled)
        self.assertEqual(stats.rows_digest(rows), stats.rows_digest(shuffled))

    def test_rows_digest_sees_multiplicity_and_values(self):
        rows = [(1, "a"), (2, "b")]
        self.assertNotEqual(stats.rows_digest(rows), stats.rows_digest(rows + [(1, "a")]))
        self.assertNotEqual(stats.rows_digest(rows), stats.rows_digest([(1, "a"), (2, "c")]))

    def test_oracle_comparison_ignores_row_and_column_order(self):
        a = checks._frame_key(["b", "a"], [(2, 1), (4, 3)])
        b = checks._frame_key(["a", "b"], [(3, 4), (1, 2)])
        self.assertEqual(a, b)


class Generator(unittest.TestCase):
    def _files(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(workload, seed, d)
            return {p.name: hashlib.sha256(p.read_bytes()).hexdigest()
                    for p in sorted(Path(d).rglob("*")) if p.is_file()}

    def test_same_seed_gives_identical_bytes(self):
        for w in ("uba_sweep", "curation_pipeline", "stream_ingest"):
            self.assertEqual(self._files(w, 11), self._files(w, 11), w)

    def test_other_seed_gives_other_inputs(self):
        for w in ("uba_sweep", "curation_pipeline", "stream_ingest"):
            a, b = self._files(w, 11), self._files(w, 12)
            name = "documents.parquet" if w == "curation_pipeline" else "events.parquet"
            self.assertNotEqual(a[name], b[name], w)

    def test_events_knobs_hold(self):
        ev = gen.make_events(3, **gen.EVENTS_BATCH)
        n = len(ev["ts"])
        self.assertTrue((ev["ts"][1:] > ev["ts"][:-1]).all())  # strictly increasing
        _, counts = np.unique(ev["user_id"], return_counts=True)
        counts.sort()
        # the hot user holds its share, well above the Zipf tail's top user
        self.assertAlmostEqual(counts[-1] / n, gen.EVENTS_BATCH["hot_share"], places=3)
        self.assertLess(counts[-2], counts[-1] * 0.75)
        first_seen = {}
        for u, t, e in zip(ev["user_id"], ev["ts"], ev["event_type"]):
            first_seen.setdefault(u, (t, e))
            if e == "signup":  # a signup is always its user's first event
                self.assertEqual(first_seen[u], (t, e))

    def test_stream_lateness_stays_inside_the_watermark(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("stream_ingest", 5, d)
            truth = json.loads((Path(d) / "truth.json").read_text())
        self.assertGreater(truth["late_events"], 0)
        self.assertLess(truth["max_lateness_s"], 3600)  # the operators' delay

    def test_near_dup_families_are_planted(self):
        table, families = gen.make_documents(5, **gen.DOCS)
        self.assertGreater(len(families), 20)
        text = table.column("text").to_pylist()
        for f in families[:10]:
            probs = checks.collapse_probability([text[i] for i in f])
            self.assertGreater(probs, 0.3)


class OpenLoopLatency(unittest.TestCase):
    def test_latency_counts_from_due_time_not_send_time(self):
        # the generator stalled: batch 1 was due at 100 but sent at 900
        sent = [{"due_ns": 0, "send_ns": 0, "offset": {"q": 0}},
                {"due_ns": 100, "send_ns": 900, "offset": {"q": 1}}]
        progress = [{"query": "q", "end_offset": 0, "done_ns": 50},
                    {"query": "q", "end_offset": 1, "done_ns": 1000}]
        self.assertEqual(stats.batch_latencies(sent, progress), [50e-9, 900e-9])

    def test_batch_waits_for_every_query_and_first_covering_batch(self):
        sent = [{"due_ns": 0, "send_ns": 0, "offset": {"a": 3, "b": 3}}]
        progress = [{"query": "a", "end_offset": 5, "done_ns": 40},
                    {"query": "a", "end_offset": 9, "done_ns": 90},
                    {"query": "b", "end_offset": 2, "done_ns": 30},
                    {"query": "b", "end_offset": 3, "done_ns": 70}]
        self.assertEqual(stats.batch_latencies(sent, progress), [70e-9])

    def test_uncovered_batch_is_missing(self):
        sent = [{"due_ns": 0, "send_ns": 0, "offset": {"q": 4}}]
        self.assertEqual(stats.batch_latencies(sent, [{"query": "q", "end_offset": 3, "done_ns": 5}]), [])

    def test_backlog_counts_due_but_incomplete_batches(self):
        sent = [{"due_ns": i * 10} for i in range(4)]
        # each batch completes 25 ns after it was due, so at 20 and 30 three
        # batches are due and incomplete
        self.assertEqual(stats.max_backlog(sent, [25e-9] * 4), 3)


class Spread(unittest.TestCase):
    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(stats.spread([1.0] * 10), 0.0)
        self.assertGreater(stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), 0.5)


if __name__ == "__main__":
    unittest.main()
