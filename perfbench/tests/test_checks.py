"""The benchmark's own tests: each output check must fail on a dropped
micro-batch, on a doubled one and on a wrong query digest.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import random
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import loadgen  # noqa: E402
import tracing  # noqa: E402


def micro_batches(seed, users=4, seconds=6, per_batch=150):
    """Generated events cut into consumer micro-batches, and the truth."""
    rng = random.Random(seed)
    events = []
    for u in loadgen.user_ids(seed)[:users]:
        pos = [100, 100]
        for s in range(seconds):
            lo = loadgen.BACKLOG_EPOCH_MS + s * 1000
            events += loadgen.events_for(rng, u, lo - 1, lo + 999, pos)
    events.sort(key=lambda e: e["time"])
    truth = count(events)
    return [events[i:i + per_batch] for i in range(0, len(events), per_batch)], truth


def count(events):
    out = {}
    for e in events:
        key = f"{e['user_id']}|{e['time'] // 1000}"
        out[key] = out.get(key, 0) + 1
    return out


def served(batches):
    """What the served table shows after the consumer merged `batches`:
    per-(user, second) counts over every delivered event."""
    return count([e for b in batches for e in b])


class StreamingCheck(unittest.TestCase):
    def setUp(self):
        self.batches, self.truth = micro_batches(7)

    def test_exactly_once_passes(self):
        self.assertEqual(checks.compare_counts(self.truth, served(self.batches)), [])

    def test_dropped_micro_batch_fails(self):
        dropped = self.batches[:3] + self.batches[4:]
        self.assertTrue(checks.compare_counts(self.truth, served(dropped)))

    def test_doubled_micro_batch_fails(self):
        doubled = self.batches + [self.batches[3]]
        self.assertTrue(checks.compare_counts(self.truth, served(doubled)))

    def test_window_never_acknowledged_fails(self):
        extra = dict(served(self.batches), **{"u00000000|1": 5})
        self.assertTrue(checks.compare_counts(self.truth, extra))

    def test_warmup_user_is_ignored(self):
        extra = dict(served(self.batches), **{"warmup|1": 100})
        self.assertEqual(checks.compare_counts(self.truth, extra), [])


class DigestCheck(unittest.TestCase):
    expected = {"q1_pricing": [4, 8589934591, -2], "graph_pagerank": [100, 7, 9]}

    def test_equal_digests_pass(self):
        self.assertEqual(checks.compare_digests(self.expected, dict(self.expected)), [])

    def test_wrong_hash_fails(self):
        got = dict(self.expected, graph_pagerank=[100, 7, 10])
        self.assertEqual(len(checks.compare_digests(self.expected, got)), 1)

    def test_wrong_row_count_fails(self):
        got = dict(self.expected, q1_pricing=[5, 8589934591, -2])
        self.assertEqual(len(checks.compare_digests(self.expected, got)), 1)

    def test_missing_query_fails(self):
        got = {"q1_pricing": self.expected["q1_pricing"]}
        self.assertEqual(len(checks.compare_digests(self.expected, got)), 1)


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [
            {"id": "b", "parent": "", "layer": "streaming", "start": 0, "end": 100},
            {"id": "j1", "parent": "b", "layer": "engine", "start": 10, "end": 40},
            {"id": "j2", "parent": "b", "layer": "engine", "start": 30, "end": 60},
        ]
        got = tracing.self_times(spans)
        self.assertEqual(got["streaming"], 50)
        self.assertEqual(got["engine"], 60)


if __name__ == "__main__":
    unittest.main()
