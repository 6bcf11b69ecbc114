"""The benchmark's own tests: no JVM needed.

    python3 -m unittest discover -s e2ebench -p 'test_*.py'
"""

import json
import os
import tempfile
import time
import unittest
from decimal import Decimal
from types import SimpleNamespace

import layers
import load
import mix
import stats
from journal import Journal
from run import Run, recorded


def tree(root):
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def journal(root, seed=3):
    j = Journal(root, seed, 2, 12)
    for _ in range(60):
        j.transaction()
    j.delta(5, 2)
    return j


class SeedTest(unittest.TestCase):
    def test_same_seed_same_journal_and_requests(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ja, jb = journal(a), journal(b)
            self.assertEqual(tree(a), tree(b))
            va, vb = mix.View(ja, ja.tenants), mix.View(jb, jb.tenants)
            ma, mb = mix.Mix(va, 11), mix.Mix(vb, 11)
            self.assertEqual([ma.next() for _ in range(300)], [mb.next() for _ in range(300)])

    def test_lanes_share_one_draw_sequence(self):
        # lanes 0 and 1 of 2 draw the points a single lane draws, interleaved
        with tempfile.TemporaryDirectory() as a:
            j = journal(a)
            v = mix.View(j, j.tenants)
            t = j.tenants[0]
            one = mix.Mix(v, 11)
            lanes = [mix.Mix(v, 11, lane=i, lanes=2) for i in range(2)]
            want = [one._pick(one.gql_pages[t]) for _ in range(40)]
            got = [[m._pick(m.gql_pages[t]) for _ in range(20)] for m in lanes]
            self.assertEqual(want[0::2], got[0])
            self.assertEqual(want[1::2], got[1])

    def test_other_seed_other_journal(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            journal(a, 3), journal(b, 4)
            self.assertNotEqual(tree(a), tree(b))


class LedgerTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.j = journal(self.dir.name)
        self.view = mix.View(self.j, self.j.tenants)

    def tearDown(self):
        self.dir.cleanup()

    def answer(self, route, key):
        """The body a correct edge returns, built from the ledger."""
        v = self.view
        if route == "account":
            t, n = key
            a = next(a for a in v.accounts[t] if a[0] == n)
            return [{"tenant": t, "name": n, "currency": a[1], "format": a[2],
                     "balance": float(v.bal(t, n))}]
        if route == "balances":
            (t,) = key
            return [{"name": n, "balance": float(b)}
                    for (tt, n), b in sorted(v.balance.items()) if tt == t]
        raise AssertionError(route)

    def test_right_answer_passes_and_planted_wrong_answer_fails(self):
        m = mix.Mix(self.view, 5)
        checked = 0
        while checked < 20:
            route, _, _, _, key = m.next()
            if route not in ("account", "balances"):
                continue
            body = self.answer(route, key)
            self.assertIsNone(mix.check(self.view, route, key, json.dumps(body)))
            if body:
                body[-1]["balance"] += 0.01  # one cent off
                self.assertIsNotNone(mix.check(self.view, route, key, json.dumps(body)))
            checked += 1

    def test_table_check_counts_a_wrong_pass(self):
        want = self.j.expected_tables()
        wrong = json.loads(json.dumps(want))
        k = next(iter(wrong["balances"]))
        wrong["balances"][k] = str(Decimal(wrong["balances"][k]) + 1)
        for tables, failed in ((want, 0), (wrong, 1)):
            run = Run.__new__(Run)
            run.attempted = run.failed = 0
            run.errors = []
            run.jvm = SimpleNamespace(call=lambda op, t=tables: t)
            run.check_tables(self.j, "pass")
            self.assertEqual((run.attempted, run.failed), (1, failed))


class PercentileTest(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_beyond(list(range(10))))
        self.assertEqual(stats.tail_beyond(list(range(11))), (1 / 11, 0))
        q, v = stats.tail_beyond(list(range(200)))
        self.assertEqual((q, v), (0.95, 189))
        # exactly ten samples lie beyond the reported value
        self.assertEqual(sum(x > v for x in range(200)), 10)
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertIsNone(stats.median([]))


class SyncTraceTest(unittest.TestCase):
    def test_discovery_count_from_recorded_lines(self):
        lines = ["graft.dwh.discovery.tenant:1|c", "graft.dwh.discovery.transfer:7|c",
                 "graft.dwh.memory.bytes:99|g"]
        self.assertEqual(recorded(lines, "discovery.transfer"), 7)
        self.assertEqual(recorded([], "discovery.transfer"), 0)

    def test_event_scan_counts_once_across_a_cached_plan(self):
        # executions 1 and 2 both use the cached plan holding scan node 10;
        # execution 2 also scans event files uncached (node 11)
        events = "/j/t_*/account/*/events/*/*"
        cached = {"node": 10, "name": events, "rows": 120}
        qe = lambda i, scans: {"kind": "qe", "qe": i, "rdd_scans": scans}  # noqa: E731
        rec = layers.Records([
            {"kind": "job", "job": 1, "exec": 1, "tags": ["e2e-span-4"], "stages": []},
            {"kind": "job", "job": 2, "exec": 2, "tags": ["e2e-span-4"], "stages": []},
            {"kind": "exec_end", "exec": 1, "time": 0, "qe": 101},
            {"kind": "exec_end", "exec": 2, "time": 0, "qe": 102},
            qe(101, [cached]),
            qe(102, [cached, {"node": 11, "name": events, "rows": 30},
                     {"node": 12, "name": "/j/t_*/transaction/*", "rows": 50}])])
        self.assertEqual(rec.event_records(rec.jobs_of_spans([4])), 150)
        self.assertEqual(rec.event_records(rec.jobs_of_spans([5])), 0)


class OpenLoopTest(unittest.TestCase):
    def test_lateness_is_reported(self):
        # each call takes three intervals, so the schedule falls behind
        loop = load.OpenLoop(50, lambda: time.sleep(0.06)).start()
        time.sleep(0.5)
        loop.stop()
        late = loop.lateness()
        self.assertGreater(late["calls"], 3)
        self.assertGreater(late["late_max_ms"], 100)
        self.assertEqual(len(loop.late_ms), len(loop.due))


if __name__ == "__main__":
    unittest.main()
