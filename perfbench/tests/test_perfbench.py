"""Tests of the benchmark itself (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402
import plans  # noqa: E402

# A stand-in for the key inventory the build writes: the named sweep keys
# plus keys the sweep does not time.
BY_MODULE = {m: sorted(ks + [f"other_{m}_{i}" for i in range(3)])
             for m, ks in plans.SWEEP_KEYS.items()}
MODULES = ("Dedup", "Functions", "Joins", "Relational", "Sampling", "Similarity",
           "Streaming", "TextAnalysis", "Windows")


class TailRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        pct, value = plans.tail(list(range(1, 101)))
        self.assertEqual(pct, 0.9)
        self.assertEqual(value, 90)  # 91..100 lie beyond it

    def test_fewer_samples_give_a_lower_percentile(self):
        samples = list(range(1, 33))
        pct, value = plans.tail(samples)
        self.assertEqual(sum(1 for s in samples if s > value), 10)
        self.assertAlmostEqual(pct, 22 / 32)

    def test_highest_qualifying_percentile_is_taken(self):
        for n in (11, 25, 99, 100, 101, 250):
            pct, value = plans.tail(list(range(n)))
            beyond = sum(1 for s in range(n) if s > value)
            self.assertGreaterEqual(beyond, 10)
            self.assertTrue(pct == 0.9 or beyond == 10, (n, pct, beyond))

    def test_no_tail_without_enough_samples(self):
        self.assertIsNone(plans.tail(list(range(10))))


class Generator(unittest.TestCase):
    def test_same_seed_same_inputs_and_truth(self):
        a, b = gen.Dataset(7), gen.Dataset(7)
        self.assertEqual(a.plan(), b.plan())
        self.assertEqual(a.members, b.members)
        self.assertEqual(a.edges, b.edges)
        self.assertEqual({d: t for d, (t, _) in a.dumps.items()},
                         {d: t for d, (t, _) in b.dumps.items()})
        self.assertEqual(a.truth(), b.truth())

    def test_other_seed_other_inputs(self):
        a, b = gen.Dataset(7), gen.Dataset(8)
        self.assertNotEqual(a.dumps[a.new_days[0]][0], b.dumps[b.new_days[0]][0])

    def test_dumps_hold_malformed_and_dropped_lines(self):
        ds = gen.Dataset(3)
        text, truth = ds.dumps[ds.new_days[0]]
        lines = text.splitlines()
        short = [ln for ln in lines if len(ln.split("\t")) < 17]
        self.assertTrue(short, "no truncated lines")
        self.assertTrue(any("%ZZ" in ln for ln in lines), "no bad escapes")
        self.assertTrue(any(str(gen.BIG) in ln for ln in lines), "no absurd counters")
        self.assertLess(len(truth), len(lines))


class FixedWork(unittest.TestCase):
    def test_ingest_operation_count_is_fixed(self):
        want = gen.SLOTS * (1 + gen.REQS_PER_SLOT)
        for seed in (0, 1, 99):
            ops = gen.Dataset(seed).plan()
            self.assertEqual(len(ops), want)
            self.assertEqual(sum(op[0] == "day" for op in ops), gen.SLOTS)

    def test_ingest_reruns_an_earlier_day(self):
        slots = gen.Dataset(5).slots
        self.assertEqual(len(slots), gen.SLOTS)
        self.assertLess(len(set(slots)), len(slots))

    def test_sweep_runs_the_same_keys_in_a_seeded_order(self):
        a = plans.sweep_plan(BY_MODULE, 1)
        self.assertEqual(a, plans.sweep_plan(BY_MODULE, 1))
        b = plans.sweep_plan(BY_MODULE, 2)
        self.assertEqual(sorted(a), sorted(b))
        self.assertNotEqual(a, b)
        self.assertEqual(len(a), 24)

    def test_sweep_covers_every_module(self):
        self.assertEqual(sorted(plans.SWEEP_KEYS), sorted(MODULES))
        for module, ks in plans.SWEEP_KEYS.items():
            self.assertTrue(ks, module)
        keys = plans.workload_keys(BY_MODULE)
        self.assertEqual(len(keys), len(set(keys)))

    def test_sweep_ignores_keys_it_does_not_name(self):
        more = {m: ks + ["zz_new_key"] for m, ks in BY_MODULE.items()}
        self.assertEqual(plans.sweep_plan(more, 3), plans.sweep_plan(BY_MODULE, 3))

    def test_missing_sweep_key_stops_the_run(self):
        fewer = dict(BY_MODULE, Dedup=[k for k in BY_MODULE["Dedup"] if k != "dedup_exact"])
        with self.assertRaises(SystemExit):
            plans.workload_keys(fewer)

    def test_check_keys_cover_every_key_over_consecutive_seeds(self):
        keys = plans.workload_keys(BY_MODULE)
        for start in (0, 1, 17):
            seen = set()
            for seed in range(start, start + plans.CHECK_STRIDE):
                checked = plans.check_keys(keys, seed)
                self.assertEqual(len(checked), len(keys) // plans.CHECK_STRIDE)
                seen.update(checked)
            self.assertEqual(seen, set(keys))


if __name__ == "__main__":
    unittest.main()
