"""The benchmark's own tests: seeded inputs are byte-identical, and the
percentile, coverage, self-time and core_busy arithmetic is right.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import math
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import diff_layers  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402


def digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class SeededInputs(unittest.TestCase):
    def write(self, root, seed):
        gen.write_fixture(seed, 0.001, os.path.join(root, "fx"),
                          {"documents": 120, "embeddings": 50})
        return gen.write_users(seed, 3, 200, os.path.join(root, "csv"),
                               os.path.join(root, "pq"))

    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ea, eb = self.write(a, 5), self.write(b, 5)
            self.assertEqual(digest(a), digest(b))
            self.assertEqual(ea, eb)

    def test_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.write(a, 5)
            self.write(b, 6)
            self.assertNotEqual(digest(a), digest(b))

    def test_planted_counts_add_up(self):
        tables, exp = gen.users_files(11, 4, 500)
        self.assertEqual(sum(t.num_rows for t in tables), exp["rows"])
        self.assertEqual(exp["valid"] + sum(exp["rejected"].values()), exp["rows"])
        self.assertEqual(exp["valid_distinct"], exp["valid"] - exp["planted"]["duplicate"])
        self.assertEqual(sum(gen._valid_rows(t) for t in tables), exp["valid"])
        keys = [(n, e) for t in tables for n, e in zip(t.column("name").to_pylist(),
                                                        t.column("email").to_pylist())]
        self.assertEqual(len(keys) - len(set(keys)), exp["planted"]["duplicate"])


class Arithmetic(unittest.TestCase):
    def test_beta_cdf_matches_numeric_integral(self):
        def integral(a, b, x, steps=20000):
            lb = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
            h = x / steps
            return h * sum(math.exp((a - 1) * math.log((i + .5) * h)
                                    + (b - 1) * math.log(1 - (i + .5) * h) - lb)
                           for i in range(steps))
        for a, b, x in [(2, 3, .4), (4.5, .5, .75), (9.5, 9.5, .3), (17.1, 1.9, .95)]:
            self.assertAlmostEqual(metrics.beta_cdf(a, b, x), integral(a, b, x), places=6)
        self.assertAlmostEqual(metrics.beta_cdf(2, 3, .4), 0.5248)

    def test_percentile_is_harrell_davis(self):
        self.assertAlmostEqual(metrics.percentile([5, 1, 4, 2, 3], 50), 3.0)
        self.assertAlmostEqual(metrics.percentile([2.0] * 6, 90), 2.0)
        self.assertEqual(metrics.percentile([4.0], 90), 4.0)
        # weights from Beta(8 * .9, 8 * .1) over the 7 rank intervals
        xs = [0.9, 0.1, 0.5, 0.3, 0.7, 1.3, 0.2]
        w = [metrics.beta_cdf(7.2, 0.8, (i + 1) / 7) - metrics.beta_cdf(7.2, 0.8, i / 7)
             for i in range(7)]
        self.assertAlmostEqual(sum(w), 1.0)
        self.assertAlmostEqual(metrics.percentile(xs, 90),
                               sum(wi * x for wi, x in zip(w, sorted(xs))))
        self.assertRaises(ValueError, metrics.percentile, xs, 100)

    def test_percentile_does_not_jump_between_groups(self):
        # 10 fast and 10 slow calls: one slow call turning fast moves the
        # sample median from 0.75 to 0.5; the estimate moves under half that
        fast, slow = [0.5] * 10, [1.0] * 10
        self.assertAlmostEqual(metrics.percentile(fast + slow, 50), 0.75)
        after = metrics.percentile(fast + [0.5] + slow[1:], 50)
        self.assertLess(0.75 - after, 0.125)

    def test_end_to_end_pools_queries_only(self):
        def call(p, name, s, traced=False):
            return {"pass": p, "name": name, "traced": traced,
                    "build_s": s, "plan_s": 0.0, "exec_s": 0.0}
        raw = {"window_start": 130.0, "heap_retained_mb": 70.0,
               "passes": [{"pass": 0, "traced": False, "wall_s": 9.0},
                          {"pass": 1, "traced": True, "wall_s": 12.0},
                          {"pass": 2, "traced": False, "wall_s": 11.0}],
               "calls": [call(-1, "q", 50.0), call(0, "q", 1.0), call(0, "basic2016", 7.0),
                         call(1, "q", 40.0, traced=True), call(2, "q", 3.0),
                         call(2, "quality2022", 8.0)]}
        e2e, counts = metrics.end_to_end(raw, 100.0)
        self.assertEqual(e2e["setup_s"][0], 30.0)
        self.assertEqual(e2e["wall_s"][0], 10.0)
        self.assertAlmostEqual(e2e["query_p50_s"][0], 2.0)
        self.assertEqual(counts, {"latency_samples": 2, "passes": 2})

    def test_covered_merges_overlaps_and_clips(self):
        iv = [(0, 2), (1, 3), (5, 6), (9, 12)]
        self.assertEqual(metrics.covered(iv, 0, 10), 3 + 1 + 1)
        self.assertEqual(metrics.covered(iv, 2.5, 5.5), 0.5 + 0.5)
        self.assertEqual(metrics.covered([], 0, 1), 0)

    def test_self_time_subtracts_children_union(self):
        spans = [
            {"id": 1, "parent": -1, "start": 0.0, "end": 10.0},
            {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
            {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},
            {"id": 4, "parent": 2, "start": 1.0, "end": 2.0},
        ]
        s = metrics.self_times(spans)
        self.assertAlmostEqual(s[1], 10 - 5)
        self.assertAlmostEqual(s[2], 3 - 1)
        self.assertAlmostEqual(s[3], 3)
        self.assertAlmostEqual(s[4], 1)

    def test_core_busy(self):
        self.assertAlmostEqual(metrics.core_busy(6.0, 3.0, 4), 0.5)
        self.assertEqual(metrics.core_busy(1.0, 0.0, 4), 0.0)

    def test_diff_skips_idle_layers(self):
        rows = diff_layers.diff({"a": 2.0, "b": 0.0, "c": 0.0}, {"a": 1.0, "b": 0.0, "c": 3.0})
        self.assertEqual([r[0] for r in rows], ["a", "c"])
        self.assertAlmostEqual(rows[0][4], -0.5)
        self.assertIsNone(rows[1][4])


class Checks(unittest.TestCase):
    expected = {"rows": 100, "valid": 90, "valid_distinct": 88,
                "planted": {"duplicate": 2}}

    def test_era_counts(self):
        self.assertIsNone(check.check_era("basic2016", 100, self.expected))
        self.assertIsNotNone(check.check_era("basic2016", 99, self.expected))
        ok = {"loaded": 88, "dup_rows": 2, "valid_rows": 90, "total_rows": 100}
        self.assertIsNone(check.check_era("quality2022", ok, self.expected))
        self.assertIsNotNone(check.check_era("quality2022", dict(ok, loaded=90), self.expected))

    def test_row_rules(self):
        import pandas as pd
        df = pd.DataFrame({"n": [3, 4], "x": [1, 0]})
        self.assertIsNone(check.check_rows(df, {"rows": ["t", 2]}, {"t": 1}))
        self.assertIsNotNone(check.check_rows(df, {"rows": 3}, {}))
        self.assertIsNone(check.check_rows(df, {"sum_equals_table": ["n", "t"]}, {"t": 7}))
        self.assertIsNotNone(check.check_rows(df, {"positive": "x"}, {}))


if __name__ == "__main__":
    unittest.main()
