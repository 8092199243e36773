"""The benchmark's own tests: each output check accepts a correct output
and rejects a corrupted one. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402


def ok(result):
    return result[0]


class SocialGraphChecks(unittest.TestCase):
    def test_same_set(self):
        want = [(1, 2), (2, 1), (3, 4)]
        self.assertTrue(ok(checks.same_set(want, list(reversed(want)))))
        self.assertFalse(ok(checks.same_set(want, want[:2])))
        self.assertFalse(ok(checks.same_set(want, want + [(9, 9)])))

    def test_same_list_keeps_order_and_limit(self):
        self.assertTrue(ok(checks.same_list([(1,), (2,)], [(1,), (2,)])))
        self.assertFalse(ok(checks.same_list([(1,), (2,)], [(1,), (3,)])))
        self.assertFalse(ok(checks.same_list([(1,), (2,)], [(1,), (2,), (3,)])))

    def test_mutuals_symmetric(self):
        self.assertTrue(ok(checks.symmetric([(1, 2), (2, 1)])))
        self.assertFalse(ok(checks.symmetric([(1, 2), (2, 1), (3, 4)])))

    def test_upsert_one_newest_row(self):
        want = [(1, 200, "b"), (2, 100, "c")]
        self.assertTrue(ok(checks.one_row_per_key_newest(want, want)))
        self.assertFalse(ok(checks.one_row_per_key_newest(want, want + [(1, 100, "a")])))
        self.assertFalse(ok(checks.one_row_per_key_newest(want, [(1, 100, "a"), (2, 100, "c")])))

    def test_interests_and_rollup(self):
        following = [(1, 10), (1, 11), (1, 12), (2, 10)]
        cats = {10: "storage", 11: "streaming", 12: "performance"}
        child, rollup = checks.interests_expected(following, cats, gen.CATEGORY_MIX, gen.TAXONOMY)
        self.assertEqual(len(child), 4)
        self.assertIn((1, "data", "storage", 0.875, 2), rollup)
        self.assertTrue(ok(checks.rollup_matches(rollup, rollup)))
        nudged = [r[:3] + (r[3] + 1e-12,) + r[4:] for r in rollup]
        self.assertTrue(ok(checks.rollup_matches(rollup, nudged)))
        off = [r[:3] + (r[3] + 1e-6,) + r[4:] for r in rollup]
        self.assertFalse(ok(checks.rollup_matches(rollup, off)))
        wrong_top = [(1, "data", "streaming", 0.875, 2) if r[:2] == (1, "data") else r for r in rollup]
        self.assertFalse(ok(checks.rollup_matches(rollup, wrong_top)))
        self.assertFalse(ok(checks.rollup_matches(rollup, rollup + [rollup[0]])))
        self.assertTrue(ok(checks.n_interests_sum(len(child), rollup)))
        self.assertFalse(ok(checks.n_interests_sum(len(child) + 1, rollup)))


class CrawlCurationChecks(unittest.TestCase):
    def test_funnel(self):
        good = [{"rows": n} for n in (8, 8, 8, 7, 6, 5, 3)]
        self.assertTrue(ok(checks.funnel_never_grows(good, 8)))
        grows = [{"rows": n} for n in (8, 8, 8, 7, 6, 7, 3)]
        self.assertFalse(ok(checks.funnel_never_grows(grows, 8)))
        lost = [{"rows": n} for n in (8, 8, 7, 7, 6, 5, 3)]
        self.assertFalse(ok(checks.funnel_never_grows(lost, 8)))

    def test_ids(self):
        self.assertTrue(ok(checks.subset([1, 2], [1, 2, 3])))
        self.assertFalse(ok(checks.subset([1, 4], [1, 2, 3])))
        self.assertTrue(ok(checks.at_most_one_per_group([[1, 2, 3]], [1, 5])))
        self.assertFalse(ok(checks.at_most_one_per_group([[1, 2, 3]], [1, 3])))
        self.assertTrue(ok(checks.disjoint([7], [1, 2], "eval pages")))
        self.assertFalse(ok(checks.disjoint([7], [1, 7], "eval pages")))

    def test_text(self):
        clean = "the café of münchen"
        self.assertTrue(ok(checks.no_mojibake([clean])))
        self.assertFalse(ok(checks.no_mojibake([gen.mojibake(clean)])))
        self.assertTrue(ok(checks.nfc_stable([clean])))
        self.assertFalse(ok(checks.nfc_stable(["the café"])))


class AdmissionChecks(unittest.TestCase):
    def test_unique_ids(self):
        self.assertTrue(ok(checks.unique_ids([1, 2, 3])))
        self.assertFalse(ok(checks.unique_ids([1, 2, 2])))

    def test_copies_not_admitted(self):
        seed = {1, 2}
        admitted = {10: 1, 11: 2}           # id -> round it was admitted in
        copies = [(2, 20, 1), (3, 21, 10)]  # (round, copy id, source)
        self.assertTrue(ok(checks.copies_not_admitted(copies, admitted, seed, {}, "copies")))
        self.assertFalse(ok(checks.copies_not_admitted(
            copies, {**admitted, 21: 3}, seed, {}, "copies")))
        # a copy of a source retracted before its batch is new content
        self.assertTrue(ok(checks.copies_not_admitted(
            [(3, 22, 2)], {22: 3}, seed, {2: 2}, "copies")))
        # a copy of a source admitted in the same batch was not indexed yet
        self.assertTrue(ok(checks.copies_not_admitted(
            [(2, 23, 11)], {23: 2, 11: 2}, seed, {}, "copies")))

    def test_corpus_rows_match_funnel(self):
        self.assertTrue(ok(checks.corpus_rows_match_funnel([1, 1, 2], {1: 2, 2: 1, 3: 0}, [1, 2, 3])))
        self.assertFalse(ok(checks.corpus_rows_match_funnel([1, 1, 2], {1: 2, 2: 2}, [1, 2])))
        self.assertFalse(ok(checks.corpus_rows_match_funnel([1], {}, [1])))

    def test_serve_verdicts(self):
        probes = {100: ("retracted", 5), 101: ("admitted", 6), 102: ("recrawl", 1),
                  103: ("unrelated", -1)}
        good = [(1, 100, "new"), (1, 101, "exact"), (1, 102, "exact"), (1, 103, "new")]
        self.assertTrue(ok(checks.serve_verdicts(good, probes, {6: 1})))
        self.assertFalse(ok(checks.serve_verdicts(
            [(1, 100, "exact")] + good[1:], probes, {6: 1})))
        self.assertFalse(ok(checks.serve_verdicts(
            good[:1] + [(1, 101, "near")] + good[2:], probes, {6: 1})))

    def test_serves_itself(self):
        src = {(1, 100): 5}
        self.assertTrue(ok(checks.serves_itself({(1, 100): (5, 1.0 - 1e-15)}, src)))
        self.assertFalse(ok(checks.serves_itself({(1, 100): (6, 1.0)}, src)))
        self.assertFalse(ok(checks.serves_itself({(1, 100): (5, 0.99)}, src)))
        self.assertFalse(ok(checks.serves_itself({}, src)))

    def test_retracted_never_served(self):
        gone = {1: {7}, 2: {7, 8}}
        self.assertTrue(ok(checks.retracted_never_served([(1, 8), (2, 9)], gone.get)))
        self.assertFalse(ok(checks.retracted_never_served([(2, 8)], gone.get)))


class Generators(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        import pyarrow.parquet as pq
        for w in ("text_admission", "vector_admission"):
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                gen.GENERATORS[w](7, a)
                gen.GENERATORS[w](7, b)
                for f in sorted(os.listdir(a)):
                    self.assertTrue(pq.read_table(os.path.join(a, f)).equals(
                        pq.read_table(os.path.join(b, f))), "%s %s" % (w, f))

    def test_mojibake_round_trips(self):
        for w in gen.ACCENTED:
            bad = gen.mojibake(w)
            self.assertTrue(any(m in bad for m in gen.MOJIBAKE_MARKS))
            self.assertEqual(bad.encode("latin-1").decode("utf-8"), w)


if __name__ == "__main__":
    unittest.main()
