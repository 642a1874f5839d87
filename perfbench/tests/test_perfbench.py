"""Self-tests of the benchmark's own logic. No Spark needed:

  python3 -m unittest discover -s perfbench/tests
"""

import filecmp
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import civicgen  # noqa: E402
import metrics  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(metrics.tail_percentile(1000), 99)
        self.assertEqual(metrics.tail_percentile(200), 95)
        self.assertEqual(metrics.tail_percentile(199), 90)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(99), 75)
        self.assertEqual(metrics.tail_percentile(40), 75)
        self.assertEqual(metrics.tail_percentile(20), 50)
        self.assertIsNone(metrics.tail_percentile(19))

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile([7], 90), 7)
        self.assertIsNone(metrics.percentile([], 90))


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(0, 10), (10, 12)]), 12)
        self.assertEqual(metrics.union_length([(0, 10), (5, 15)], 2, 8), 6)
        self.assertEqual(metrics.union_length([]), 0)

    def test_driver_gap_is_time_no_job_covers(self):
        # op 0..100 with jobs 10..30 and 20..50 (overlapping) and 90..120
        self.assertEqual(metrics.driver_gap(0, 100, [(10, 30), (20, 50), (90, 120)]), 50)
        self.assertEqual(metrics.driver_gap(0, 100, []), 100)

    def test_span_self_time_subtracts_direct_children(self):
        spans = [
            {"name": "c1", "depth": 1, "t0": 10, "t1": 30, "dur_ms": 20.0},
            {"name": "g", "depth": 2, "t0": 40, "t1": 45, "dur_ms": 5.0},
            {"name": "c2", "depth": 1, "t0": 35, "t1": 60, "dur_ms": 25.0},
            {"name": "op", "depth": 0, "t0": 0, "t1": 100, "dur_ms": 100.0},
        ]
        self.assertEqual(metrics.self_times(spans), [20.0, 5.0, 20.0, 55.0])


class CivicGenerator(unittest.TestCase):
    def test_byte_identical_for_a_seed(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            civicgen.generate(a, 7, 2)
            civicgen.generate(b, 7, 2)
            civicgen.generate(c, 8, 2)
            same = filecmp.dircmp(a, b)
            self.assertTrue(_identical(same), "same seed gave different files")
            self.assertFalse(_identical(filecmp.dircmp(a, c)),
                             "another seed gave the same files")

    def test_us_shape(self):
        c = civicgen.Corpus(3)
        self.assertEqual(len(c.districts), 435)
        self.assertEqual(len(c.states), 50)
        self.assertEqual(len(c.people), 535)
        # ZIPs tile each state; every district touches at least one ZIP
        for z in c.zips:
            st = c.state_by_ab[z["state"]]["rect"]
            self.assertTrue(st[0] <= z["rect"][0] and z["rect"][2] <= st[2] and
                            st[1] <= z["rect"][1] and z["rect"][3] <= st[3])
        for d in c.districts:
            self.assertTrue(any(civicgen.closed_overlap(d["rect"], z["rect"])
                                for z in c.zips if z["state"] == d["state"]))


def _identical(cmp):
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(cmp.left, cmp.right, cmp.common_files,
                                           shallow=False)
    return not mismatch and not errors and all(
        _identical(sub) for sub in cmp.subdirs.values())


class OutputChecks(unittest.TestCase):
    def test_tampered_expected_digest_is_reported(self):
        with open(os.path.join(BENCH, "expected", "queries_sf0.01.json")) as f:
            expected = json.load(f)
        for q, want in expected.items():
            self.assertIsInstance(want["hash"], int, q)
        q = next(iter(expected))
        got = [{"unit": 0, "query": q, **expected[q]}]
        self.assertEqual(metrics.check_digests(got, expected), [])
        tampered = {**expected, q: {**expected[q], "hash": expected[q]["hash"] ^ 1}}
        bad = metrics.check_digests(got, tampered)
        self.assertEqual([b[0] for b in bad], [q])
        wrong_rows = {**expected, q: {**expected[q], "rows": expected[q]["rows"] + 1}}
        self.assertEqual(len(metrics.check_digests(got, wrong_rows)), 1)
        self.assertEqual(len(metrics.check_digests(got, {})), 1)

    def test_wrong_lookup_and_table_are_reported(self):
        with tempfile.TemporaryDirectory() as d:
            truth = civicgen.generate(d, 5, 1)
        spec = truth["batches"][0]["lookups"][0]
        record = {"lookups": [{"unit": 1, "batch": 0, "kind": spec["kind"],
                               "key": spec["key"], "result": spec["expect"]}],
                  "batches_applied": 0}
        self.assertEqual(metrics.check_civic(record, truth), (0, []))
        record["lookups"][0]["result"] = spec["expect"][1:]
        self.assertEqual(len(metrics.check_civic(record, truth)[1]), 1)
        record["lookups"] = []
        record["batches_applied"] = 1
        record["keys"] = {t: [] for t in truth["batches"][0]["tables"]}
        record["voters_error"] = "unreadable"
        checks, bad = metrics.check_civic(record, truth)
        self.assertEqual((checks, len(bad)), (6, 6))

    def test_wrong_voter_is_reported(self):
        truth = {"e#0": "ocd-person/a", "e#1": None, "f#0": "ocd-person/b"}
        right = [["e#0", "ocd-person/a"], ["e#1", None]]
        self.assertEqual(metrics.check_voters(right, truth), (2, []))
        # an unknown name left unresolved may read as an empty id
        self.assertEqual(metrics.check_voters([["e#0", "ocd-person/a"], ["e#1", ""]],
                                              truth), (2, []))
        for voters in ([["e#0", "ocd-person/b"], ["e#1", None]],  # mis-resolved
                       [["e#0", "ocd-person/a"], ["e#1", "ocd-person/a"]],  # over-matched
                       [["e#0", "ocd-person/a"]],  # vote lost
                       right + [["e#2", None]]):  # vote made up
            checks, bad = metrics.check_voters(voters, truth)
            self.assertEqual(len(bad), 1, voters)
            self.assertGreaterEqual(checks, len(bad))

    def test_er_quality(self):
        truth = {"e#0": "ocd-person/a", "e#1": "ocd-person/b", "e#2": None}
        voters = [["e#0", "ocd-person/a"], ["e#1", "ocd-person/c"], ["e#2", ""]]
        frac, precision = metrics.er_quality(voters, truth)
        self.assertAlmostEqual(frac, 2 / 3)
        self.assertAlmostEqual(precision, 1 / 2)


class MetricNames(unittest.TestCase):
    def test_names_are_well_formed_and_match_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        for group, declared in (("end_to_end", metrics.END_TO_END),
                                ("per_layer", metrics.PER_LAYER)):
            names = [m["name"] for m in bench[group]]
            self.assertEqual(len(names), len(set(names)), group)
            self.assertEqual(names, [n for n, _ in declared], group)
            self.assertEqual([m["unit"] for m in bench[group]],
                             [u for _, u in declared], group)
            for n in names:
                self.assertRegex(n, metrics.NAME_RE)
                self.assertLessEqual(len(n), 64)
        for w in bench["workloads"]:
            self.assertRegex(w["name"], metrics.NAME_RE)


if __name__ == "__main__":
    unittest.main()
