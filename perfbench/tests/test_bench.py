"""Tests of the benchmark's own arithmetic and generators.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_eleventh_largest_of_many(self):
        xs = [float(i) for i in range(1, 31)]  # 1..30
        value, pct, n = stats.tail(xs)
        self.assertEqual(value, 20.0)  # 10 samples (21..30) lie beyond it
        self.assertAlmostEqual(pct, 100.0 * 20 / 30)
        self.assertEqual(n, 30)
        self.assertEqual(sum(x > value for x in xs), 10)

    def test_smallest_count_with_a_tail_percentile(self):
        xs = list(range(21))
        self.assertEqual(stats.tail(xs), (10, 100.0 * 11 / 21, 21))

    def test_too_few_samples_average_the_slowest_quarter(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0 * 2 / 3, 3))
        self.assertEqual(stats.tail([7.0]), (7.0, 0.0, 1))
        twelve = [float(i) for i in range(1, 13)]
        self.assertEqual(stats.tail(twelve), (11.0, 75.0, 12))  # 10, 11, 12
        self.assertEqual(stats.tail(list(range(20))), (17.0, 75.0, 20))  # 15..19

    def test_order_does_not_matter(self):
        xs = [0.3, 1.2, 0.1, 0.9] * 8
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


def span(i, parent, start, end, kind="k"):
    return {"id": i, "parent": parent, "trace": "t", "kind": kind,
            "name": str(i), "startMs": start, "endMs": end}


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_are_counted_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 60),
                 span(4, 1, 90, 130)]  # 4 sticks out of its parent
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - (50 + 10))  # covered: 10..60 and 90..100
        self.assertEqual(st[2], 30)
        self.assertEqual(st[4], 40)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [span(1, 0, 0, 10, "op"), span(2, 1, 0, 10, "execution"),
                 span(3, 2, 2, 6, "job")]
        self.assertEqual(stats.self_time_by_kind(spans),
                         {"op": 0.0, "execution": 0.006, "job": 0.004})


class FailureTest(unittest.TestCase):
    def result(self):
        ok = {"name": "q_ok", "build_s": 0.5, "exec_s": 0.5, "error": None}
        boom = {"name": "q_throws", "build_s": 0.0, "exec_s": 9.0,
                "error": "RuntimeException: boom"}
        wrong = {"name": "q_wrong", "build_s": 0.0, "exec_s": 7.0,
                 "error": "wrong output: rows 1 != 2"}
        return {"samples": [ok, boom, ok, wrong], "setup_s": [3.0, 1.0, 2.0]}

    def test_failures_count_and_leave_no_latency_sample(self):
        m, detail = stats.end_to_end(self.result())
        self.assertEqual(detail["failed_frac"], 0.5)
        self.assertEqual(m["query_p50_s"], 1.0)  # only the two ok samples
        self.assertEqual(m["query_tail_s"], 1.0)
        self.assertEqual(detail["tail_samples"], 2)
        self.assertEqual(m["setup_s"], 2.0)
        # failed attempts still cost time: 2 ok ops over 18 s busy
        self.assertAlmostEqual(m["queries_per_s"], 2 / 18.0)

    def test_all_failed_reports_no_latency(self):
        r = self.result()
        r["samples"] = r["samples"][1:2]
        m, detail = stats.end_to_end(r)
        self.assertNotIn("query_p50_s", m)
        self.assertEqual(detail["failed_frac"], 1.0)


class SeedTest(unittest.TestCase):
    shape = (40, 24, 8)

    def test_volume_bytes_depend_only_on_the_seed(self):
        a = gen.volume_digest(7, 0, self.shape, 16)
        self.assertEqual(a, gen.volume_digest(7, 0, self.shape, 16))
        self.assertNotEqual(a, gen.volume_digest(8, 0, self.shape, 16))
        self.assertNotEqual(a, gen.volume_digest(7, 1, self.shape, 16))

    def test_streamed_file_matches_and_has_its_dark_slab(self):
        with tempfile.TemporaryDirectory() as d:
            p = os.path.join(d, "v.nii")
            gen.write_volume(p, 7, 0, self.shape, 16)
            with open(p, "rb") as f:
                data = f.read()
        self.assertEqual(hashlib.sha256(data).hexdigest(),
                         gen.volume_digest(7, 0, self.shape, 16))
        import numpy as np
        vol = np.frombuffer(data[352:], "<f4").reshape(self.shape[::-1])  # z, y, x
        self.assertTrue((vol[:, :, :16] == 0).all())
        self.assertGreaterEqual(vol[:, :, 16:].min(), 400.0)

    def test_query_order_depends_only_on_the_seed(self):
        names = [f"q{i}" for i in range(12)]
        a = gen.query_order(names, 3)
        self.assertEqual(a, gen.query_order(list(reversed(names)), 3))
        self.assertEqual(sorted(a), sorted(names))
        self.assertNotEqual(a, gen.query_order(names, 4))

    def test_tables_depend_only_on_the_data_seed(self):
        small = dict(gen.ROWS, lineitem=50, orders=20, documents=15, embeddings=5)
        a = gen.make_tables(1, small)
        b = gen.make_tables(1, small)
        self.assertTrue(all(a[k].equals(b[k]) for k in a))
        self.assertFalse(a["lineitem"].equals(gen.make_tables(2, small)["lineitem"]))


class MriExpectedTest(unittest.TestCase):
    def test_reference_geometry_matches_its_known_counts(self):
        # the reference scan at 1/4 per axis: 1,060 slices and 16,560 records
        # from two volumes when no patch is dark
        e = run.mri_expected(2, shape=(240, 210, 160), dark_x=0)
        self.assertEqual(e["slices"], 1060)
        self.assertEqual(e["entries"], 16560)


if __name__ == "__main__":
    unittest.main()
