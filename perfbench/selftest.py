#!/usr/bin/env python3
"""Self-tests of the benchmark harness (no JVM needed).

Usage: python3 perfbench/selftest.py      (from the repository root)
"""
import filecmp
import os
import shutil
import struct
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen_capture  # noqa: E402
import gen_tables  # noqa: E402
import stats  # noqa: E402
import viewer_mix  # noqa: E402


class Scratch(unittest.TestCase):
    def setUp(self):
        base = os.path.join(os.getcwd(), ".bench_work")
        os.makedirs(base, exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix="selftest-", dir=base)

    def tearDown(self):
        shutil.rmtree(self.dir)

    def sub(self, name):
        return os.path.join(self.dir, name)


class SameSeedSameInputs(Scratch):
    def test_capture_and_manifest_are_byte_identical(self):
        a = gen_capture.generate(5, self.sub("a"), mb=0.5)
        b = gen_capture.generate(5, self.sub("b"), mb=0.5)
        self.assertEqual(a, b)
        names = sorted(os.listdir(self.sub("a")))
        self.assertIn("manifest.json", names)
        _, mismatch, errors = filecmp.cmpfiles(self.sub("a"), self.sub("b"), names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_another_seed_gives_another_capture(self):
        a = gen_capture.generate(5, self.sub("a"), mb=0.5)
        b = gen_capture.generate(6, self.sub("b"), mb=0.5)
        self.assertNotEqual(a["files"], b["files"])

    def test_tables_are_byte_identical(self):
        self.assertEqual(gen_tables.generate(3, self.sub("a")), gen_tables.generate(3, self.sub("b")))
        self.assertNotEqual(gen_tables.generate(3, self.sub("a")), gen_tables.generate(4, self.sub("c")))

    def test_viewer_mix_is_seeded(self):
        m = gen_capture.generate(5, self.sub("cap"), mb=0.2)
        os.makedirs(self.sub("a")), os.makedirs(self.sub("b")), os.makedirs(self.sub("c"))
        self.assertEqual(viewer_mix.write(1, self.sub("a"), m), viewer_mix.write(1, self.sub("b"), m))
        self.assertNotEqual(viewer_mix.write(1, self.sub("a"), m), viewer_mix.write(2, self.sub("c"), m))


class Manifest(Scratch):
    def test_manifest_counts_what_the_files_hold(self):
        m = gen_capture.generate(9, self.sub("cap"), mb=0.5, long_flows=1)
        frames = 0
        for f in m["files"]:
            with open(os.path.join(self.sub("cap"), f["name"]), "rb") as fh:
                data = fh.read()
            self.assertEqual(len(data), f["bytes"])
            off = 24
            while off < len(data):
                incl = struct.unpack_from("<I", data, off + 8)[0]
                off += 16 + incl
                frames += 1
        fragmented = frames - sum(p for p, _ in m["per_flow"])
        self.assertGreaterEqual(fragmented, 0)
        self.assertEqual(m["flows"], len(m["per_flow"]))
        self.assertEqual(m["split_flows"], 1)
        self.assertEqual(m["rows"], m["flows"] + 1)
        self.assertEqual(sum(m["protocols"].values()), m["flows"])

    def test_check_flags_a_missing_session(self):
        m = {"rows": 2, "flows": 2, "per_flow": [[2, 100], [3, 200]], "split_flows": 0,
             "protocols": {"dns": 1, "udp": 1}, "days": ["2024-01-01"]}
        rows = [["10.0.0.1", 53, "192.168.0.1", 999, 17, 2, 100, ["dns", "udp"], 1, "2024-01-01"],
                ["10.0.0.2", 7, "192.168.0.2", 998, 17, 3, 200, ["udp"], 1, "2024-01-01"]]
        v = checks.Verdict()
        checks.compare_manifest(m, rows, v)
        self.assertTrue(v.ok, v.errors)
        v = checks.Verdict()
        checks.compare_manifest(m, rows[:1], v)
        self.assertFalse(v.ok)
        self.assertEqual(v.bad_ops, {"ingest.pass"})


class Percentiles(unittest.TestCase):
    def test_highest_percentile_keeps_ten_samples_beyond(self):
        self.assertIsNone(stats.highest_percentile(19))
        self.assertEqual(stats.highest_percentile(20), 50.0)
        self.assertEqual(stats.highest_percentile(99), 50.0)
        self.assertEqual(stats.highest_percentile(100), 90.0)
        self.assertEqual(stats.highest_percentile(999), 90.0)
        self.assertEqual(stats.highest_percentile(1000), 99.0)
        self.assertEqual(stats.highest_percentile(10000), 99.9)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.median([3, 1, 2, 4]), 2.5)


class SpanSelfTime(unittest.TestCase):
    def span(self, i, parent, a, b):
        return {"id": i, "parent": parent, "start_ns": a, "end_ns": b}

    def test_overlapping_children_count_once(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 30),
                 self.span(3, 1, 20, 50), self.span(4, 1, 60, 70),
                 self.span(5, 2, 12, 28)]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 40 - 10)
        self.assertEqual(st[2], 20 - 16)
        self.assertEqual(st[5], 16)

    def test_child_outside_parent_is_clipped(self):
        st = stats.self_times([self.span(1, 0, 0, 10), self.span(2, 1, 5, 20)])
        self.assertEqual(st[1], 5)


class OracleRule(unittest.TestCase):
    def test_values_compare_like_check_oracle(self):
        self.assertTrue(checks.same(1, 1.0))
        self.assertTrue(checks.same(float("nan"), float("nan")))
        self.assertTrue(checks.same(None, None))
        self.assertFalse(checks.same(1, 2))


if __name__ == "__main__":
    unittest.main()
