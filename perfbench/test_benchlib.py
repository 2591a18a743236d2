"""Tests of the benchmark's own arithmetic and output checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import os
import tempfile
import unittest

import benchlib as bl
import run


def sha(b):
    return hashlib.sha256(b).hexdigest()


class StatsTest(unittest.TestCase):
    def test_median_carries_its_sample_count(self):
        self.assertEqual(bl.median([3.0, 1.0, 2.0]), (2.0, 3))
        self.assertEqual(bl.median([4.0, 1.0, 3.0, 2.0]), (2.5, 4))
        self.assertEqual(bl.median([7.5]), (7.5, 1))
        with self.assertRaises(ValueError):
            bl.median([])

    def test_percentile_interpolates_and_carries_its_sample_count(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(bl.percentile(xs, 0), (1, 100))
        self.assertEqual(bl.percentile(xs, 100), (100, 100))
        self.assertAlmostEqual(bl.percentile(xs, 50)[0], 50.5)
        self.assertAlmostEqual(bl.percentile(xs, 99)[0], 99.01)
        self.assertEqual(bl.percentile([5.0], 99), (5.0, 1))

    def test_files_per_s_and_mb_per_s(self):
        self.assertAlmostEqual(bl.files_per_s(8, 4.0), 2.0)
        # 2 MB up + 2 MB down in 1 s + 3 s
        self.assertAlmostEqual(bl.mb_per_s(2_000_000, 2_000_000, 1.0, 3.0), 1.0)
        with self.assertRaises(ValueError):
            bl.files_per_s(8, 0.0)
        with self.assertRaises(ValueError):
            bl.fail_frac(0, 0)
        self.assertEqual(bl.fail_frac(1, 4), 0.25)


class TreeTest(unittest.TestCase):
    def test_same_seed_same_tree_other_seed_other_tree(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            ta = bl.make_trees(a, 7, n_small=5, n_large=1, large_bytes=1000)
            tb = bl.make_trees(b, 7, n_small=5, n_large=1, large_bytes=1000)
            tc = bl.make_trees(c, 8, n_small=5, n_large=1, large_bytes=1000)
            self.assertEqual(ta, tb)
            self.assertNotEqual(ta["small"], tc["small"])
            for rel, h in ta["small"].items():
                with open(os.path.join(a, "src_small", rel), "rb") as f:
                    self.assertEqual(sha(f.read()), h)
                size = os.path.getsize(os.path.join(a, "src_small", rel))
                self.assertTrue(1024 <= size <= 64 * 1024)

    def test_enumeration_follows_path_order(self):
        got = bl.enumerated({"d1/b.dat": "B", "a.dat": "A", "d0/c.dat": "C"}, "f", ".dat")
        self.assertEqual(got, {"f_1.dat": "A", "f_2.dat": "C", "f_3.dat": "B"})
        # f_10 sorts before f_2, so the download renumbers by path order
        ups = {f"f_{k}.dat": str(k) for k in range(1, 11)}
        down = bl.expected_steps({"small": {f"s{k:02d}.dat": str(k) for k in range(1, 11)},
                                  "large": {}})["small.download"]
        self.assertEqual(down["g_2.dat"], ups["f_10.dat"])


def transfer_record(tree):
    """A passing two-pass transfer record built from the expectations."""
    exp = bl.expected_steps(tree)
    steps = {s: {"wall_s": 0.5, "exit": 0, "spark_jobs": None, "files": dict(files)}
             for s, files in exp.items()}
    steps["small.move"]["left"] = []
    passes = [{"pass": i, "wall_s": 6.0,
               "steps": {p: {s: dict(v, files=dict(v["files"])) for s, v in steps.items()}
                         for p in ("ftp", "sftp")}} for i in range(2)]
    return {"passes": passes}


TREE = {"small": {"a.dat": sha(b"a"), "d0/b.dat": sha(b"b")},
        "large": {"x.bin": sha(b"x" * 10)}, "small_bytes": 2, "large_bytes": 10}


class FailFracTest(unittest.TestCase):
    def test_clean_transfer_has_no_failures(self):
        _, _, attempted, failed, failures = run.evaluate_transfer(transfer_record(TREE), TREE)
        self.assertEqual((attempted, failed, failures), (24, 0, []))

    def test_corrupted_file_fails_its_step(self):
        r = transfer_record(TREE)
        r["passes"][1]["steps"]["sftp"]["small.download"]["files"]["g_1.dat"] = sha(b"corrupt")
        _, _, attempted, failed, failures = run.evaluate_transfer(r, TREE)
        self.assertEqual(failed, 1)
        self.assertEqual(bl.fail_frac(failed, attempted), 1 / 24)
        self.assertIn("bytes differ: g_1.dat", failures[0])

    def test_missing_enumerated_name_fails_its_step(self):
        r = transfer_record(TREE)
        del r["passes"][0]["steps"]["ftp"]["small.upload"]["files"]["f_2.dat"]
        r["passes"][0]["steps"]["ftp"]["small.move"]["files"]["m_3.dat"] = sha(b"b")
        _, _, _, failed, failures = run.evaluate_transfer(r, TREE)
        self.assertEqual(failed, 2)
        self.assertTrue(any("missing f_2.dat" in f for f in failures))
        self.assertTrue(any("extra m_3.dat" in f for f in failures))

    def test_nonzero_exit_and_leftovers_fail(self):
        r = transfer_record(TREE)
        r["passes"][0]["steps"]["ftp"]["small.delete"]["exit"] = 200
        r["passes"][1]["steps"]["ftp"]["small.move"]["left"] = ["f_1.dat"]
        _, _, _, failed, _ = run.evaluate_transfer(r, TREE)
        self.assertEqual(failed, 2)

    def test_wrong_row_count_fails_the_query(self):
        expected = {"q1": {"rows": 10, "hash": 99}, "q2": {"rows": 5, "hash": 7}}

        def q(name, rows, h, err=None):
            return {"name": name, "rows": rows, "hash": h, "error": err, "wall_s": 1.0,
                    "build_s": 0.2, "plan_s": 0.1, "exec_s": 0.7}
        r = {"order": ["q1", "q2"], "passes": [
            {"pass": 0, "wall_s": 3.0, "fills": {"tri": 1.0},
             "queries": [q("q1", 10, 99), q("q2", 5, 7)]},
            {"pass": 1, "wall_s": 2.0, "fills": {"tri": 0.0},
             "queries": [q("q1", 11, 99), q("q2", 5, 7, err="boom")]}]}
        e2e, detail, attempted, failed, failures = run.evaluate_queries(r, expected)
        self.assertEqual((attempted, failed), (4, 2))
        self.assertTrue(any("rows 11 != 10" in f for f in failures))
        self.assertEqual(e2e["cold_pass_s"][0], 3.0)
        self.assertEqual(e2e["warm_pass_s"][0], 2.0)
        self.assertEqual(detail["caches.fill_s"], 1.0)
        self.assertEqual(detail["caches.fill_s.warm"], 0.0)
        self.assertAlmostEqual(detail["entry.build_s"], 0.4)
        # a settle pass is left out of warm_pass_s but still checked
        r["passes"].append({"pass": 2, "wall_s": 1.5, "fills": {"tri": 0.0},
                            "queries": [q("q1", 10, 99), q("q2", 5, 7)]})
        e2e, detail, attempted, failed, _ = run.evaluate_queries(r, expected, settle=1)
        self.assertEqual((attempted, failed), (6, 2))
        self.assertEqual(e2e["warm_pass_s"][0], 1.5)
        self.assertEqual(detail["settle_pass_s"], [2.0])


if __name__ == "__main__":
    unittest.main()
