"""Tests of the seeded input generator.

    python3 -m unittest lcbench/test_gen.py
"""
import hashlib
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def digest(root):
    """One hash over every generated file's path and bytes."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GenTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="lcbench-gen-")
        self.out = os.path.join(self.tmp, "proj")

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def generated(self, workload, seed):
        shutil.rmtree(self.out, ignore_errors=True)
        gen.generate(workload, seed, self.out)
        return digest(self.out)

    def test_same_seed_gives_identical_bytes(self):
        for w in sorted(gen.SIZES):
            self.assertEqual(self.generated(w, 5), self.generated(w, 5), w)

    def test_other_seed_gives_other_inputs(self):
        for w in sorted(gen.SIZES):
            self.assertNotEqual(self.generated(w, 5), self.generated(w, 6), w)

    def test_workloads_differ_for_one_seed(self):
        self.assertNotEqual(self.generated("search-scan", 5), self.generated("train-grid", 5))

    def test_query_file_names_every_archive_star_once(self):
        gen.generate("search-scan", 3, self.out)
        with open(os.path.join(self.out, "queries", "search.txt")) as f:
            rows = f.read().splitlines()
        self.assertEqual(rows[0], "#path,suffix,files_to_load")
        names = [n for r in rows[1:] for n in r.split(",")[2].split(";")]
        stars = sorted(f[:-4] for f in os.listdir(os.path.join(self.out, "archive")))
        self.assertEqual(sorted(names), stars)


if __name__ == "__main__":
    unittest.main()
