"""Generator and statistics tests of the benchmark.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import stats  # noqa: E402


def _files(root):
    out = []
    for d, _, fs in os.walk(root):
        out += [os.path.relpath(os.path.join(d, f), root) for f in fs]
    return sorted(out)


def _same_tree(a, b):
    fa, fb = _files(a), _files(b)
    if fa != fb:
        return False
    match, mismatch, errors = filecmp.cmpfiles(a, b, fa, shallow=False)
    return not mismatch and not errors


class GeneratorTest(unittest.TestCase):
    def _gen_all(self, root, seed):
        gen.tpch(os.path.join(root, "tables"), seed, sf=0.001)
        truth = gen.corpus(os.path.join(root, "corpus"), seed, 500, n_files=2)
        gen.ingest(os.path.join(root, "ingest"), seed, 100, 3, 10)
        with open(os.path.join(root, "truth.json"), "w") as fh:
            json.dump(truth, fh)

    def test_same_seed_gives_byte_identical_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self._gen_all(a, 7)
            self._gen_all(b, 7)
            self.assertTrue(_files(a))
            self.assertTrue(_same_tree(a, b))

    def test_different_seed_gives_different_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self._gen_all(a, 7)
            self._gen_all(b, 8)
            self.assertEqual(_files(a), _files(b))
            # region and nation are fixed dimension tables, the vocabulary is
            # fixed, and the planted truth depends on sizes only; every other
            # file is drawn from the seed
            fixed = {"tables/region.parquet", "tables/nation.parquet", "truth.json",
                     "ingest/vocab.txt"}
            for f in _files(a):
                same = filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
                self.assertEqual(same, f in fixed, f)

    def test_corpus_ground_truth(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            truth = gen.corpus(d, 3, 400, exact_frac=0.1, near_frac=0.1, n_files=2)
            t = pq.ParquetDataset(d).read().to_pydict()
            self.assertEqual(len(t["doc_id"]), truth["n_docs"])
            self.assertEqual(len(set(t["doc_id"])), truth["n_docs"])
            self.assertEqual(len(set(t["text"])), truth["n_distinct"])
            # planted copies come after every original
            self.assertTrue(min(truth["near_copy_ids"]) >= 400)

    def test_ingest_ids_are_disjoint(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            gen.ingest(d, 5, 50, 4, 10)
            ids = []
            for f in _files(d):
                if f.endswith(".parquet"):
                    ids += pq.read_table(os.path.join(d, f)).column("doc_id").to_pylist()
            self.assertEqual(len(ids), 50 + 4 * 10 + 10)
            self.assertEqual(len(set(ids)), len(ids))


class PercentileTest(unittest.TestCase):
    def test_refuses_fewer_than_ten_beyond(self):
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(range(99), 90)
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(range(19), 50)

    def test_accepts_ten_beyond(self):
        self.assertAlmostEqual(stats.percentile(range(100), 90), 89.1)
        self.assertAlmostEqual(stats.percentile(range(20), 50), 9.5)

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)


if __name__ == "__main__":
    unittest.main()
