"""Pins the generators' contract: the same seed gives byte-identical inputs;
another seed gives other bytes with the same sizes, key skew and duplicate
structure.

Run from the checkout root: python3 -m unittest perfbench/test_gen.py
"""
import collections
import filecmp
import os
import shutil
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                    "documents_sf0.1.parquet")


def files(d):
    return sorted(os.listdir(d))


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        os.makedirs(".bench_work", exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=".bench_work")

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def path(self, *p):
        return os.path.join(self.tmp, *p)

    def make(self, seed, name):
        exp = {
            "stream": gen.write_stream(seed, self.path(name, "stream"), 3, 400, 4),
            "batch": gen.write_batch(seed, self.path(name, "batch"), 2000, n_files=2),
        }
        gen.write_corpus(seed, BASE, self.path(name, "corpus"), 300)
        return exp

    def assert_same_bytes(self, a, b, same=True):
        for sub in ("stream", "batch", "corpus"):
            da, db = self.path(a, sub), self.path(b, sub)
            self.assertEqual(files(da), files(db))
            match, mismatch, errors = filecmp.cmpfiles(da, db, files(da), shallow=False)
            self.assertEqual(errors, [])
            if same:
                self.assertEqual(mismatch, [], sub)
            else:
                self.assertEqual(match, [], sub)

    def test_same_seed_is_byte_identical(self):
        e1 = self.make(7, "a")
        e2 = self.make(7, "b")
        self.assert_same_bytes("a", "b")
        self.assertEqual(e1, e2)

    def test_other_seed_changes_content_not_shape(self):
        e1 = self.make(7, "a")
        e2 = self.make(8, "b")
        self.assert_same_bytes("a", "b", same=False)
        for sub in ("stream", "batch"):
            # same objects (names depend only on placement and offsets) and
            # record counts; different record digests
            self.assertEqual(e1[sub]["names"], e2[sub]["names"])
            self.assertEqual(e1[sub]["count"], e2[sub]["count"])
            self.assertNotEqual(e1[sub]["hash"], e2[sub]["hash"])
            self.assertEqual(e1[sub]["line_bytes"], e2[sub]["line_bytes"])
            t1 = pq.read_table(self.path("a", sub)).to_pydict()
            t2 = pq.read_table(self.path("b", sub)).to_pydict()
            # per-record sizes and placement are seed-independent
            self.assertEqual([len(v) for v in t1["value"]], [len(v) for v in t2["value"]])
            self.assertEqual(t1["partition"], t2["partition"])
            self.assertEqual(t1["offset"], t2["offset"])
            # key skew: the same multiset of per-key record counts
            skew = lambda t: sorted(collections.Counter(t["key"]).values())  # noqa: E731
            self.assertEqual(skew(t1), skew(t2))
            self.assertNotEqual(t1["key"], t2["key"])

        c1 = pq.read_table(self.path("a", "corpus")).to_pydict()
        c2 = pq.read_table(self.path("b", "corpus")).to_pydict()
        self.assertEqual(sorted(c1["doc_id"]), sorted(c2["doc_id"]))
        self.assertNotEqual(c1["text"], c2["text"])
        shape = lambda c: sorted(tuple(len(w) for w in t.split(" ")) for t in c["text"])  # noqa: E731
        self.assertEqual(shape(c1), shape(c2))
        dups = lambda c: sorted(collections.Counter(c["text"]).values())  # noqa: E731
        self.assertEqual(dups(c1), dups(c2))
        # the literal tokens the curation rules match survive the renaming
        count = lambda c, w: sum(t.split(" ").count(w) for t in c["text"])  # noqa: E731
        for w in ("the", "a"):
            self.assertEqual(count(c1, w), count(c2, w))

    def test_line_bytes_formula_matches_json(self):
        import json
        cols = gen.make_records(3, 500)
        for k, v, o in zip(cols["key"], cols["value"], cols["offset"]):
            line = json.dumps({"key": k.decode(), "value": v.decode(), "offset": o},
                              separators=(",", ":"))
            self.assertEqual(gen.jsonl_line_bytes(k, v, o), len(line) + 1)


if __name__ == "__main__":
    unittest.main()
