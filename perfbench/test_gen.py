"""Tests of the delivery generator: python3 -m unittest perfbench/test_gen.py"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

SIZES = dict(deliveries=4, docs=400, shards=3, words=80, exact_rate=0.10, near_rate=0.05,
             bars=80, overlap=65)


def read_docs(d, name):
    with open(os.path.join(d, name)) as f:
        return [json.loads(line) for line in f]


def shingles(text, k=3):
    toks = text.split(" ")
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


class GenTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.a = os.path.join(cls.tmp.name, "a")
        cls.b = os.path.join(cls.tmp.name, "b")
        cls.c = os.path.join(cls.tmp.name, "c")
        cls.manifest = gen.generate(cls.a, 7, **SIZES)
        gen.generate(cls.b, 7, **SIZES)
        gen.generate(cls.c, 8, **SIZES)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_gives_identical_files(self):
        names = sorted(os.listdir(self.a))
        self.assertEqual(names, sorted(os.listdir(self.b)))
        _, mismatch, errors = filecmp.cmpfiles(self.a, self.b, names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_gives_other_docs(self):
        self.assertFalse(filecmp.cmp(os.path.join(self.a, "d001_docs.jsonl"),
                                     os.path.join(self.c, "d001_docs.jsonl"), shallow=False))

    def test_stated_duplicate_rates_against_history(self):
        texts, index = set(), {}   # history texts; shingle -> history shingle sets

        def near_history(text):
            sh = shingles(text)
            cands = {id(h): h for s in sh for h in index.get(s, ())}
            return any(len(sh & h) / len(sh | h) >= 0.85 for h in cands.values())

        for i, d in enumerate(self.manifest["deliveries"]):
            rows = read_docs(self.a, d["docs"])
            new = [r for r in rows if r["doc_id"] // 1_000_000 == i + 1]
            self.assertEqual(len(new), SIZES["docs"])
            exact = [r for r in new if r["text"] in texts]
            near = [r for r in new if r["text"] not in texts and near_history(r["text"])]
            want_exact = round(SIZES["exact_rate"] * SIZES["docs"]) if i else 0
            want_near = round(SIZES["near_rate"] * SIZES["docs"]) if i else 0
            self.assertEqual(len(exact), want_exact, d["docs"])
            self.assertEqual(len(near), want_near, d["docs"])
            self.assertEqual({str(r["doc_id"]) for r in exact},
                             {k for k in self.manifest["exact"] if int(k) // 1_000_000 == i + 1})
            self.assertEqual({str(r["doc_id"]) for r in near},
                             {k for k in self.manifest["near"] if int(k) // 1_000_000 == i + 1})
            for r in new:
                texts.add(r["text"])
                sh = frozenset(shingles(r["text"]))
                for s in sh:
                    index.setdefault(s, []).append(sh)

    def test_previous_shard_is_redelivered_verbatim(self):
        ds = self.manifest["deliveries"]
        for prev, cur in zip(ds, ds[1:]):
            old = [r for r in read_docs(self.a, prev["docs"]) if r["source"].endswith("s00")
                   and r["doc_id"] // 1_000_000 == ds.index(prev) + 1]
            again = [r for r in read_docs(self.a, cur["docs"]) if r["doc_id"] // 1_000_000 != ds.index(cur) + 1]
            self.assertEqual(old, again)
            self.assertEqual(cur["redelivered_rows"], len(old))

    def test_bar_windows_overlap_with_revised_prices(self):
        ds = self.manifest["deliveries"]
        for prev, cur in zip(ds, ds[1:]):
            with open(os.path.join(self.a, prev["bars"])) as f:
                p = {b["date"]: b for b in json.load(f)}
            with open(os.path.join(self.a, cur["bars"])) as f:
                c = {b["date"]: b for b in json.load(f)}
            both = set(p) & set(c)
            self.assertEqual(len(both), SIZES["overlap"])
            self.assertTrue(any(p[d] != c[d] for d in both))
            for b in c.values():
                self.assertTrue(b["low"] > 0 and b["low"] <= min(b["open"], b["close"]))
                self.assertTrue(b["high"] >= max(b["open"], b["close"]))


if __name__ == "__main__":
    unittest.main()
