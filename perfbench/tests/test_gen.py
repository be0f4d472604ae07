"""The generators are pure functions of their seed."""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402

SMALL = dict(gen.CORPUS, small_blobs=40, large_blobs=1,
             large_min=1 << 20, large_max=1 << 20)


def digest_dir(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class GeneratorsAreDeterministic(unittest.TestCase):
    def test_corpus(self):
        self.assertEqual(gen.corpus(7, SMALL), gen.corpus(7, SMALL))
        self.assertNotEqual(gen.corpus(7, SMALL), gen.corpus(8, SMALL))

    def test_corpus_has_the_stated_duplicate_share(self):
        small, _ = gen.corpus(3, dict(SMALL, small_blobs=150))
        # a copied blob is a shifted, lightly edited earlier blob: most of
        # its sampled 64-byte windows occur in some earlier blob
        copies = 0
        for i, b in enumerate(small):
            found = sum(any(b[at:at + 64] in s for s in small[:i])
                        for at in (len(b) // 5, len(b) // 2, 4 * len(b) // 5))
            copies += found >= 2
        self.assertAlmostEqual(copies / len(small), SMALL["dup_share"], delta=0.1)

    def test_tables(self):
        a, b, c = gen.tables(5, 0.001), gen.tables(5, 0.001), gen.tables(6, 0.001)
        self.assertEqual(set(a), set(gen.tables(5, 0.001)))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))

    def test_lake_rows_and_ops(self):
        self.assertTrue(gen.lake_rows(2).equals(gen.lake_rows(2)))
        self.assertFalse(gen.lake_rows(2).equals(gen.lake_rows(3)))
        self.assertEqual(gen.lake_ops(2), gen.lake_ops(2))
        self.assertNotEqual(gen.lake_ops(2), gen.lake_ops(3))
        # only the parameters are seeded, never the kinds of work
        self.assertEqual([o["kind"] for o in gen.lake_ops(2)],
                         [o["kind"] for o in gen.lake_ops(3)])

    def test_written_files_are_byte_identical(self):
        with tempfile.TemporaryDirectory() as x, tempfile.TemporaryDirectory() as y:
            for d in (x, y):
                gen.write_corpus(4, d, SMALL)
                gen.write_tables(4, 0.001, d)
                gen.write_lake(4, d)
            self.assertEqual(digest_dir(x), digest_dir(y))


if __name__ == "__main__":
    unittest.main()
