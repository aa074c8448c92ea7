import hashlib
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import build  # noqa: E402

SCRATCH = os.path.join(build.WORK, "test-gen")


def digest(d):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class Determinism(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def gen_all(self, name, seed):
        d = os.path.join(SCRATCH, name)
        gen.gen_board(d, seed, 0.002)
        kept = gen.gen_curate(d, seed, families=40)
        expected, planted = gen.gen_validate(d, seed, 4000, files=2)
        return digest(d), kept, expected, planted

    def test_same_seed_same_inputs(self):
        a, b = self.gen_all("a", 7), self.gen_all("b", 7)
        self.assertEqual(a, b)
        c = self.gen_all("c", 8)
        self.assertNotEqual(a[0], c[0])
        self.assertNotEqual(a[1], c[1])

    def test_planted_counts(self):
        _, kept, expected, planted = self.gen_all("p", 3)
        checks = expected["lineitem_big"]["checks"]
        planted_rows = sum(checks[k][1] for k in
                           ("nullcheck_l_returnflag", "negcheck_l_discount", "rangecheck_l_quantity"))
        self.assertEqual(planted, planted_rows)
        self.assertGreater(checks["unique_l_orderkey_l_linenumber"][1], 0)
        self.assertTrue(kept)
        self.assertFalse(any("zq" in t for t in kept.values()))


if __name__ == "__main__":
    unittest.main()
