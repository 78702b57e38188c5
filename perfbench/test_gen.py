"""Generator test: the same seed gives byte-identical inputs, a different
seed gives different inputs, for every generator the workloads use.

    python3 -m unittest perfbench/test_gen.py
"""
import filecmp
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

GENERATORS = {
    "tpch": lambda d, s: gen.tpch(d, s, 0.001),
    "social": lambda d, s: gen.social(d, s, n_users=300, n_posts=150, n_eng=300, n_authors=120),
    "corpus": lambda d, s: gen.corpus(d, s, n_docs=300, n_vecs=300),
}


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        base = os.path.join(os.path.dirname(HERE), ".bench_work")
        os.makedirs(base, exist_ok=True)
        self.tmp = tempfile.mkdtemp(prefix="gen-test-", dir=base)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def make(self, name, seed, tag):
        d = os.path.join(self.tmp, f"{name}-{tag}")
        GENERATORS[name](d, seed)
        return d

    def files(self, d):
        return sorted(os.listdir(d))

    def test_same_seed_is_byte_identical(self):
        for name in GENERATORS:
            a, b = self.make(name, 7, "a"), self.make(name, 7, "b")
            self.assertEqual(self.files(a), self.files(b))
            for f in self.files(a):
                self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False),
                                f"{name}/{f} differs between two runs with one seed")

    def test_other_seed_differs(self):
        for name in GENERATORS:
            a, b = self.make(name, 7, "a"), self.make(name, 8, "b")
            same = [f for f in self.files(a)
                    if filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)]
            # the fixed dimension tables do not depend on the seed
            self.assertEqual(set(same) - {"region.parquet", "nation.parquet"}, set(),
                             f"{name}: seeds 7 and 8 give identical {same}")


if __name__ == "__main__":
    unittest.main()
