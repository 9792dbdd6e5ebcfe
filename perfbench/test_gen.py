"""The generator is a function of its seed: one seed gives identical inputs,
another seed gives different ones (replicate; the graph_loops schedule is
fixed).  Run: python3 perfbench/test_gen.py
"""

import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class SeededInputs(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory(dir=os.environ.get("PERFBENCH_TMP"))
        cls.base = os.path.join(cls.tmp.name, "base")
        gen.gen_base(cls.base)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def replicate_inputs(self, seed, tag):
        out = os.path.join(self.tmp.name, f"replicate-{seed}-{tag}")
        gen.gen_replicate(seed, self.base, out)
        return digest(out)

    def test_same_seed_same_inputs_other_seed_different(self):
        self.assertEqual(self.replicate_inputs(1, "a"), self.replicate_inputs(1, "b"))
        self.assertNotEqual(self.replicate_inputs(1, "a"), self.replicate_inputs(2, "a"))

    def test_graph_schedule_is_pairs_of_reversed_orders(self):
        out = os.path.join(self.tmp.name, "graph")
        gen.gen_graph_loops(out)
        with open(os.path.join(out, "manifest.txt")) as f:
            reps = [ln.split()[1:] for ln in f]
        for a, b in zip(reps[0::2], reps[1::2]):
            self.assertEqual(sorted(a), sorted(gen.GRAPH_QUERIES))
            self.assertEqual(a, b[::-1])

    def test_base_tables_are_reproducible(self):
        other = os.path.join(self.tmp.name, "base2")
        gen.gen_base(other)
        self.assertEqual(digest(self.base), digest(other))


if __name__ == "__main__":
    unittest.main()
