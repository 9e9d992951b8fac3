"""Tests of the seeded input generator. Run: python3 -m unittest discover perfbench/tests"""

import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402

SMALL = {
    "landing": {"dates": 3, "standing_per_date": 4, "decoys_per_date": 2,
                "drops": 2, "files_per_drop": 3, "rows_per_file": 5},
    "events": {"slices": 2, "users": 4, "events_per_slice": 20,
               "slice_seconds": 60},
    "curate": {"base_docs": 20, "copies": 4, "min_words": 30,
               "max_words": 40, "exact_dup_share": 0.1, "shards": 2,
               "vectors": 30, "dim": 8, "labels": 3, "vector_dups": 5},
    "stream_docs": {"base_docs": 10, "drops": 2, "docs_per_drop": 5,
                    "dup_share": 0.5, "min_words": 30, "max_words": 40},
}


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class Determinism(unittest.TestCase):
    def digest(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(workload, seed, d, SMALL)
            return tree_digest(d)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in gen.WORKLOADS:
            with self.subTest(workload=w):
                self.assertEqual(self.digest(w, 5), self.digest(w, 5))
                self.assertNotEqual(self.digest(w, 5), self.digest(w, 6))


class ReplicatedKeys(unittest.TestCase):
    def test_empty_source_table_fails(self):
        with self.assertRaisesRegex(gen.GeneratorError, "empty"):
            gen.replicate_ids([], 4)

    def test_shifted_key_overflow_fails(self):
        with self.assertRaisesRegex(gen.GeneratorError, "overflows"):
            gen.replicate_ids([0, 2**62], 4)
        # copies of keys 0..1000 end at 1000 + 3 * 1001 = 4003
        with self.assertRaisesRegex(gen.GeneratorError, "overflows"):
            gen.replicate_ids([0, 1000], 4, id_max=4002)
        self.assertEqual(gen.replicate_ids([0, 1000], 4, id_max=4003), 1001)

    def test_shift_keeps_copies_disjoint(self):
        ids = [3, 9, 4]
        shift = gen.replicate_ids(ids, 4)
        copies = [{i + k * shift for i in ids} for k in range(4)]
        self.assertEqual(len(set().union(*copies)), 12)

    def test_empty_corpus_is_refused(self):
        sizes = dict(SMALL, curate=dict(SMALL["curate"], base_docs=0))
        with tempfile.TemporaryDirectory() as d:
            with self.assertRaises(gen.GeneratorError):
                gen.generate("neardup_curate", 1, d, sizes)


class PerturbedCopies(unittest.TestCase):
    def test_each_copy_differs_from_its_base_in_one_token(self):
        import random
        rng = random.Random(1)
        for _ in range(200):
            base = gen.random_text(rng, 30, 40)
            copy = gen.mutate_one_token(rng, base)
            diff = sum(a != b for a, b in zip(base.split(), copy.split()))
            self.assertEqual(diff, 1)


if __name__ == "__main__":
    unittest.main()
