"""Tests of the corpus generator: every seed gives Dedup the same
near-duplicate graph shape, so the same connected-components rounds.

    python3 -m unittest discover -s etlbench -p 'test_*.py'
"""
import collections
import os
import tempfile
import unittest

import pandas as pd

import gen


def shape(seed):
    with tempfile.TemporaryDirectory() as d:
        gen.corpus(seed, d)
        docs = pd.read_parquet(os.path.join(d, "documents.parquet"))
    assert docs.doc_id.max() < gen.COPY_OFFSET
    return collections.Counter(gen.components(gen.near_dup_graph(zip(docs.doc_id, docs.text))))


class CorpusShapeTest(unittest.TestCase):
    def test_chains_have_the_same_shape_whatever_the_seed(self):
        chains = round(gen.CORPUS_DOCS * gen.NEAR_DUP_SHARE) // gen.CHAIN_LEN
        chain = (gen.CHAIN_LEN - 1, 2 * gen.CHAIN_LEN)
        for seed in (0, 1):
            s = shape(seed)
            self.assertEqual(s[chain], chains)
            self.assertEqual(max(s), chain)

    def test_graph_mirrors_a_hand_made_pair(self):
        text = " ".join(f"w{i:02d}" for i in range(40))
        adj = gen.near_dup_graph([(1, text), (2, text + " tail")])
        self.assertIn(2, adj[1])
        self.assertIn(1 + gen.COPY_OFFSET, adj[1])
        self.assertEqual(gen.components(adj), [(1, 4)])


if __name__ == "__main__":
    unittest.main()
