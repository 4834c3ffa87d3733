"""Generator tests: determinism, seed sensitivity, oracle exactness and
inputs hard enough that the quality metrics can fall.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

MAKERS = {
    "ann": lambda seed: gen.ann_inputs(seed, 2000, 16, 40),
    "ingest": lambda seed: gen.ingest_inputs(seed, 50, [100, 100, 40], 10),
}


@pytest.mark.parametrize("kind", sorted(MAKERS))
def test_same_seed_same_bytes(kind):
    assert gen.digest(MAKERS[kind](7)) == gen.digest(MAKERS[kind](7))


@pytest.mark.parametrize("kind", sorted(MAKERS))
def test_other_seed_other_inputs(kind):
    assert gen.digest(MAKERS[kind](7)) != gen.digest(MAKERS[kind](8))


def test_exact_topk_matches_full_sort_with_ties():
    rng = np.random.default_rng(0)
    corpus = rng.standard_normal((300, 8)).astype(np.float32)
    corpus[200:] = corpus[:100]            # exact ties between id pairs
    queries = rng.standard_normal((20, 8)).astype(np.float32)
    ids, scores = gen.exact_topk(corpus, queries, 10)
    c, q = corpus.astype(np.float64), queries.astype(np.float64)
    s = np.round((q @ c.T) / np.outer(np.linalg.norm(q, axis=1),
                                      np.linalg.norm(c, axis=1)), 6)
    for i in range(len(q)):
        order = sorted(range(len(c)), key=lambda j: (-s[i, j], j))[:10]
        assert ids[i].tolist() == order
        assert scores[i].tolist() == [s[i, j] for j in order]


def test_n_chunks_replays_fixed_windows():
    stride = gen.CHUNK_SIZE - gen.CHUNK_OVERLAP
    for n in (0, 1, 499, 500, 501, 900, 901, 1300, 2222):
        starts = [s for s in range(0, max(n, 1), stride)
                  if s == 0 or s + gen.CHUNK_OVERLAP < n] if n else []
        assert gen.n_chunks("x" * n) == len(starts), n


def _trigrams(text):
    w = text.split()
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}


def test_planted_duplicates_straddle_the_verify_threshold():
    inp = gen.ingest_inputs(3, 200, [500] * 4, 10)
    jac = []
    for b in inp.batches:
        text = dict(zip(b.ids, b.texts))
        assert len(set(b.ids)) == len(b.ids)
        for dup, src in zip(b.planted, b.dup_of):
            assert src < dup
            a, c = _trigrams(text[dup]), _trigrams(text[src])
            jac.append(len(a & c) / len(a | c))
    jac = np.array(jac)
    # exact copies plus near-duplicates on both sides of 0.7
    assert (jac == 1.0).any()
    assert 0.05 < (jac < 0.7).mean() < 0.5


def test_questions_are_not_all_answerable_by_term_overlap():
    """A question's terms come from its source, a fresh doc of the batch,
    but other docs often match as many of them, so the source can fall
    out of a top 10 and the hit rate is not pinned at 1."""
    inp = gen.ingest_inputs(5, 100, [1000, 1000], 100)
    beaten = []
    for b in inp.batches:
        text = dict(zip(b.ids, b.texts))
        fresh = set(b.ids) - set(b.planted) - set(b.resent)
        words = {i: set(t.split()) for i, t in text.items()}
        for src, terms in zip(b.q_source, b.q_terms):
            assert src in fresh
            assert set(terms) <= words[src]
            overlap = {i: len(set(terms) & w) for i, w in words.items()}
            beaten.append(sum(v >= overlap[src] for v in overlap.values())
                          > 10)
    assert 0.05 < np.mean(beaten) < 0.95
