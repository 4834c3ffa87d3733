"""Seeded input generator for the benchmark workloads.

Everything here is NumPy and the standard library: the program under
test never sees the seed, only the arrays, texts and ground truth this
module returns.  The same ``(seed, sizes)`` always yields byte-identical
outputs (see ``digest``), which the generator test pins.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass

import numpy as np

# day_6's clustered recipe: Gaussian centres scaled by 2, points spread 0.5.
N_CENTRES = 64
CENTRE_SCALE = 2.0
SPREAD = 0.5

# chunk_chars_fixed parameters used by rag_ingest; the expected snapshot
# row counts below replay its chunk-count formula.
CHUNK_SIZE = 500
CHUNK_OVERLAP = 100


def clustered(rng: np.random.Generator, n: int, dim: int,
              centres: np.ndarray | None = None
              ) -> tuple[np.ndarray, np.ndarray]:
    """``n`` float32 vectors around ``N_CENTRES`` Gaussian centres.

    The centres are the same for every seed (the data distribution is
    fixed); the seed draws the points, so recall and hit rates vary less
    from seed to seed than they would with seed-drawn centres.
    """
    if centres is None:
        centres = np.random.default_rng(0).standard_normal(
            (N_CENTRES, dim)) * CENTRE_SCALE
    labels = rng.integers(0, len(centres), n)
    x = centres[labels] + rng.standard_normal((n, dim)) * SPREAD
    return x.astype(np.float32), centres


# --------------------------------------------------------------- ann_search
@dataclass
class AnnInputs:
    corpus: np.ndarray          # (n, dim) float32, id = row index
    queries: np.ndarray         # (n_queries, dim) float32, id = row index


def ann_inputs(seed: int, n: int, dim: int, n_queries: int) -> AnnInputs:
    """Corpus from the clustered recipe; half the queries are corpus
    vectors perturbed by noise 0.1, half are random Gaussian vectors of
    the centres' scale, which fall between clusters, where a probe of
    a few lists misses true neighbours."""
    rng = np.random.default_rng([seed, 1])
    corpus, _ = clustered(rng, n, dim)
    n_near = n_queries // 2
    near = corpus[rng.integers(0, n, n_near)] \
        + rng.standard_normal((n_near, dim)).astype(np.float32) * 0.1
    fresh = rng.standard_normal((n_queries - n_near, dim)) * CENTRE_SCALE
    queries = np.concatenate([near, fresh]).astype(np.float32)
    queries = queries[rng.permutation(n_queries)]
    return AnnInputs(corpus, queries)


def exact_topk(corpus: np.ndarray, queries: np.ndarray, k: int
               ) -> tuple[np.ndarray, np.ndarray]:
    """Cosine top-``k`` oracle: ``(ids, scores)``, each ``(n_queries, k)``.

    Scores are computed from the float32 vectors in float64 and rounded
    to 6 decimals, the convention of the program's BLAS kernels; ties
    break on the lower id.
    """
    c = corpus.astype(np.float64)
    q = queries.astype(np.float64)
    s = (q @ c.T) / np.outer(np.linalg.norm(q, axis=1),
                             np.linalg.norm(c, axis=1))
    s = np.round(s, 6)
    ids = np.empty((len(q), k), dtype=np.int64)
    for i in range(len(q)):
        top = np.argpartition(-s[i], k)[:k + 1]
        # widen to every id tied with the k-th score, then order exactly
        kth = np.sort(s[i][top])[::-1][k - 1]
        cand = np.flatnonzero(s[i] >= kth)
        order = np.lexsort((cand, -s[i][cand]))[:k]
        ids[i] = cand[order]
    return ids, np.take_along_axis(s, ids, axis=1)


# ------------------------------------------------------------------ text
def vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct lower-case pseudo-words, 3-9 letters."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    out: list[str] = []
    while len(out) < size:
        w = "".join(letters[rng.integers(0, 26, rng.integers(3, 10))])
        if w not in words:
            words.add(w)
            out.append(w)
    return out


class ZipfText:
    """Documents of 100-250 words drawn from a Zipf(1.1) vocabulary.

    The vocabulary is the same for every seed, so storage and compression
    ratios measure the program, not the luck of one seed's word lengths;
    the seed picks the documents.
    """

    def __init__(self, rng: np.random.Generator, vocab_size: int = 20000):
        self.rng = rng
        self.vocab = np.array(vocabulary(np.random.default_rng(0),
                                         vocab_size))
        p = 1.0 / np.arange(1, vocab_size + 1) ** 1.1
        self.cdf = np.cumsum(p / p.sum())

    def words(self, n: int) -> list[str]:
        idx = np.searchsorted(self.cdf, self.rng.random(n))
        return self.vocab[np.minimum(idx, len(self.vocab) - 1)].tolist()

    def doc(self) -> list[str]:
        return self.words(int(self.rng.integers(100, 251)))

    def edit(self, words: list[str], n_edits: int) -> list[str]:
        """Replace ``n_edits`` distinct positions with other words."""
        out = list(words)
        for pos in self.rng.choice(len(out), n_edits, replace=False):
            out[pos] = self.words(1)[0]
        return out


def n_chunks(text: str, size: int = CHUNK_SIZE,
             overlap: int = CHUNK_OVERLAP) -> int:
    """Chunk count of ``chunk_chars_fixed`` for one text."""
    n = len(text)
    if n == 0:
        return 0
    if n <= size:
        return 1
    stride = size - overlap
    return -(-(n - size) // stride) + 1


# --------------------------------------------------------------- rag_ingest
@dataclass
class IngestBatch:
    ids: list[int]
    texts: list[str]
    planted: list[int]          # ids a correct dedup drops
    dup_of: list[int]           # source id of each planted id
    resent: list[int]           # ids re-sent unchanged from the base set
    q_source: list[int]         # fresh doc each question was written from
    q_terms: list[list[str]]


@dataclass
class IngestInputs:
    base_ids: list[int]
    base_texts: list[str]
    batches: list[IngestBatch]


def ingest_inputs(seed: int, n_base: int, batch_sizes: list[int],
                  n_questions: int, q_terms: int = 3,
                  near_frac: float = 0.10, exact_frac: float = 0.02,
                  resent_frac: float = 0.08) -> IngestInputs:
    """A base collection plus one arriving batch per entry of
    ``batch_sizes`` (docs per batch), each with ``n_questions`` questions
    about its fresh documents.

    Each batch holds fresh documents, near-duplicates of fresh documents
    of the same batch (1-10 scattered word edits, so some fall below the
    verify threshold and a recall loss shows), exact copies of fresh
    documents, and base documents re-sent unchanged under their own id
    (embedding-cache hits and upsert key conflicts).  Duplicates always
    take a higher id than their source, so the min-id canonical member
    of each component is the original.

    A question takes ``q_terms`` words from anywhere in its source
    document, common words included, so BM25 over the batch often ranks
    other documents above the source and a recall loss would show.
    """
    rng = np.random.default_rng([seed, 2])
    zt = ZipfText(rng)
    base_words = [zt.doc() for _ in range(n_base)]
    base_texts = [" ".join(w) for w in base_words]
    batches = []
    next_id = n_base
    for batch_docs in batch_sizes:
        n_near = int(batch_docs * near_frac)
        n_exact = int(batch_docs * exact_frac)
        n_resent = int(batch_docs * resent_frac)
        n_fresh = batch_docs - n_near - n_exact - n_resent
        fresh = [zt.doc() for _ in range(n_fresh)]
        ids = list(range(next_id, next_id + n_fresh))
        texts = [" ".join(w) for w in fresh]
        src = rng.choice(n_fresh, n_near + n_exact, replace=False)
        dup_ids = list(range(next_id + n_fresh,
                             next_id + n_fresh + n_near + n_exact))
        for j, s in enumerate(src):
            words = fresh[s]
            if j < n_near:
                words = zt.edit(words, int(rng.integers(1, 11)))
            texts.append(" ".join(words))
        ids += dup_ids
        resent = sorted(int(i) for i in
                        rng.choice(n_base, n_resent, replace=False))
        ids += resent
        texts += [base_texts[i] for i in resent]
        q_src = rng.choice(n_fresh, min(n_questions, n_fresh), replace=False)
        terms = [[fresh[s][p] for p in
                  rng.choice(len(fresh[s]), q_terms, replace=False)]
                 for s in q_src]
        batches.append(IngestBatch(ids, texts, dup_ids,
                                   [next_id + int(s) for s in src], resent,
                                   [next_id + int(s) for s in q_src], terms))
        next_id += n_fresh + n_near + n_exact
    return IngestInputs(list(range(n_base)), base_texts, batches)


def digest(obj) -> str:
    """sha256 over every array and string of a generated input."""
    h = hashlib.sha256()

    def feed(x):
        if isinstance(x, np.ndarray):
            h.update(str(x.dtype).encode() + str(x.shape).encode())
            h.update(np.ascontiguousarray(x).tobytes())
        elif hasattr(x, "__dataclass_fields__"):
            for f in x.__dataclass_fields__:
                feed(getattr(x, f))
        elif isinstance(x, (list, tuple)):
            h.update(b"[%d" % len(x))
            for v in x:
                feed(v)
        else:
            h.update(json.dumps(x).encode())

    feed(obj)
    return h.hexdigest()
