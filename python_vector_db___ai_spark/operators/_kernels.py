"""Shared NumPy/Arrow vector kernels.

Every BLAS-backed search, probe and scoring operator does the same
three things per Arrow batch: read an ``array<float|double>`` column as
an ``(n, dim)`` matrix, score it against a (broadcast) matrix under one
of the named metrics, and keep each query's top-k by the rounded score
with an ascending-id tie-break.  They live here once, so the metric
arithmetic, the zero-norm rule and the ranking contract cannot drift
between operators:

* :func:`vector_matrix` — Arrow list column -> float64 matrix
  (:func:`id_array` for the id column beside it);
* :func:`small_side` — a small-by-contract ``(id, vector)`` side
  collected to the driver as ``(ids, matrix)``;
* :func:`score` — the five ``functions.vector.METRICS`` in NumPy
  (matrix or row-paired form), rounded like the Column expressions,
  with :func:`descending` as the one metric check;
* :func:`local_topk` — exact, tie-preserving per-query top-k emitted as
  one Arrow ``RecordBatch``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from python_vector_db___ai_spark.functions.vector import (
    _EPS,
    DESCENDING_METRICS,
    METRICS,
)
from python_vector_db___ai_spark.operators._guards import collect_small


def descending(metric: str) -> bool:
    """True when larger ``metric`` scores rank first; the one check that
    ``metric`` is one of ``functions.vector.METRICS``."""
    if metric not in METRICS:
        raise ValueError(f"unknown metric {metric!r}; one of {sorted(METRICS)}")
    return metric in DESCENDING_METRICS


def id_array(col):
    """An Arrow integer id column -> an int64 numpy array."""
    return pc.cast(col, pa.int64()).to_numpy()


def vector_matrix(vecs, what: str):
    """An Arrow list column of equal-length numeric vectors -> an
    ``(n, dim)`` float64 matrix (float32 storage widens exactly, so
    scores match a Python-list read bit for bit).  ``flatten()``
    honours a sliced array's offsets (``.values`` does not).  A null
    or ragged vector raises ``ValueError``."""
    if isinstance(vecs, pa.ChunkedArray):
        vecs = vecs.combine_chunks()
    n = len(vecs)
    if n == 0:
        return np.empty((0, 0))
    flat = vecs.flatten()
    if vecs.null_count or flat.null_count:
        raise ValueError(f"{what}: null vector or vector element")
    lens = pc.list_value_length(vecs)
    dim = pc.min(lens).as_py()
    if pc.max(lens).as_py() != dim:
        raise ValueError(f"{what}: ragged vectors (lengths differ)")
    return (flat.to_numpy(zero_copy_only=False)
            .astype(np.float64, copy=False).reshape(n, dim))


def small_side(df, id_col: str, vec_col: str, what: str,
               hint: str | None = None):
    """Collect a small-by-contract ``(id, vector)`` side (query batch,
    centroid table, eval set) through :func:`collect_small` as
    ``(ids, matrix)`` sorted by ascending id (stable, so equal ids
    keep their read order)."""
    table = collect_small(df.select(id_col, vec_col), what, hint=hint)
    ids = id_array(table.column(0))
    order = np.argsort(ids, kind="stable")
    return ids[order], vector_matrix(table.column(1), what)[order]


def score(Q, C, metric: str, round_to: int | None = None,
          paired: bool = False):
    """``metric`` scores of every (query row, corpus row) pair —
    ``(len(Q), len(C))`` — or, with ``paired=True``, of row i of ``Q``
    against row i of ``C`` — ``(len(Q),)``.  Same arithmetic as the
    ``functions.vector`` Column expressions: DOUBLE math, cosine 0.0
    when either norm is <= 1e-12, ``euclidean_similarity`` =
    ``1 / (1 + l2)``; rounded to ``round_to`` decimals when given."""
    descending(metric)
    Q = np.asarray(Q, dtype=np.float64)
    C = np.asarray(C, dtype=np.float64)
    dot = np.einsum("ij,ij->i", Q, C) if paired else Q @ C.T
    outer = np.multiply if paired else np.multiply.outer
    if metric == "cosine":
        qn, cn = np.linalg.norm(Q, axis=1), np.linalg.norm(C, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            S = dot / outer(qn, cn)
        either = np.logical_or if paired else np.logical_or.outer
        S[either(qn <= _EPS, cn <= _EPS)] = 0.0
    elif metric in ("l2", "euclidean_similarity"):
        plus = np.add if paired else np.add.outer
        S = np.sqrt(np.clip(plus(np.einsum("ij,ij->i", Q, Q),
                                 np.einsum("ij,ij->i", C, C)) - 2.0 * dot,
                            0.0, None))
        if metric == "euclidean_similarity":
            S = 1.0 / (1.0 + S)
    elif metric == "neg_inner_product":
        S = -dot
    else:
        S = dot
    return S if round_to is None else np.round(S, round_to)


def local_topk(S, c_ids, q_ids, k: int, desc: bool,
               names=("query_id", "id", "score")):
    """Per-row top-``k`` of the score matrix ``S`` (row i belongs to
    query ``q_ids[i]``, column j to candidate ``c_ids[j]``) as ONE
    RecordBatch ``(names[0] = query, names[1] = candidate, names[2] =
    score)``, ordered by query row, then score (``desc`` picks the
    direction), then ascending candidate id.

    Scores are ranked as given — round them first.  Exact and
    tie-preserving: each row is partitioned at its k-th key, every
    candidate tied with that boundary survives, and one lexsort over
    the survivors yields the same (score, id) order, including equal-id
    ties in column order, as a full per-row ``lexsort`` cut at ``k``.
    """
    S = np.asarray(S)
    c_ids = np.asarray(c_ids)
    keys = -S if desc else S
    n = keys.shape[1]
    if 0 < k < n:
        kth = np.partition(keys, k - 1, axis=1)[:, k - 1:k]
        # a NaN boundary keeps the whole row (NaN sorts last either way)
        keep = (keys <= kth) | np.isnan(kth)
    else:
        keep = np.ones(keys.shape, dtype=bool)
    r, c = np.nonzero(keep)
    order = np.lexsort((c_ids[c], keys[r, c], r))
    r, c = r[order], c[order]
    starts = np.searchsorted(r, r, side="left")
    sel = np.arange(len(r)) - starts < k
    r, c = r[sel], c[sel]
    return pa.RecordBatch.from_arrays(
        [pa.array(np.asarray(q_ids)[r]), pa.array(c_ids[c]),
         pa.array(S[r, c])], names=list(names))
