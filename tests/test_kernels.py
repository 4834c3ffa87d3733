"""The shared vector kernels (operators/_kernels.py) against their
references: ``local_topk`` against a full per-query ``lexsort``,
``score`` against the Column ``METRICS`` expressions, ``vector_matrix``
input checks, and the one-job small-side collect."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from python_vector_db___ai_spark.functions.vector import METRICS
from python_vector_db___ai_spark.operators._guards import collect_small
from python_vector_db___ai_spark.operators._kernels import (
    local_topk,
    score,
    small_side,
    vector_matrix,
)


def _reference_topk(S, c_ids, q_ids, k, desc):
    """Per query row: full lexsort on (key, id), cut at k."""
    out = []
    for i, q in enumerate(q_ids):
        keys = -S[i] if desc else S[i]
        for j in np.lexsort((c_ids, keys))[:k]:
            out.append((int(q), int(c_ids[j]), float(S[i, j])))
    return out


@st.composite
def _tie_dense(draw):
    nq = draw(st.integers(1, 4))
    n = draw(st.integers(1, 12))
    # few distinct rounded scores and a small id domain: boundary ties
    # on the score and equal (score, id) pairs are the common case
    vals = draw(st.lists(st.sampled_from([0.0, 0.333333, 0.5, 1.0, -0.25]),
                         min_size=nq * n, max_size=nq * n))
    ids = draw(st.lists(st.integers(0, 6), min_size=n, max_size=n))
    k = draw(st.integers(0, n + 3))
    desc = draw(st.booleans())
    return (np.array(vals).reshape(nq, n), np.array(ids, dtype=np.int64),
            np.arange(nq, dtype=np.int64) + 100, k, desc)


@settings(max_examples=300, deadline=None)
@given(_tie_dense())
@example((np.array([[0.5], [0.25]]), np.array([7]), np.array([1, 2]), 1,
          True))                                    # one-column batch
@example((np.array([[0.5, 0.5, 0.5]]), np.array([3, 1, 2]), np.array([9]),
          5, False))                                # k >= n, all tied
def test_local_topk_matches_full_lexsort(case):
    S, c_ids, q_ids, k, desc = case
    rb = local_topk(S, c_ids, q_ids, k, desc, ("q", "c", "s"))
    assert isinstance(rb, pa.RecordBatch)
    assert rb.schema.names == ["q", "c", "s"]
    got = list(zip(*(rb.column(i).to_pylist() for i in range(3))))
    assert got == _reference_topk(S, c_ids, q_ids, k, desc)


def test_local_topk_rows_with_exactly_k_survivors():
    """Distinct scores per row, so no boundary tie survives and every
    row keeps exactly k candidates; ids repeat across columns."""
    rng = np.random.default_rng(3)
    q_ids = np.arange(50, dtype=np.int64) + 7
    c_ids = rng.integers(0, 5, 40)
    S = np.array([rng.permutation(40) / 8.0 for _ in q_ids])
    for k in (1, 3, 39):
        for desc in (False, True):
            rb = local_topk(S, c_ids, q_ids, k, desc)
            assert rb.num_rows == len(q_ids) * k
            got = list(zip(*(rb.column(i).to_pylist() for i in range(3))))
            assert got == _reference_topk(S, c_ids, q_ids, k, desc)


def test_score_matches_column_metrics(spark):
    rng = np.random.default_rng(7)
    A = rng.standard_normal((12, 5)).astype(np.float32)
    B = rng.standard_normal((12, 5)).astype(np.float32)
    A[0] = 0.0                                      # zero vectors
    B[1] = 0.0
    B[2] = A[2]                                     # l2 distance 0
    df = spark.createDataFrame(
        [(i, A[i].tolist(), B[i].tolist()) for i in range(len(A))],
        "i int, a array<float>, b array<float>")
    for metric, fn in METRICS.items():
        want = {r.i: r.s for r in df.select(
            "i", F.round(fn(F.col("a"), F.col("b")), 6).alias("s"))
            .collect()}
        paired = score(A, B, metric, 6, paired=True)
        matrix = score(A, B, metric, 6)
        for i in range(len(A)):
            assert paired[i] == pytest.approx(want[i], abs=1e-12), metric
            assert matrix[i, i] == pytest.approx(want[i], abs=1e-12), metric
    with pytest.raises(ValueError, match="unknown metric"):
        score(A, B, "hamming")


def test_vector_matrix_reads_float64_and_rejects_bad_vectors():
    vecs = pa.array([[1.5, 2.0], [3.0, 4.25]], pa.list_(pa.float32()))
    V = vector_matrix(vecs, "t")
    assert V.dtype == np.float64 and V.tolist() == [[1.5, 2.0], [3.0, 4.25]]
    assert vector_matrix(vecs.slice(1), "t").tolist() == [[3.0, 4.25]]
    with pytest.raises(ValueError, match="null vector"):
        vector_matrix(pa.array([[1.0], None]), "t")
    with pytest.raises(ValueError, match="null vector"):
        vector_matrix(pa.array([[1.0], [None]]), "t")
    with pytest.raises(ValueError, match="ragged"):
        vector_matrix(pa.array([[1.0, 2.0], [3.0]]), "t")


def test_small_side_is_id_sorted(spark):
    df = spark.createDataFrame([(3, [3.0]), (1, [1.0]), (2, [2.0])],
                               "id int, v array<float>")
    ids, V = small_side(df, "id", "v", "t")
    assert ids.dtype == np.int64 and ids.tolist() == [1, 2, 3]
    assert V[:, 0].tolist() == [1.0, 2.0, 3.0]


def test_collect_small_two_partitions_one_job(spark):
    """An incremental take (``limit().collect()``) scans one partition,
    then goes back for the rest; the Arrow read takes one job."""
    df = spark.createDataFrame([(i, [float(i)]) for i in range(10)],
                               "id long, v array<float>").coalesce(2)
    assert df.rdd.getNumPartitions() == 2
    sc = spark.sparkContext
    group = "collect-small-one-job"
    sc.setJobGroup(group, group)
    try:
        table = collect_small(df, "two-partition side")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(table) == 10
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
