"""Distributed HNSW (X3/X4): recall, determinism, contract shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from python_vector_db___ai_spark.operators.hnsw import hnsw_knn
from python_vector_db___ai_spark.operators.ivf import recall_against_exact
from python_vector_db___ai_spark.operators.search import knn_join_blas
from python_vector_db___ai_spark.session import load_table

SF = "/root/testdata/sf0.001"


def _queries(emb, n=20):
    return (emb.filter(F.col("vec_id") < n)
            .select(F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("query_vec")))


def test_hnsw_recall_beats_reference_floor(spark):
    """Merged recall@10 across partition-local graphs must beat the
    reference's weakest HNSW figure (0.752 medium,
    day_6/day6_performance_summary.csv:7) — here it should be ~1.0 at
    this scale."""
    emb = load_table(spark, SF, "embeddings").cache()
    q = _queries(emb)
    exact = knn_join_blas(q, emb, k=10, metric="cosine",
                          corpus_id="vec_id").cache()
    h = hnsw_knn(q, emb, k=10, n_partitions=4)
    hc = spark.createDataFrame(h.collect(), h.schema)
    rec = (recall_against_exact(hc, exact, corpus_id="vec_id")
           .agg(F.avg("recall")).collect()[0][0])
    assert rec >= 0.9
    emb.unpersist()
    exact.unpersist()


def test_hnsw_deterministic_and_ranked(spark):
    """Same input + partitioning -> identical rows (md5-derived levels,
    id-ordered insertion, id tie-breaks); ranks are 1..k per query."""
    emb = load_table(spark, SF, "embeddings")
    q = _queries(emb, n=5)
    a = sorted(map(tuple, hnsw_knn(q, emb, k=5, n_partitions=4).collect()))
    b = sorted(map(tuple, hnsw_knn(q, emb, k=5, n_partitions=4).collect()))
    assert a == b
    per_q: dict[int, list[int]] = {}
    for qid, _vid, _s, rank in a:
        per_q.setdefault(qid, []).append(rank)
    assert set(per_q) == set(range(5))
    assert all(sorted(r) == list(range(1, 6)) for r in per_q.values())


def test_hnsw_empty_queries(spark):
    emb = load_table(spark, SF, "embeddings")
    q = _queries(emb).filter(F.col("query_id") < 0)
    out = hnsw_knn(q, emb, k=5)
    assert out.count() == 0
    assert out.columns == ["query_id", "vec_id", "score", "rank"]


def test_hnsw_clustered_data_bridges_cliques(spark):
    """Near-duplicate cliques (the dedup workload) must not trap the
    beam: with 50 copies per source vector, every query's true
    neighbors are its own copies — the diversity heuristic keeps the
    graph connected across cliques."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=(20, 16))
    rows = []
    vid = 0
    for s in range(20):
        for _ in range(50):
            v = base[s] + rng.normal(scale=0.01, size=16)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = (emb.filter(F.col("vec_id") % 50 == 0)
         .select((F.col("vec_id") + 10**6).alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    exact = knn_join_blas(q, emb, k=10, metric="cosine",
                          corpus_id="vec_id").cache()
    h = hnsw_knn(q, emb, k=10, n_partitions=4)
    hc = spark.createDataFrame(h.collect(), h.schema)
    rec = (recall_against_exact(hc, exact, corpus_id="vec_id")
           .agg(F.avg("recall")).collect()[0][0])
    assert rec >= 0.9
    exact.unpersist()


def test_hnsw_exhaustive_beam_equals_exact(spark):
    """With one partition and ef_search >= corpus size, the beam visits
    every reachable node (insertion keeps the graph connected), so the
    result must be ROW-IDENTICAL to the exact BLAS scan — same ids,
    same rounded scores, same id-tie-broken ranks — on random vectors."""
    import numpy as np

    rng = np.random.default_rng(1234)
    vecs = rng.normal(size=(60, 8))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id long, embedding array<double>")
    # Precheck: exhaustive beam visits only REACHABLE nodes, and the
    # insertion heuristic does not formally guarantee connectivity —
    # BFS the layer-0 graph first so a future change to M / the
    # diversity heuristic / corpus size fails HERE as "lost
    # connectivity", not below as an inexplicable scoring mismatch.
    # (hnsw_build_index builds the identical graph: same _build_graph,
    # same defaults, same ascending-id insertion.)
    from python_vector_db___ai_spark.operators.index_store import (
        hnsw_build_index,
        hnsw_connectivity,
    )
    audit = hnsw_connectivity(
        hnsw_build_index(emb, n_partitions=1)).collect()
    assert all(r.n_reachable == r.n_nodes for r in audit), audit
    q = _queries(emb, n=7)
    exact = sorted(map(tuple, knn_join_blas(
        q, emb, k=10, metric="cosine", corpus_id="vec_id").collect()))
    got = sorted(map(tuple, hnsw_knn(
        q, emb, k=10, ef_search=60, n_partitions=1).collect()))
    assert got == exact


def test_hnsw_knn_rounded_tie_keeps_lower_id(spark):
    """Two corpus vectors whose cosines to the query round to the same
    6-decimal score, the higher raw score on the higher id: with k=1
    the contract (rounded score desc, id asc) keeps the LOWER id, so
    the per-partition cut must happen after rounding."""
    import math

    def unit(cos):
        return [cos, math.sqrt(1.0 - cos * cos)]

    emb = spark.createDataFrame(
        [(1, unit(0.5000001)), (2, unit(0.5000002))],
        "vec_id long, embedding array<double>")
    q = spark.createDataFrame([(0, [1.0, 0.0])],
                              "query_id long, query_vec array<double>")
    rows = hnsw_knn(q, emb, k=1, n_partitions=1).collect()
    assert [(r.query_id, r.vec_id, r.score, r.rank) for r in rows] == \
        [(0, 1, 0.5, 1)]
