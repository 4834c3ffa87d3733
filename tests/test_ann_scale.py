"""Tests for the scale-path ANN operators: spill-assigned KMeans IVF,
the binary-sketch tier, and the blocked (no-θ-join) near-dup
variants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from python_vector_db___ai_spark.operators.dedup import (
    embedding_neardup_pairs,
    embedding_neardup_pruned,
    simhash_fingerprints,
    simhash_pairs,
)
from python_vector_db___ai_spark.operators.ivf import (
    assign_clusters,
    ivf_search,
    kmeans_centroids,
)
from python_vector_db___ai_spark.session import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings").cache()


@pytest.fixture(scope="module")
def queries(emb):
    return (emb.filter(F.col("vec_id") < 10)
            .select(F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("query_vec")))


def test_simhash_blocked_equals_naive(spark):
    """Pigeonhole chunk-blocking is lossless: identical output to the
    direct θ-join formulation."""
    docs = load_table(spark, SF_DIR, "documents").limit(80)
    blocked = {(r.i, r.j, r.hamming)
               for r in simhash_pairs(docs, bits=16, max_hamming=3).collect()}
    fps = simhash_fingerprints(docs, bits=16)
    a = fps.select(F.col("doc_id").alias("i"), F.col("simhash").alias("fa"))
    b = fps.select(F.col("doc_id").alias("j"), F.col("simhash").alias("fb"))
    naive = {(r.i, r.j, r.hamming) for r in
             (a.join(b, F.col("i") < F.col("j"))
              .withColumn("hamming", F.bit_count(
                  F.col("fa").bitwiseXOR(F.col("fb"))).cast("long"))
              .filter(F.col("hamming") <= 3)
              .select("i", "j", "hamming")).collect()}
    assert blocked == naive


def test_simhash_blocked_plan_has_no_theta_join(spark):
    docs = load_table(spark, SF_DIR, "documents").limit(50)
    plan = simhash_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_pruned_subset_of_exact(emb):
    """The pruned near-dup returns a subset of the exact pairs with
    identical cosines, and its plan contains no θ-join."""
    exact = {(r.i, r.j): r.cosine for r in
             embedding_neardup_pairs(emb, threshold=0.0)
             .withColumn("cosine", F.round("cosine", 6))
             .filter(F.col("cosine") >= 0.4).collect()}
    pruned_df = embedding_neardup_pruned(emb, threshold=0.4, spill=2)
    pruned = {(r.i, r.j): r.cosine for r in pruned_df.collect()}
    assert pruned  # finds something at this threshold
    for pair, cos in pruned.items():
        assert pair in exact
        assert cos == pytest.approx(exact[pair], abs=1e-6)
    plan = pruned_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # Pair generation happens inside the grouped Arrow kernel (one
    # matmul per cluster), never as a corpus-sized θ-join; the only
    # nested-loop join in the plan is the coarse-quantizer cross join
    # against the tiny broadcast centroid table (AQE's toString lists
    # it once per plan section).
    assert "FlatMapGroupsInPandas" in plan


def test_ivf_pruned_kernel_euclidean_similarity(emb, queries):
    """The pruned BLAS kernel scores euclidean_similarity as 1/(1+d)
    (desc order) instead of silently falling through to a dot product,
    and rejects unknown metrics."""
    got = ivf_search(queries, emb, nprobe=10, k=5,
                     metric="euclidean_similarity", corpus_id="vec_id",
                     cluster_col="label")
    rows = got.filter(F.col("rank") == 1).collect()
    for r in rows:
        # a self-match has distance 0 -> similarity exactly 1, and no
        # score can exceed 1; a dot-product fall-through would.
        assert r.score <= 1.0
        if r.vec_id == r.query_id:
            assert r.score == pytest.approx(1.0, abs=1e-6)
    with pytest.raises(ValueError):
        ivf_search(queries, emb, nprobe=2, k=5, metric="bogus",
                   corpus_id="vec_id", cluster_col="label").collect()


def test_spill_assignment_and_dedup(emb, queries):
    """spill=2 stores each vector in exactly two lists; ivf_search with
    dedup_candidates never returns a (query, vector) pair twice."""
    cents = kmeans_centroids(emb, nlist=8, seed=42)
    assigned = assign_clusters(emb, cents, spill=2, cluster_col="cluster_id")
    per_vec = assigned.groupBy("vec_id").count().collect()
    assert all(r["count"] == 2 for r in per_vec)
    got = ivf_search(queries, assigned, centroids=cents, nprobe=4, k=10,
                     metric="cosine", corpus_id="vec_id",
                     cluster_col="cluster_id", dedup_candidates=True)
    rows = got.collect()
    pairs = [(r.query_id, r.vec_id) for r in rows]
    assert len(pairs) == len(set(pairs))
    # ranks are dense 1..k per query
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_sketch_knn_matches_exact_on_tiny_corpus(emb, queries):
    """With L = the whole corpus the Hamming filter prunes nothing, so
    sketch_knn must equal the exact BLAS scan bit-for-bit."""
    from python_vector_db___ai_spark.operators.lsh import sketch_knn
    from python_vector_db___ai_spark.operators.search import knn_join_blas

    n = emb.count()
    got = {(r.query_id, r.rank): (r.vec_id, r.score) for r in
           sketch_knn(queries, emb, k=5, n_bits=128, L=n).collect()}
    want = {(r.query_id, r.rank): (r.vec_id, r.score) for r in
            knn_join_blas(queries, emb, k=5, metric="cosine",
                          corpus_id="vec_id").collect()}
    assert got == want


def test_sketch_knn_pruned_self_hit_and_bounds(emb, queries):
    """Pruned (L << n) search still returns each query itself at rank 1
    and never more than L candidates' worth of rows."""
    from python_vector_db___ai_spark.operators.lsh import sketch_knn

    got = sketch_knn(queries, emb, k=5, n_bits=256, L=20)
    rows = got.collect()
    top = {r.query_id: r for r in rows if r.rank == 1}
    for qid, r in top.items():
        assert r.vec_id == qid
        assert r.score == pytest.approx(1.0, abs=1e-6)
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, set()).add(r.vec_id)
    assert all(len(v) <= 20 for v in by_q.values())


def test_collect_small_guard_raises(emb):
    """Operators that collect a small-by-contract side fail fast with
    an actionable error instead of flooding the driver; under the cap
    they return the rows."""
    from python_vector_db___ai_spark.operators._guards import collect_small

    with pytest.raises(ValueError, match="test side.*small side"):
        collect_small(emb, "test side", cap=5)
    assert len(collect_small(emb.limit(3), "test side", cap=5)) == 3


def test_sketch_knn_empty_queries_returns_empty(emb, queries):
    from python_vector_db___ai_spark.operators.lsh import sketch_knn

    none = queries.filter(F.col("query_id") < 0)
    out = sketch_knn(none, emb, k=5, n_bits=128, L=10)
    assert out.count() == 0
    assert out.columns == ["query_id", "vec_id", "score", "rank"]
