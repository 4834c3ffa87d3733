"""Full end-to-end RAG workflow test, mirroring the reference's
integration test (day_12/tests/test_rag_pipeline.py:265-301): ingest ->
embed -> index -> retrieve -> context -> prompt -> answer -> audit log,
asserting every stage's contract in one flow."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from python_vector_db___ai_spark.operators.embedding import mock_embedding
from python_vector_db___ai_spark.operators.ivf import (
    assign_clusters,
    ivf_search,
    kmeans_centroids,
)
from python_vector_db___ai_spark.operators.rag import (
    PromptLibrary,
    build_context,
    mock_answer,
)
from python_vector_db___ai_spark.operators.search import knn_join_blas
from python_vector_db___ai_spark.sources.versioned import VersionedTable
from python_vector_db___ai_spark.sources.writers import append_query_log

CORPUS = [
    (1, "Machine learning enables computers to learn from experience."),
    (2, "Deep learning uses neural networks with many layers."),
    (3, "Natural language processing helps computers understand text."),
    (4, "Computer vision interprets the visual world from images."),
    (5, "Reinforcement learning trains agents with rewards."),
    (6, "Machine learning enables computers to learn from experience."),  # dup of 1
]


def test_full_rag_workflow(spark, tmp_path):
    # 1. ingest into the versioned store
    docs = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    table = VersionedTable(spark, str(tmp_path / "store"))
    table.create(docs)

    # 2. embed (deterministic mock model) and index with KMeans-IVF
    corpus = table.read().withColumn("embedding",
                                     mock_embedding(F.col("text")))
    cents = kmeans_centroids(corpus, nlist=2, seed=42)
    clustered = assign_clusters(corpus, cents, id_col="doc_id")
    assert set(clustered.columns) >= {"doc_id", "embedding", "cluster_id"}

    # 3. retrieve: the duplicated document must be each other's nearest
    # neighbor with cosine 1.0 (dedup signal through the whole stack)
    queries = (corpus.filter(F.col("doc_id") == 1)
               .select(F.col("doc_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    hits = knn_join_blas(queries, corpus, k=3, metric="cosine",
                         corpus_id="doc_id", exclude_self=True)
    top = hits.filter(F.col("rank") == 1).first()
    assert top.doc_id == 6 and top.score == pytest.approx(1.0)

    # IVF over the KMeans layout agrees on the top hit (probe all
    # clusters -> exact)
    ivf_hits = ivf_search(queries, clustered, centroids=cents, nprobe=2,
                          k=3, corpus_id="doc_id", cluster_col="cluster_id")
    assert ivf_hits.filter(F.col("rank") == 1).first().doc_id in (1, 6)

    # 4. context under budget, rank-ordered
    ranked = (hits.join(corpus.select("doc_id", "text"), "doc_id")
              .select("query_id", "rank", "text"))
    ctx = build_context(ranked, max_length=200)
    row = ctx.first()
    assert row.n_docs >= 1 and row.context_chars <= 200
    assert "learn" in row.context

    # 5. prompt + mock answer
    lib = PromptLibrary()
    qa = ctx.withColumn("question", F.lit("What is machine learning?"))
    prompted = lib.render(qa, "rag_default")
    assert "What is machine learning?" in prompted.first().prompt
    answered = prompted.withColumn(
        "answer", mock_answer(F.col("question"), F.col("context")))
    assert answered.first().answer.startswith("Based on the context:")

    # 6. audit log (S13) accumulates
    log_path = str(tmp_path / "qlog")
    append_query_log(
        answered.select("query_id", "question", "answer")
        .withColumn("retrieval_time", F.lit(0.05)), log_path)
    back = spark.read.parquet(log_path)
    assert back.count() == 1 and "logged_at" in back.columns
