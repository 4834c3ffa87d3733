"""Similarity search operators (SURVEY.md §2.4 J1, §2.7 T1-T4).

Spark-first design for the reference's query lifecycle
(``day_9/database/vector_ops.py:133-198``: embed → metadata filter →
distance → ORDER BY LIMIT k):

* the query set is small (the reference batches 100 queries,
  ``day_6/day6_complete.py:86-99``) → **broadcast nested-loop join**, so
  the 100-TB corpus side never shuffles; each corpus partition scores
  its rows against the broadcast queries and emits only local top-k
  candidates before the final per-query selection.
* metadata filters go into a plain ``filter`` *before* the join so
  Catalyst pushes them to the parquet scan.
* per-query top-k = ``row_number() OVER (PARTITION BY query ORDER BY
  score)`` with a deterministic ``id`` tie-break — at scale AQE handles
  the (tiny: n_queries x k candidates) final shuffle.
* the BLAS paths (:func:`knn_join_blas`, :func:`knn_join_blas_multi`,
  :func:`pairwise_metrics_blas`) are ``mapInArrow`` kernels: each
  Arrow batch is read, scored and locally cut to top-k through
  ``operators/_kernels.py``, and the final merge is the shared
  ``_ranking.topk_window``.
"""

from __future__ import annotations

from typing import Mapping, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from python_vector_db___ai_spark.functions.vector import (
    METRICS,
    cosine_similarity,
)
from python_vector_db___ai_spark.operators._kernels import (
    descending,
    id_array,
    local_topk,
    score,
    small_side,
    vector_matrix,
)
from python_vector_db___ai_spark.operators._ranking import topk_window


def apply_metadata_filter(df: DataFrame, metadata_filter: Mapping[str, str] | None,
                          metadata_col: str = "metadata") -> DataFrame:
    """ANDed equality filter on a map column (P3/P4,
    day_8/database.py:49-54, day_9/database/vector_ops.py:165-174).

    Values are compared as strings, matching the reference's own
    coercion (day_9/database/vector_ops.py:171).
    """
    if not metadata_filter:
        return df
    for k, v in metadata_filter.items():
        df = df.filter(F.element_at(F.col(metadata_col), k) == str(v))
    return df


def score_column(metric: str, qcol: Column, ccol: Column) -> tuple[Column, bool]:
    """(score expression, descending?) for a named metric
    (day_9/models/schemas.py:6-13 DistanceMetric enum)."""
    desc = descending(metric)
    return METRICS[metric](qcol, ccol), desc


def knn_join(queries: DataFrame, corpus: DataFrame, k: int = 10,
             metric: str = "cosine",
             query_id: str = "query_id", query_vec: str = "query_vec",
             corpus_id: str = "id", corpus_vec: str = "embedding",
             keep_corpus_cols: Sequence[str] = (),
             round_to: int | None = 6,
             exclude_self: bool = False) -> DataFrame:
    """Exact per-query top-k: every query scored against every corpus row
    (J1: day_4/day4_complete.py:58-79, day_6/day6_complete.py:86-99 flat
    search; T2 ORDER BY LIMIT day_9/database/vector_ops.py:176).

    Returns ``(query_id, corpus_id, score, rank)`` + ``keep_corpus_cols``.
    ``round_to`` rounds the score *before* ranking (with an ascending
    corpus-id tie-break) so the ordering is reproducible across engines
    regardless of last-bit float differences.
    """
    score, desc = score_column(metric, F.col(query_vec), F.col(corpus_vec))
    if round_to is not None:
        score = F.round(score, round_to)
    joined = (
        F.broadcast(queries.select(F.col(query_id), F.col(query_vec)))
        .crossJoin(corpus)
    )
    if exclude_self:
        # P8 exclude-self anti-predicate (day_9/main.py:373-376) — only
        # meaningful when query ids live in the corpus id domain.
        joined = joined.filter(F.col(query_id) != F.col(corpus_id))
    joined = joined.withColumn("score", score)
    order = [F.col("score").desc() if desc else F.col("score").asc(),
             F.col(corpus_id).asc()]
    w = Window.partitionBy(query_id).orderBy(*order)
    return (
        joined
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "score", "rank", *keep_corpus_cols)
    )


def knn_join_blas(queries: DataFrame, corpus: DataFrame, k: int = 10,
                  metric: str = "cosine",
                  query_id: str = "query_id", query_vec: str = "query_vec",
                  corpus_id: str = "id", corpus_vec: str = "embedding",
                  round_to: int = 6,
                  exclude_self: bool = False) -> DataFrame:
    """Exact batch kNN, scale-path implementation.

    Identical results to :func:`knn_join` (same rounding + tie-break),
    different physical plan: the query matrix is shipped to every
    partition inside the closure (queries are small by contract — the
    reference batches 100, day_6/day6_complete.py:86-99) and each
    Arrow batch computes a NumPy/BLAS score matrix and keeps only its
    LOCAL top-k per query.  The shuffle that follows carries
    ``n_queries * k`` rows **per partition** instead of
    ``n_queries * n_corpus`` total — at 100 TB that is the difference
    between a merge of sketches and a full re-shuffle of the corpus.
    """
    desc = descending(metric)
    q_ids, Q = small_side(
        queries, query_id, query_vec, "knn_join_blas queries",
        hint="Query batches are small by contract; for a large query "
             "side use knn_join (broadcast join) or batch the queries.")
    if not len(q_ids):
        return corpus.sparkSession.createDataFrame(
            [], f"{query_id} long, {corpus_id} long, score double, "
                "rank long")
    kk = k + (1 if exclude_self else 0)

    def kernel(batches):
        for rb in batches:
            if rb.num_rows:
                yield local_topk(
                    score(Q, vector_matrix(rb.column(1), "knn_join_blas"),
                          metric, round_to),
                    id_array(rb.column(0)), q_ids, kk, desc,
                    (query_id, corpus_id, "score"))

    local = corpus.select(corpus_id, corpus_vec).mapInArrow(
        kernel, schema=f"{query_id} long, {corpus_id} long, score double")
    if exclude_self:
        local = local.filter(F.col(query_id) != F.col(corpus_id))
    return topk_window(local, k, query_id, corpus_id, desc=desc)


def knn_join_blas_multi(queries: DataFrame, corpus: DataFrame, k: int = 10,
                        metric_labels=(("cosine", "cosine"), ("l2", "l2"),
                                       ("inner_product", "dot")),
                        query_id: str = "query_id",
                        query_vec: str = "query_vec",
                        corpus_id: str = "id",
                        corpus_vec: str = "embedding",
                        round_to: int = 6) -> DataFrame:
    """Batch kNN under SEVERAL metrics from ONE corpus pass.

    Each Arrow batch of the corpus is read once and scored under every
    metric — versus one full corpus pass per metric with separate
    :func:`knn_join_blas` calls.  Per-metric results are identical to
    the single-metric path (same rounding, same id tie-break); the
    final merge is one window over ``(metric, query)`` ordered by a
    direction-normalized key (the score, negated for descending
    metrics).

    ``metric_labels``: (metric, output label) pairs; returns
    ``(metric, query_id, corpus_id, score, rank)`` with ``metric`` set
    to the label.
    """
    desc_labels = [lab for m, lab in metric_labels if descending(m)]
    q_ids, Q = small_side(
        queries, query_id, query_vec, "knn_join_blas_multi queries",
        hint="Query batches are small by contract; batch the queries.")
    if not len(q_ids):
        return corpus.sparkSession.createDataFrame(
            [], f"metric string, {query_id} long, {corpus_id} long, "
                "score double, rank long")

    def kernel(batches):
        for rb in batches:
            if not rb.num_rows:
                continue
            C = vector_matrix(rb.column(1), "knn_join_blas_multi")
            c_ids = id_array(rb.column(0))
            for metric, label in metric_labels:
                top = local_topk(score(Q, C, metric, round_to), c_ids,
                                 q_ids, k, descending(metric),
                                 (query_id, corpus_id, "score"))
                yield pa.RecordBatch.from_arrays(
                    [pa.array([label] * top.num_rows, pa.string()),
                     *top.columns], names=["metric", *top.schema.names])

    local = corpus.select(corpus_id, corpus_vec).mapInArrow(
        kernel, schema=f"metric string, {query_id} long, {corpus_id} long, "
                       "score double")
    okey = F.when(F.col("metric").isin(desc_labels), -F.col("score")) \
        .otherwise(F.col("score"))
    w = Window.partitionBy("metric", query_id).orderBy(
        okey.asc(), F.col(corpus_id).asc())
    return (local
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("metric", query_id, corpus_id, "score", "rank"))


def pairwise_metrics_blas(vectors: DataFrame, id_col: str = "id",
                          vec_col: str = "embedding",
                          round_to: int = 6) -> DataFrame:
    """All (i < j) pairs with BOTH rounded cosine and L2 distance from
    one broadcast matrix per partition — the vectorized form of the
    upper-triangle θ-join (small-by-contract corpora; guarded).
    Returns ``(i, j, cos_score, dist)``."""
    ids, V = small_side(
        vectors, id_col, vec_col, "pairwise_metrics_blas corpus",
        hint="All-pairs output is quadratic; use the pruned/blocked "
             "near-dup operators for large corpora.")
    if not len(ids):
        return vectors.sparkSession.createDataFrame(
            [], "i long, j long, cos_score double, dist double")
    bc = vectors.sparkSession.sparkContext.broadcast((ids, V))

    def kernel(batches):
        ids_, V_ = bc.value
        for rb in batches:
            if not rb.num_rows:
                continue
            A = vector_matrix(rb.column(1), "pairwise_metrics_blas")
            a_ids = id_array(rb.column(0))
            r, c = np.nonzero(ids_[None, :] > a_ids[:, None])   # i < j
            yield pa.RecordBatch.from_arrays(
                [pa.array(a_ids[r]), pa.array(ids_[c]),
                 pa.array(score(A, V_, "cosine", round_to)[r, c]),
                 pa.array(score(A, V_, "l2", round_to)[r, c])],
                names=["i", "j", "cos_score", "dist"])

    return vectors.select(id_col, vec_col).mapInArrow(
        kernel, schema="i long, j long, cos_score double, dist double")


def search(corpus: DataFrame, query_vec_lit, k: int = 10, metric: str = "cosine",
           metadata_filter: Mapping[str, str] | None = None,
           corpus_id: str = "id", corpus_vec: str = "embedding",
           metadata_col: str = "metadata") -> DataFrame:
    """Single-query search — the ``POST /search`` lifecycle (SURVEY §3.1):
    filter (pushed down) → score → TakeOrderedAndProject.

    ``query_vec_lit`` is a Python list; it becomes an ``array`` literal so
    the whole plan is one codegen'd scan + top-k, no join at all.
    """
    qcol = F.array(*[F.lit(float(x)) for x in query_vec_lit])
    score, desc = score_column(metric, qcol, F.col(corpus_vec))
    filtered = apply_metadata_filter(corpus, metadata_filter, metadata_col)
    scored = filtered.withColumn("score", score)
    order = [F.col("score").desc() if desc else F.col("score").asc(),
             F.col(corpus_id).asc()]
    return scored.orderBy(*order).limit(k)


def topk_pairs(vectors: DataFrame, k: int = 5, metric: str = "cosine",
               id_col: str = "id", vec_col: str = "embedding",
               threshold: float | None = None) -> DataFrame:
    """Top-k most similar (i, j) pairs with i < j (T3,
    day_5/day5_complete.py:122-146 upper-triangle scan).

    Self-join on the id inequality; for the small corpora this mirrors
    the reference exactly — at 100 TB the LSH/IVF paths in
    ``operators.dedup`` / ``operators.ivf`` replace the O(n^2) join.
    """
    a = vectors.select(F.col(id_col).alias("i"), F.col(vec_col).alias("va"))
    b = vectors.select(F.col(id_col).alias("j"), F.col(vec_col).alias("vb"))
    score, desc = score_column(metric, F.col("va"), F.col("vb"))
    pairs = (
        a.join(b, F.col("i") < F.col("j"))
        .withColumn("score", score)
        .select("i", "j", "score")
    )
    if threshold is not None:
        pairs = pairs.filter(F.col("score") >= threshold if desc
                             else F.col("score") <= threshold)
    order = [F.col("score").desc() if desc else F.col("score").asc(),
             F.col("i").asc(), F.col("j").asc()]
    return pairs.orderBy(*order).limit(k)


def similarity_matrix(vectors: DataFrame, id_col: str = "id",
                      vec_col: str = "embedding") -> DataFrame:
    """All-pairs cosine matrix in long form (V6,
    day_2/noramalization.py:176-185) — every (i, j) including the
    diagonal; symmetric by construction.  Small-n diagnostic only."""
    a = vectors.select(F.col(id_col).alias("i"), F.col(vec_col).alias("va"))
    b = vectors.select(F.col(id_col).alias("j"), F.col(vec_col).alias("vb"))
    return (
        a.crossJoin(b)
        .select("i", "j", cosine_similarity(F.col("va"), F.col("vb")).alias("sim"))
    )
