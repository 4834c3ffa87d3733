"""Iterative graph algorithms in pure DataFrame algebra.

PageRank (Brin & Page 1998) over a document-similarity graph — the
canonical "authority" score a dedup pipeline can use to pick the
canonical member of a duplicate cluster, and the second iterative
operator family (after ``dedup_components``' label propagation) that
proves the engine handles fixed-point loops declaratively.

Per iteration: ONE equi-join (ranks onto the out-edge list) and ONE
hash aggregation on the destination key — the same join+agg round
shape as ``dedup_components``' Spark path (the one it takes when the
edge list exceeds ``SMALL_SIDE_CAP``; smaller graphs run their rounds
in NumPy on the driver), so cost is O(edges) per round with
map-side partial aggregation, and no windows.  Each round's rank
frame is ``localCheckpoint``-materialized: without lineage truncation
the iterative plan re-embeds every prior round exponentially (a
cluster deployment uses reliable ``checkpoint()``).

Variant pinned for cross-engine determinism (replayed by the unrolled
MATERIALIZED-CTE oracle in ``plans/q_dedup.py``): undirected edges
walked both ways, uniform teleport ``(1-d)/N``, NO dangling-mass
redistribution (isolated nodes hold the teleport floor), fixed
iteration count.

Reference analog: none (the reference has no graph operators); the
canonical-selection use case extends its dedup surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(edges: DataFrame, nodes: DataFrame, iters: int = 5,
             damping: float = 0.85, node_col: str = "doc_id",
             i_col: str = "i", j_col: str = "j") -> DataFrame:
    """PageRank over undirected ``(i, j)`` edges.

    ``nodes`` is the one-column spine of all node ids (isolated nodes
    keep the teleport floor).  Returns ``(node_col, rank)`` with raw
    (unnormalized-sum) ranks; multiply by N for mean-1.0 scaling.
    """
    spark = edges.sparkSession
    n = nodes.count()
    if n == 0:
        return spark.createDataFrame([], f"{node_col} long, rank double")

    dir_edges = (edges.select(F.col(i_col).alias("src"),
                              F.col(j_col).alias("dst"))
                 .unionByName(edges.select(F.col(j_col).alias("src"),
                                           F.col(i_col).alias("dst")))
                 .distinct())
    deg = dir_edges.groupBy("src").agg(
        F.count("*").cast("double").alias("deg"))
    walk = dir_edges.join(deg, "src").localCheckpoint()

    spine = nodes.select(F.col(node_col).alias("node"))
    ranks = spine.withColumn("rank", F.lit(1.0 / n))
    teleport = (1.0 - damping) / n
    for _ in range(iters):
        contrib = (walk.join(ranks, walk["src"] == ranks["node"])
                   .groupBy("dst")
                   .agg(F.sum(F.col("rank") / F.col("deg")).alias("m")))
        ranks = (spine.join(contrib, spine["node"] == contrib["dst"],
                            "left")
                 .select("node",
                         (F.lit(teleport)
                          + damping * F.coalesce("m", F.lit(0.0)))
                         .alias("rank"))
                 .localCheckpoint())
    return ranks.select(F.col("node").alias(node_col), "rank")


def shared_shingle_edges(docs: DataFrame, n: int = 5,
                         min_common: int = 3, max_df: int = 20,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Similarity edges: (i < j) doc pairs sharing at least
    ``min_common`` distinct word ``n``-gram shingles.

    Postings shape with the stop-shingle guard: shingles whose
    document frequency exceeds ``max_df`` are dropped BEFORE the
    self-join, so a boilerplate gram shared by half the corpus can
    never drive the pair fan-out quadratic.
    """
    from python_vector_db___ai_spark.operators.dedup import word_shingles

    grams = docs.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), n)).alias("gram"))
    dfreq = grams.groupBy("gram").agg(F.count("*").alias("df"))
    kept = grams.join(dfreq.filter(F.col("df") <= max_df), "gram")
    a = kept.select(F.col(id_col).alias("i"), "gram")
    b = kept.select(F.col(id_col).alias("j"), "gram")
    return (a.join(b, "gram")
            .filter(F.col("i") < F.col("j"))
            .groupBy("i", "j")
            .agg(F.count("*").cast("long").alias("common"))
            .filter(F.col("common") >= min_common)
            .select("i", "j"))
