"""Embedding pipeline (SURVEY §2.3 V7, §2.1 S12, §2.4 J3).

The reference embeds with SentenceTransformer in batches of 32 with an
md5-keyed cache (day_10/embedders/embedding_pipeline.py:76-148,238-314)
and swaps in a deterministic mock when the model is unavailable
(day_10:460-492, day_14/src/main.py:3-18).  Spark mapping:

* **mock embedder** — md5-derived pseudo-embedding as a pure Column
  expression: deterministic, hermetic, DuckDB-reproducible.  This is
  the default in this container (no model weights available).
* **cache** — a Delta/parquet table keyed ``(model, md5(text))``; the
  pipeline left-joins the cache, embeds only misses (J3), and unions
  the two sides — embedding compute scales with *new* data only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from python_vector_db___ai_spark.functions.hashing import md5_hex, stable_hash64
from python_vector_db___ai_spark.functions.vector import l2_normalize

MOCK_DIM = 8


def mock_embedding(text: Column, dim: int = MOCK_DIM,
                   normalize: bool = True) -> Column:
    """Deterministic pseudo-embedding: component ``i`` =
    ``stable_hash64(text + ':' + i) % 2000 / 1000 - 1`` in [-1, 1).
    Same text -> same vector, in Spark and in the DuckDB oracle."""
    comps = F.array(*[
        ((stable_hash64(F.concat(text, F.lit(f":{i}"))) % 2000)
         / F.lit(1000.0) - 1.0)
        for i in range(dim)
    ])
    return l2_normalize(comps) if normalize else comps


def mock_embedding_py(s: str, dim: int = MOCK_DIM,
                      normalize: bool = True) -> list:
    """Python-scalar replica of :func:`mock_embedding` (identical md5
    keying and normalization) for kernels that embed inside a pandas
    UDF — ONE definition, so the Column, SQL, and Python forms cannot
    drift apart."""
    import hashlib

    import numpy as np

    comps = []
    for i in range(dim):
        h = hashlib.md5(f"{s}:{i}".encode()).hexdigest()[:15]
        comps.append((int(h, 16) % 2000) / 1000.0 - 1.0)
    v = np.array(comps)
    if not normalize:
        return v
    n = np.linalg.norm(v)
    return v / n if n > 1e-12 else v


def mock_embedding_sql(expr: str, dim: int = MOCK_DIM,
                       normalize: bool = True) -> str:
    """DuckDB rendering of :func:`mock_embedding` for oracles."""
    from python_vector_db___ai_spark.functions.hashing import stable_hash_sql

    parts = []
    for i in range(dim):
        inner = "concat({e}, ':{i}')".format(e=expr, i=i)
        parts.append(f"({stable_hash_sql(inner)} % 2000) / 1000.0 - 1.0")
    comps = ", ".join(parts)
    arr = f"[{comps}]"
    if not normalize:
        return arr
    return (f"list_transform({arr}, "
            f"x -> x / sqrt(list_dot_product({arr}, {arr})))")


def cache_key(text: Column, model: str = "mock") -> Column:
    """S12 cache key: md5 of the text, namespaced by model
    (day_10/embedders/embedding_pipeline.py:238-250)."""
    return md5_hex(F.concat(F.lit(model + ":"), text))


def embed_with_cache(docs: DataFrame, cache: DataFrame,
                     text_col: str = "text", model: str = "mock",
                     dim: int = MOCK_DIM) -> DataFrame:
    """J3 cache-hit join: docs left-join cache on the content key;
    misses get fresh embeddings, hits reuse cached vectors.

    ``cache`` schema: ``(key string, embedding array<double>)``.
    Returns docs + ``embedding`` + ``cache_hit`` flag.  Union-free: a
    single projection with a coalesce keeps the plan narrow.
    """
    keyed = docs.withColumn("_key", cache_key(F.col(text_col), model))
    joined = keyed.join(
        F.broadcast(cache.select(F.col("key").alias("_key"),
                                 F.col("embedding").alias("_cached"))),
        "_key", "left")
    return (joined
            .withColumn("cache_hit", F.col("_cached").isNotNull())
            .withColumn("embedding",
                        F.coalesce(F.col("_cached"),
                                   mock_embedding(F.col(text_col), dim)))
            .drop("_key", "_cached"))


def quantize_int8(df: DataFrame, vec_col: str = "embedding",
                  round_to: int = 6) -> DataFrame:
    """Per-vector absmax int8 quantization with reconstruction-error
    accounting (beyond-reference memory tier: 4x smaller vectors at
    100 TB; the reference stores float32 end to end,
    day_6/day6_complete.py:84-153).

    ``scale = absmax/127`` (1.0 for all-zero vectors so the division
    is total), codes are ``round(x/scale)`` — every reconstructed
    element is within ``scale/2`` of the original by construction.
    Pure JVM array expressions; the scalar ``scale`` is staged as a
    materialized column so the lambdas reference a column, not a
    re-expanded ``array_max`` per element (64x expression blowup
    otherwise).  Adds ``scale``, ``l2_error``, ``max_abs_error``;
    raises if the input already carries any of the output (or staging)
    column names — ``withColumn`` would silently overwrite them.
    """
    clash = {"scale", "l2_error", "max_abs_error",
             "_v", "_mx", "_diff"} & set(df.columns)
    if clash:
        raise ValueError(
            f"quantize_int8: input already has column(s) {sorted(clash)}; "
            "rename them first — the operator adds scale/l2_error/"
            "max_abs_error and would overwrite")
    staged = (df
              .withColumn("_v", F.transform(F.col(vec_col),
                                            lambda x: x.cast("double")))
              .withColumn("_mx", F.array_max(
                  F.transform(F.col("_v"), lambda x: F.abs(x))))
              .withColumn("scale", F.when(F.col("_mx") > 1e-12,
                                          F.col("_mx") / 127.0)
                          .otherwise(F.lit(1.0)))
              .withColumn("_diff", F.transform(
                  F.col("_v"),
                  lambda x: x - F.round(x / F.col("scale"))
                  * F.col("scale"))))
    return (staged
            .withColumn("l2_error", F.round(
                F.sqrt(F.aggregate(F.col("_diff"), F.lit(0.0),
                                   lambda acc, d: acc + d * d)),
                round_to))
            .withColumn("max_abs_error", F.round(
                F.array_max(F.transform(F.col("_diff"),
                                        lambda d: F.abs(d))), round_to))
            .withColumn("scale", F.round("scale", round_to))
            .drop("_v", "_mx", "_diff"))


def embedding_outlier_zscores(df: DataFrame, cluster_col: str = "label",
                              vec_col: str = "embedding",
                              id_col: str = "vec_id",
                              z_threshold: float = 2.0,
                              k: int = 25) -> DataFrame:
    """Per-cluster embedding outlier detection: distance to the
    cluster centroid, z-scored against the cluster's distance
    distribution — the embedding-space QA pass that surfaces
    mislabeled / off-distribution vectors before they reach training.

    Scale shape: centroids are a bounded per-cluster aggregate
    (components rounded so both engines agree bit-for-bit), broadcast
    back to the corpus; distances are a narrow JVM expression; the
    per-cluster mean/std is a second bounded aggregate joined back by
    broadcast.  Nothing driver-side, no window over the corpus.
    Ranking rounds the z-score BEFORE the global top-k with an id
    tie-break.  Returns ``(id_col, cluster, dist, z)``.
    """
    from python_vector_db___ai_spark.functions.vector import l2_distance
    from python_vector_db___ai_spark.operators.ivf import build_centroids

    cents = build_centroids(df, cluster_col, vec_col)
    dists = (df.join(F.broadcast(cents), cluster_col)
             .select(F.col(id_col), F.col(cluster_col).alias("cluster"),
                     l2_distance(F.col(vec_col), F.col("centroid"))
                     .alias("dist")))
    stats = dists.groupBy("cluster").agg(
        F.avg("dist").alias("_mu"),
        F.stddev_pop("dist").alias("_sd"))
    z = F.when(F.col("_sd") > 0,
               F.round((F.col("dist") - F.col("_mu")) / F.col("_sd"), 6))
    return (dists.join(F.broadcast(stats), "cluster")
            .select(id_col, "cluster", F.round("dist", 6).alias("dist"),
                    z.alias("z"))
            .filter(F.col("z") > z_threshold)
            .orderBy(F.col("z").desc(), F.col(id_col).asc())
            .limit(k))
