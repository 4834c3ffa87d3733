"""Vector-search queries over the ``embeddings`` table (SURVEY §2.3/2.4/2.7).

Corpus: ``embeddings(vec_id BIGINT, embedding ARRAY<FLOAT>, label INT)``.
Queries are the first ``N_QUERIES`` corpus vectors (deterministic), which
mirrors the reference's perturbed-corpus query strategy
(day_6/day6_complete.py:54-63) while staying oracle-reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_vector_db___ai_spark.functions.vector import (
    l2_normalize,
    vec_norm,
)
from python_vector_db___ai_spark.operators.search import knn_join_blas
from python_vector_db___ai_spark.plans.queries import register
from python_vector_db___ai_spark.session import load_table

N_QUERIES = 20
K = 10

# DuckDB fragments — double-precision vector math matching functions/vector.py
_DD = "list_dot_product({a}, {b})"
_DNORM = "sqrt(list_dot_product({a}, {a}))"


def _cos_sql(a: str, b: str) -> str:
    na = _DNORM.format(a=a)
    nb = _DNORM.format(a=b)
    dot = _DD.format(a=a, b=b)
    return (f"(CASE WHEN {na} > 1e-12 AND {nb} > 1e-12 "
            f"THEN {dot} / ({na} * {nb}) ELSE 0.0 END)")


def _queries_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (emb.filter(F.col("vec_id") < N_QUERIES)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))


# One CTE per metric; the merged query unions the three so a single
# driver check proves V2/V3/V4/V5 + J1/T2 together.
def _knn_metric_sql(metric: str, score_expr: str, order: str) -> str:
    return f"""
SELECT '{metric}' AS metric, query_id, vec_id, score, rank FROM (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score {order}, vec_id ASC) AS rank
  FROM (
    SELECT q.query_id, c.vec_id, round({score_expr}, 6) AS score
    FROM q CROSS JOIN
         (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings) c
  )
) WHERE rank <= {K}
"""


# day-6 perturbed-query parity (day_6/day6_complete.py:54-63): queries
# are corpus vectors plus deterministic md5-derived noise, folded into
# the batch-kNN check as a fourth metric branch.
_PERT_NQ = 10
_PERT_NOISE = 0.1
_PERT_DIM = 64


def _pert_noise_sql(qid: str, i: str) -> str:
    from python_vector_db___ai_spark.functions.hashing import stable_hash_sql

    h = stable_hash_sql(f"concat({qid}, ':', {i})")
    return f"(({h} % 2000) / 1000.0 - 1.0) * {_PERT_NOISE}"


def _perturbed_queries_df(emb: DataFrame) -> DataFrame:
    from python_vector_db___ai_spark.functions.hashing import stable_hash64

    def noise(i):
        return ((stable_hash64(
            F.concat(F.col("vec_id").cast("string"), F.lit(":"),
                     i.cast("string"))) % 2000) / F.lit(1000.0) - 1.0) \
            * _PERT_NOISE

    return (emb.filter(F.col("vec_id") < _PERT_NQ)
            .select(F.col("vec_id").alias("query_id"),
                    F.transform(
                        F.sequence(F.lit(1), F.lit(_PERT_DIM)),
                        lambda i: F.element_at(
                            F.col("embedding"), i).cast("double")
                        + noise(i)).alias("query_vec")))


@register(
    "knn_exact_batch",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {N_QUERIES}
)
{_knn_metric_sql('cosine', _cos_sql('qv', 'cv'), 'DESC')}
UNION ALL
{_knn_metric_sql('l2', 'list_distance(qv, cv)', 'ASC')}
UNION ALL
{_knn_metric_sql('dot', 'list_dot_product(qv, cv)', 'DESC')}
UNION ALL
SELECT 'cosine_perturbed' AS metric, query_id, vec_id, score, rank FROM (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, vec_id ASC) AS rank
  FROM (
    SELECT p.query_id, c.vec_id, round({_cos_sql('p.qv', 'c.cv')}, 6) AS score
    FROM (
      SELECT vec_id AS query_id,
             list_transform(range(1, {_PERT_DIM} + 1),
                            i -> embedding[i]::DOUBLE
                                 + {_pert_noise_sql('vec_id', 'i')}) AS qv
      FROM embeddings WHERE vec_id < {_PERT_NQ}
    ) p CROSS JOIN
        (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings) c
  )
) WHERE rank <= {K}
""",
    doc="J1/T2 exact flat batch kNN under cosine / L2 / inner-product "
        "(day_6/day6_complete.py:86-99; pgvector <->, <#> "
        "day_9/database/vector_ops.py:143-147) plus the day-6 "
        "perturbed-query parity branch (deterministic noise; the "
        "perturbed source surfaces near rank 1) — four branches, one check",
)
def knn_exact_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_vector_db___ai_spark.operators.search import (
        knn_join_blas_multi,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = _queries_df(spark, sf_dir)
    # cosine / L2 / dot share one corpus pass (one Arrow read per batch)
    shared = knn_join_blas_multi(
        q, emb, k=K,
        metric_labels=(("cosine", "cosine"), ("l2", "l2"),
                       ("inner_product", "dot")),
        corpus_id="vec_id")
    pert = knn_join_blas(_perturbed_queries_df(emb), emb, k=K,
                         metric="cosine", corpus_id="vec_id") \
        .withColumn("metric", F.lit("cosine_perturbed"))
    return (shared.unionByName(
        pert.select("metric", "query_id", "vec_id", "score", "rank")))


_PAIRS_N = 200
_PAIRS_K = 20
_EPAIR_N = 100


@register(
    "topk_similar_pairs",
    oracle=f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS ev
  FROM embeddings WHERE vec_id < {_PAIRS_N}
), ve AS (
  SELECT vec_id, embedding::DOUBLE[] AS ev
  FROM embeddings WHERE vec_id < {_EPAIR_N}
), cos_pairs AS (
  SELECT 'cosine' AS metric, i, j, score FROM (
    SELECT a.vec_id AS i, b.vec_id AS j,
           round({_cos_sql('a.ev', 'b.ev')}, 6) AS score
    FROM v a JOIN v b ON a.vec_id < b.vec_id
  ) ORDER BY score DESC, i ASC, j ASC LIMIT {_PAIRS_K}
), ed AS (
  SELECT a.vec_id AS i, b.vec_id AS j,
         round(list_distance(a.ev, b.ev), 6) AS dist
  FROM ve a JOIN ve b ON a.vec_id < b.vec_id
), em AS (SELECT max(dist) AS max_d FROM ed),
eu_pairs AS (
  SELECT 'euclidean_sim' AS metric, i, j,
         round(1.0 - dist / max_d, 6) AS score
  FROM ed, em
  ORDER BY score DESC, i ASC, j ASC LIMIT {_PAIRS_K}
)
SELECT * FROM cos_pairs UNION ALL SELECT * FROM eu_pairs
""",
    doc="T3 top-k most-similar pairs, upper triangle, under cosine "
        "(day_5/day5_complete.py:122-146) and the day-5 global-max "
        "normalized euclidean similarity (V4/A10) — one union, one check",
)
def topk_similar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_vector_db___ai_spark.operators.search import (
        pairwise_metrics_blas,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.filter(F.col("vec_id") < _PAIRS_N)
    # ONE upper-triangle pass computes both metrics (BLAS scores per
    # partition against the broadcast matrix — the θ-join's per-pair
    # interpreted expressions don't survive 20k pairs); cache() makes
    # the three consumers (cosine top-k, the global-max aggregate, the
    # normalized-euclidean top-k) share a single physical evaluation,
    # and the max folds back in as a broadcast scalar — no second pass
    # over the pairs.
    pairs = pairwise_metrics_blas(v, id_col="vec_id",
                                  vec_col="embedding").cache()
    cos = (pairs
           .orderBy(F.col("cos_score").desc(), F.col("i").asc(),
                    F.col("j").asc())
           .limit(_PAIRS_K)
           .select(F.lit("cosine").alias("metric"), "i", "j",
                   F.col("cos_score").alias("score")))
    ed = pairs.filter(F.col("j") < _EPAIR_N)   # i < j  =>  both < _EPAIR_N
    max_d = ed.agg(F.max("dist").alias("max_d"))
    eu = (ed.crossJoin(F.broadcast(max_d))
          .select(F.lit("euclidean_sim").alias("metric"), "i", "j",
                  F.round(1.0 - F.col("dist") / F.col("max_d"), 6)
                  .alias("score"))
          .orderBy(F.col("score").desc(), F.col("i").asc(), F.col("j").asc())
          .limit(_PAIRS_K))
    return cos.unionByName(eu)


@register(
    "vector_norm_stats",
    oracle="""
WITH n AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS ev,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
), u AS (
  SELECT vec_id, label, nrm,
         sqrt(list_dot_product(nv, nv)) AS unit_norm
  FROM (
    SELECT vec_id, label, nrm,
           CASE WHEN nrm > 1e-12 THEN list_transform(ev, x -> x / nrm)
                ELSE ev END AS nv
    FROM n
  )
)
SELECT label,
       count(*) AS n_vectors,
       round(avg(nrm), 6) AS avg_norm,
       round(min(nrm), 6) AS min_norm,
       round(max(nrm), 6) AS max_norm,
       round(stddev_samp(nrm), 6) AS std_norm,
       round(min(unit_norm), 6) AS min_unit_norm,
       round(max(unit_norm), 6) AS max_unit_norm
FROM u GROUP BY label
""",
    doc="V8 embedding norm statistics per cluster label "
        "(day_5/day5_complete.py:53-76) + V1 invariant "
        "||l2_normalize(v)|| == 1 folded in as min/max unit norm "
        "(day_2/noramalization.py:96)",
)
def vector_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.select(
        "label", vec_norm(F.col("embedding")).alias("nrm"),
        vec_norm(l2_normalize(F.col("embedding"))).alias("unit_norm"))
    return (n.groupBy("label")
             .agg(F.count("*").alias("n_vectors"),
                  F.round(F.avg("nrm"), 6).alias("avg_norm"),
                  F.round(F.min("nrm"), 6).alias("min_norm"),
                  F.round(F.max("nrm"), 6).alias("max_norm"),
                  F.round(F.stddev_samp("nrm"), 6).alias("std_norm"),
                  F.round(F.min("unit_norm"), 6).alias("min_unit_norm"),
                  F.round(F.max("unit_norm"), 6).alias("max_unit_norm")))


_OUT_Z = 2.0
_OUT_TOPK = 25


@register(
    "embedding_outliers",
    oracle=f"""
WITH cents AS (
  SELECT label, pos, round(avg(v), 6) AS c FROM (
    SELECT label, unnest(embedding::DOUBLE[]) AS v,
           generate_subscripts(embedding, 1) - 1 AS pos
    FROM embeddings
  ) GROUP BY label, pos
), cvec AS (
  SELECT label, list(c ORDER BY pos) AS centroid FROM cents GROUP BY label
), dists AS (
  SELECT e.vec_id, e.label AS cluster,
         list_distance(e.embedding::DOUBLE[], c.centroid) AS dist
  FROM embeddings e JOIN cvec c ON c.label = e.label
), stats AS (
  SELECT cluster, avg(dist) AS mu, stddev_pop(dist) AS sd
  FROM dists GROUP BY cluster
)
SELECT vec_id, cluster, round(dist, 6) AS dist,
       round((dist - mu) / sd, 6) AS z
FROM dists JOIN stats USING (cluster)
WHERE sd > 0 AND round((dist - mu) / sd, 6) > {_OUT_Z}
ORDER BY round((dist - mu) / sd, 6) DESC, vec_id ASC
LIMIT {_OUT_TOPK}
""",
    doc="per-cluster embedding outliers: distance-to-centroid z-score "
        "(rounded centroids for cross-engine determinism; two bounded "
        "aggregates + broadcast joins; never a corpus-wide window) — "
        "the embedding-space QA pass for mislabeled vectors",
)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_vector_db___ai_spark.operators.embedding import (
        embedding_outlier_zscores,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_outlier_zscores(emb, z_threshold=_OUT_Z, k=_OUT_TOPK)


@register(
    "embedding_covariance",
    oracle="""
WITH u AS (
  SELECT vec_id, gs.i AS i, embedding[gs.i]::DOUBLE AS v
  FROM embeddings, LATERAL (
    SELECT generate_subscripts(embedding, 1) AS i) gs
)
SELECT a.i::BIGINT AS i, b.i::BIGINT AS j,
       round(covar_samp(a.v, b.v), 6) AS cov
FROM u a JOIN u b ON a.vec_id = b.vec_id
GROUP BY a.i, b.i
""",
    doc="d x d sample covariance of the embedding column — the PCA / "
        "whitening input.  Engine: one Arrow pass reducing each "
        "partition to (n, sum, X^T X) partials (executors x O(d^2) "
        "collect, the treeAggregate shape); oracle: covar_samp over "
        "the exploded (vec_id, i, v) self-join",
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_vector_db___ai_spark.operators.pca import covariance_matrix

    emb = load_table(spark, sf_dir, "embeddings")
    return covariance_matrix(emb)


@register(
    "embedding_pca_variance",
    # Full hash oracle since r10 (r9 directive #6a).  EigenVECTORS
    # remain un-oracle-able (data-dependent, so lsh_ann_recall's
    # seed-replay inlining cannot apply; DuckDB has no eigensolver,
    # and a recursive-CTE Jacobi would not match LAPACK at the 6th
    # decimal for near-degenerate eigenvalues) — but the SPECTRUM's
    # power sums are theorems of the symmetric eigendecomposition
    # that DuckDB derives independently from the raw data with
    # covar_samp algebra: Σλ = trace, Σλ² = ‖C‖²_F, Σλ³ = tr(C³) via
    # the cyclic triple join.  The engine computes all three FROM THE
    # EIGENVALUES, so a hash match is a differential check of the
    # eigensolver against the relationally recomputed covariance, not
    # an echo.  Per-component detail (eigenvalue == independent
    # var_samp of each projection, orthonormality) is HARD-ASSERTED
    # inside the operator before anything is emitted — a violation
    # raises loudly instead of hash-mismatching — and stays covered
    # by pca_variance_report's numpy replay in tests/test_pca.py.
    # Verified engine == oracle at 6 decimals on sf0.001/0.01/0.1.
    oracle="""
WITH u AS (
  SELECT vec_id, gs.i AS i, embedding[gs.i]::DOUBLE AS v
  FROM embeddings, LATERAL (
    SELECT generate_subscripts(embedding, 1) AS i) gs
), c AS (
  SELECT a.i AS i, b.i AS j, covar_samp(a.v, b.v) AS cov
  FROM u a JOIN u b ON a.vec_id = b.vec_id
  GROUP BY a.i, b.i
)
SELECT 'dim' AS metric, (SELECT max(i) FROM c)::DOUBLE AS value
UNION ALL
SELECT 'frobenius_sq', round(sum(cov * cov), 6) FROM c
UNION ALL
SELECT 'n_vectors', (SELECT count(*) FROM embeddings)::DOUBLE
UNION ALL
SELECT 'trace', round(sum(cov), 6) FROM c WHERE i = j
UNION ALL
SELECT 'trace_c3', (SELECT round(sum(x.cov * y.cov * z.cov), 6)
                    FROM c x JOIN c y ON x.j = y.i
                    JOIN c z ON y.j = z.i AND z.j = x.i)
""",
    doc="PCA eigensolver invariants, hash-checked: Σλ/Σλ²/Σλ³ from "
        "LAPACK eigenvalues == trace/‖C‖²_F/tr(C³) recomputed "
        "relationally by DuckDB; per-component eigenvalue-vs-var_samp "
        "and orthonormality HARD-ASSERTED engine-side (top-8 report "
        "in pca_variance_report, numpy replay in tests/test_pca.py)",
)
def embedding_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_vector_db___ai_spark.operators.pca import (
        pca_spectrum_invariants,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return pca_spectrum_invariants(emb, report_k=8)
