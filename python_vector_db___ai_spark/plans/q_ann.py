"""ANN queries: IVF centroid build, pruned search, recall-vs-exact
harness, and the MLlib KMeans/LSH variants (rows-only)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_vector_db___ai_spark.operators.ivf import (
    build_centroids,
    ivf_search,
    kmeans_silhouette_sweep,
    recall_against_exact,
)
from python_vector_db___ai_spark.operators.search import knn_join_blas
from python_vector_db___ai_spark.plans.q_vector import N_QUERIES, _cos_sql
from python_vector_db___ai_spark.plans.queries import register
from python_vector_db___ai_spark.session import load_table

K = 10
NPROBE = 3
# Embedding dimensionality shared by the SRP-sketch oracle's
# hyperplane literal and the Spark side's dim check (r9 ADVICE: the
# oracle used to hard-code d=64 while sketch_build inferred it from
# the data — a scale factor shipping a different dim would have
# regenerated different hyperplanes and hash-mismatched with no hint).
EMB_DIM = 64

# Shared oracle CTEs: rounded per-label centroids (long + array form),
# probe ranking, pruned candidate scan — mirrors operators/ivf.py.
_IVF_CTE = f"""
WITH cl AS (
  SELECT label, pos, round(avg(v), 6) AS c FROM (
    SELECT label, unnest(embedding::DOUBLE[]) AS v,
           generate_subscripts(embedding, 1) - 1 AS pos
    FROM embeddings
  ) GROUP BY label, pos
), cent AS (
  SELECT label, list(c ORDER BY pos) AS centroid FROM cl GROUP BY label
), q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {N_QUERIES}
), probe AS (
  SELECT query_id, qv, label FROM (
    SELECT q.query_id, q.qv, cent.label,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round({_cos_sql('q.qv', 'cent.centroid')}, 6) DESC,
                      cent.label ASC) AS cr
    FROM q CROSS JOIN cent
  ) WHERE cr <= {NPROBE}
), cand AS (
  SELECT p.query_id, e.vec_id,
         round({_cos_sql('p.qv', 'e.embedding::DOUBLE[]')}, 6) AS score
  FROM probe p JOIN embeddings e ON e.label = p.label
), ivf AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, vec_id ASC) AS rank
  FROM cand
)
"""


@register(
    "ivf_centroids",
    oracle="""
SELECT label, pos, round(avg(v), 6) AS centroid_val FROM (
  SELECT label, unnest(embedding::DOUBLE[]) AS v,
         generate_subscripts(embedding, 1) - 1 AS pos
  FROM embeddings
) GROUP BY label, pos
""",
    doc="X2 IVF centroid build: per-cluster mean vectors, long form",
)
def ivf_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cents = build_centroids(emb, cluster_col="label", vec_col="embedding")
    return (cents.select("label", F.posexplode("centroid").alias("pos", "centroid_val"))
            .select("label", F.col("pos").cast("long").alias("pos"),
                    "centroid_val"))


@register(
    "ivf_search_cosine",
    oracle=_IVF_CTE + f"""
SELECT query_id, vec_id, score, rank FROM ivf WHERE rank <= {K}
""",
    doc=f"X2/X5 IVF pruned search: probe top-{NPROBE} of 10 clusters, "
        "equi-join prune, exact within candidates",
)
def ivf_search_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id") < N_QUERIES)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    return ivf_search(queries, emb, nprobe=NPROBE, k=K, metric="cosine",
                      corpus_id="vec_id", cluster_col="label")


@register(
    "ann_recall_ivf",
    oracle=_IVF_CTE + f""", exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, e.vec_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round({_cos_sql('q.qv', 'e.embedding::DOUBLE[]')}, 6) DESC,
                      e.vec_id ASC) AS rank
    FROM q CROSS JOIN embeddings e
  ) WHERE rank <= {K}
), hits AS (
  SELECT i.query_id, count(*)::BIGINT AS n_hits
  FROM (SELECT query_id, vec_id FROM ivf WHERE rank <= {K}) i
  JOIN exact x ON x.query_id = i.query_id AND x.vec_id = i.vec_id
  GROUP BY i.query_id
)
SELECT e.query_id, count(*)::BIGINT AS n_exact,
       coalesce(any_value(h.n_hits), 0)::BIGINT AS n_hits,
       round(coalesce(any_value(h.n_hits), 0) * 1.0 / count(*), 6) AS recall
FROM exact e LEFT JOIN hits h ON h.query_id = e.query_id
GROUP BY e.query_id
""",
    doc="X6 recall@10 of IVF vs the exact scan (day_6 oracle method)",
)
def ann_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id") < N_QUERIES)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    approx = ivf_search(queries, emb, nprobe=NPROBE, k=K, metric="cosine",
                        corpus_id="vec_id", cluster_col="label")
    exact = knn_join_blas(queries, emb, k=K, metric="cosine",
                          corpus_id="vec_id")
    return recall_against_exact(approx, exact, corpus_id="vec_id")


# NB: the trained-quantizer IVF recall harness lives in bench.py's ANN
# section (kmeans_centroids + assign_clusters + ivf_search +
# recall_against_exact) rather
# than the registry: its centroids are engine-internal, so a registry
# entry could only ever be a rows-only check, and the recall number is
# what matters — BENCH reports it per round.


def _lsh_oracle() -> str:
    """DuckDB replay of the SRP-sketch tier from FIRST PRINCIPLES: the
    seeded hyperplanes are regenerated at import (the same
    ``default_rng(42).standard_normal`` draw ``sketch_build`` makes,
    the way ``tests/test_properties.py`` already replays them) and
    inlined as
    a 256-row VALUES literal, so DuckDB independently computes the
    sign bits, Hamming distances, the top-L candidate cut (ties on
    vec_id, matching ``sketch_knn``), the exact re-rank, and the
    recall arithmetic — a full differential check of the engine path,
    not an echo of it.  ``L = greatest(20, n // 10)`` is derived
    relationally so the oracle tracks the corpus size like the Spark
    side does."""
    import numpy as np

    n_bits, d, seed = 256, EMB_DIM, 42
    H = np.random.default_rng(seed).standard_normal((n_bits, d))
    planes = ",\n".join(
        "({}, [{}])".format(i, ", ".join(repr(float(x)) for x in H[i]))
        for i in range(n_bits))
    return f"""
WITH planes(i, h) AS (VALUES
{planes}
), base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), params AS (
  SELECT greatest(20, count(*) // 10) AS L FROM base
), bits AS (
  SELECT b.vec_id, p.i,
         CASE WHEN list_dot_product(b.v, p.h) > 0 THEN 1 ELSE 0 END AS bit
  FROM base b CROSS JOIN planes p
), ham AS (
  SELECT q.vec_id AS query_id, c.vec_id,
         sum(CASE WHEN q.bit <> c.bit THEN 1 ELSE 0 END) AS ham
  FROM (SELECT * FROM bits WHERE vec_id < {N_QUERIES}) q
  JOIN bits c USING (i)
  GROUP BY 1, 2
), cand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY ham ASC, vec_id ASC) AS hr
    FROM ham
  ) WHERE hr <= (SELECT L FROM params)
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < {N_QUERIES}
), sk AS (
  SELECT query_id, vec_id FROM (
    SELECT c.query_id, c.vec_id,
           row_number() OVER (PARTITION BY c.query_id
             ORDER BY round({_cos_sql('q.qv', 'b.v')}, 6) DESC,
                      c.vec_id ASC) AS rank
    FROM cand c JOIN q USING (query_id) JOIN base b ON b.vec_id = c.vec_id
  ) WHERE rank <= {K}
), exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, b.vec_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY round({_cos_sql('q.qv', 'b.v')}, 6) DESC,
                      b.vec_id ASC) AS rank
    FROM q CROSS JOIN base b
  ) WHERE rank <= {K}
)
SELECT 'sketch_hamming' AS method, e.query_id,
       count(*)::BIGINT AS n_exact,
       coalesce(any_value(h.n_hits), 0)::BIGINT AS n_hits,
       round(coalesce(any_value(h.n_hits), 0) * 1.0 / count(*), 6)
         AS recall
FROM exact e LEFT JOIN (
  SELECT s.query_id, count(*)::BIGINT AS n_hits
  FROM sk s JOIN exact x
    ON x.query_id = s.query_id AND x.vec_id = s.vec_id
  GROUP BY s.query_id
) h ON h.query_id = e.query_id
GROUP BY e.query_id
UNION ALL
SELECT 'hnsw_exhaustive' AS method, query_id,
       count(*)::BIGINT AS n_exact, count(*)::BIGINT AS n_hits,
       round(count(*) * 1.0 / count(*), 6) AS recall
FROM exact GROUP BY query_id
"""


@register(
    "lsh_ann_recall",
    oracle=_lsh_oracle(),
    doc="X3/X4 graph + sketch tiers: distributed HNSW (partition-local "
        "numpy graphs with the paper's diversity heuristic, broadcast "
        "query batch, per-query global merge) and the 256-bit SRP sketch "
        "+ Hamming top-L filter + exact re-rank — recall@10 vs the exact "
        "scan for both (>= 0.95 on sf0.1, above the reference's weakest "
        "HNSW recall 0.752).  Round-9 oracle upgrade (r8 directive #2a): "
        "the SKETCH branch is replayed end-to-end in DuckDB from the "
        "seed — literal hyperplanes, sign bits, Hamming top-L, exact "
        "re-rank, recall arithmetic — an independent differential "
        "check; the HNSW branch follows the lifecycle pattern: "
        "connectivity is BFS-audited, the persisted graph is searched "
        "with an exhaustive beam (ef = corpus size — under which "
        "exhaustive == exact is a theorem, at ANY scale, not an "
        "empirical recall), and the rows are additionally "
        "HARD-ASSERTED row-equal to the exact top-k (raising, not "
        "hash-mismatching, on violation) before the oracle replays "
        "them from the exact scan.  The PRODUCTION-beam (ef=64) hnsw "
        "recall stays measured in the bench ann/scale sweeps at every "
        "factor, and production-beam row-fidelity is asserted by "
        "hnsw_index_lifecycle's matches_inflight.",
)
def lsh_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_vector_db___ai_spark.operators.index_store import (
        hnsw_build_index,
        hnsw_connectivity,
        hnsw_search,
    )
    from python_vector_db___ai_spark.operators.lsh import sketch_knn

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    # The oracle's hyperplane literal was generated at EMB_DIM; a
    # corpus with any other dim must fail LOUDLY here, not regenerate
    # different planes and silently hash-mismatch (r9 ADVICE).
    dim_row = emb.select("embedding").head()
    if dim_row is None:
        # An empty corpus must fail as loudly as a wrong-dim one —
        # first()[...] on None raised an opaque TypeError here
        # (r10 ADVICE #4).
        raise AssertionError(
            "lsh_ann_recall: embeddings table is empty — no corpus to "
            "check against EMB_DIM or to build indexes over.")
    actual_dim = len(dim_row["embedding"])
    if actual_dim != EMB_DIM:
        raise AssertionError(
            f"lsh_ann_recall: corpus dim {actual_dim} != EMB_DIM "
            f"{EMB_DIM} that the oracle's hyperplanes were drawn at.")
    queries = (emb.filter(F.col("vec_id") < N_QUERIES)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    # Both recall branches consume the exact frame — cache so the
    # exact scan runs once (n_queries x k rows, tiny).
    exact = knn_join_blas(queries, emb, k=K, metric="cosine",
                          corpus_id="vec_id").cache()
    sk = sketch_knn(queries, emb, k=K, n_bits=256, L=max(20, n // 10))
    # HNSW branch, lifecycle discipline: BFS connectivity audit +
    # exhaustive beam — under connectivity, exhaustive-beam == exact
    # is a THEOREM (holds at any corpus size, unlike the production
    # ef=64 beam, whose hit set measurably diverges from exact on the
    # sf0.1 corpus — 8/200 rows — and so cannot back a hash oracle).
    graph = hnsw_build_index(emb, n_partitions=32)
    bad = (hnsw_connectivity(graph)
           .filter(F.col("n_reachable") != F.col("n_nodes")).collect())
    if bad:
        raise AssertionError(
            f"lsh_ann_recall: disconnected layer-0 graph(s): {bad} — "
            "the exhaustive-beam == exact precondition does not hold.")
    hn = hnsw_search(queries, graph, k=K, ef_search=n)
    # Belt over the theorem: any implementation bug surfaces as a
    # loud raise, not an opaque oracle hash mismatch.
    hn_ids = hn.select("query_id", "vec_id")
    ex_ids = exact.select("query_id", "vec_id")
    n_diff = (hn_ids.exceptAll(ex_ids)
              .unionAll(ex_ids.exceptAll(hn_ids)).count())
    if n_diff:
        raise AssertionError(
            f"lsh_ann_recall: exhaustive-beam hit set diverged from "
            f"the exact top-{K} on {n_diff} rows despite a connected "
            "graph — beam-search implementation bug.")
    out_sk = (recall_against_exact(sk, exact, corpus_id="vec_id")
              .withColumn("method", F.lit("sketch_hamming")))
    out_hn = (recall_against_exact(hn, exact, corpus_id="vec_id")
              .withColumn("method", F.lit("hnsw_exhaustive")))
    return (out_sk.unionByName(out_hn)
            .select("method", "query_id", "n_exact", "n_hits", "recall"))


@register(
    "hnsw_index_lifecycle",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {N_QUERIES}
), topk AS (
  SELECT query_id, vec_id, score, rank FROM (
    SELECT query_id, vec_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, vec_id ASC) AS rank
    FROM (
      SELECT q.query_id, c.vec_id,
             round({_cos_sql('q.qv', 'c.cv')}, 6) AS score
      FROM q CROSS JOIN
           (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings) c
    )
  ) WHERE rank <= {K}
)
SELECT b.branch, t.query_id, t.vec_id, t.score, t.rank
FROM topk t
CROSS JOIN (SELECT 'exact' AS branch
            UNION ALL SELECT 'index_exhaustive') b
""",
    doc="X5 persisted-index lifecycle (operators/index_store.py): build "
        "the partition-local HNSW graphs on the BASE corpus, WRITE them "
        "to parquet, load, UPSERT the remaining rows as an increment "
        "(per-partition graph insertion, cost ∝ increment — the daily "
        "append pipeline, mirroring dedup_incremental_minhash), save/"
        "load the v2 artifact, and answer the query batch search-only "
        "— the reference keeps its indexes alive across queries "
        "(pgvector DDL day_9/database/01_init_db.sql:34-38, long-lived "
        "FAISS objects day_6/day6_complete.py:84-153) and inserts into "
        "them (day_8/endpoints.py:13-49).  Round-8 oracle upgrade "
        "(dedup_embedding_pruned's branch-tagged pattern): the emitted "
        "frame is the exact BLAS top-k UNION the v2-artifact search "
        "run with an exhaustive beam (ef = corpus size) — per-partition "
        "connectivity is asserted first via hnsw_connectivity, under "
        "which exhaustive-beam == exact holds, so DuckDB reproduces "
        "BOTH branches from relational algebra.  The engine-internal "
        "invariants are promoted from rows-only columns to hard "
        "in-query asserts: index_nodes == corpus rows, "
        "upsert_matches_fresh (the upserted artifact is bit-identical "
        "to a fresh full-corpus build — append-id workload replays the "
        "same insertion sequence), and matches_inflight (v2 search at "
        "the PRODUCTION beam width ef=64 row-equal to the in-flight "
        "hnsw_knn over the full corpus).",
)
def hnsw_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from python_vector_db___ai_spark.operators.hnsw import hnsw_knn
    from python_vector_db___ai_spark.operators.index_store import (
        hnsw_build_index,
        hnsw_connectivity,
        hnsw_load,
        hnsw_save,
        hnsw_search,
        hnsw_upsert,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id") < N_QUERIES)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    n_parts = 8
    # Base = first ~80% of ids; increment = the id tail (the append
    # workload: new documents arrive with new, larger ids).
    max_id = emb.agg(F.max("vec_id")).collect()[0][0]
    split = int(max_id * 0.8)
    tmp = tempfile.mkdtemp(prefix="hnsw_lifecycle_")
    try:
        base = emb.filter(F.col("vec_id") < split)
        batch = emb.filter(F.col("vec_id") >= split)
        hnsw_save(hnsw_build_index(base, n_partitions=n_parts),
                  tmp + "/v1")
        v1 = hnsw_load(spark, tmp + "/v1")
        hnsw_save(hnsw_upsert(v1, batch, n_partitions=n_parts),
                  tmp + "/v2")
        v2 = hnsw_load(spark, tmp + "/v2")
        n_corpus = emb.count()
        n_nodes = v2.count()
        if n_nodes != n_corpus:
            raise AssertionError(
                f"lifecycle: index has {n_nodes} nodes, corpus has "
                f"{n_corpus} rows — upsert lost or duplicated ids")
        # partitionBy("part_id") moves the partition column to the end
        # of the parquet read schema — re-select canonical order.
        cols = ["part_id", "seq", "vec_id", "vec", "level",
                "entry_seq", "top_level", "nbrs"]
        v2c = v2.select(cols)
        fresh = hnsw_build_index(emb, n_partitions=n_parts).select(cols)
        if (v2c.exceptAll(fresh).count() != 0
                or fresh.exceptAll(v2c).count() != 0):
            raise AssertionError(
                "lifecycle: upserted artifact != fresh full-corpus "
                "build (upsert_matches_fresh violated)")
        # Production-beam fidelity: the persisted graph answers exactly
        # like the in-flight build at the default ef.
        got = hnsw_search(queries, v2, k=K)
        inflight = hnsw_knn(queries, emb, k=K, n_partitions=n_parts)
        if (got.exceptAll(inflight).count() != 0
                or inflight.exceptAll(got).count() != 0):
            raise AssertionError(
                "lifecycle: v2 search != in-flight hnsw_knn "
                "(matches_inflight violated)")
        # Connectivity gate for the oracle branch below: exhaustive
        # beam returns only REACHABLE nodes, so assert layer-0 BFS
        # covers every node first — a disconnected graph fails here
        # with an attributable message, not as an oracle hash mismatch.
        bad = (hnsw_connectivity(v2)
               .filter(F.col("n_reachable") != F.col("n_nodes"))
               .collect())
        if bad:
            raise AssertionError(
                f"lifecycle: disconnected layer-0 graph(s): {bad}")
        exact = knn_join_blas(queries, emb, k=K, metric="cosine",
                              corpus_id="vec_id")
        exhaustive = hnsw_search(queries, v2, k=K, ef_search=n_corpus)
        out_cols = ["branch", "query_id", "vec_id", "score", "rank"]
        result = (exact.withColumn("branch", F.lit("exact"))
                  .select(out_cols)
                  .unionByName(
                      exhaustive.withColumn(
                          "branch", F.lit("index_exhaustive"))
                      .select(out_cols)))
        # Materialize while the artifact still exists on disk (the
        # returned frame outlives the temp dir), then re-wrap: the
        # result is 2 x N_QUERIES x K rows, driver-side by contract.
        rows = [(r.branch, int(r.query_id), int(r.vec_id),
                 float(r.score), int(r.rank))
                for r in result.orderBy("branch", "query_id",
                                        "rank").collect()]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows, "branch string, query_id long, vec_id long, "
              "score double, rank long")


@register(
    "kmeans_silhouette",
    # The registry's ONE permanent rows-only entry (r9 directive #6b,
    # closed r10): k-means++ is an iterative MLlib algorithm whose
    # fitted centroids depend on distributed init sampling — no SQL
    # replay can reproduce them, and (unlike embedding_pca_variance's
    # spectrum power sums) no data-side identity pins the fitted
    # objective without re-running the solver.  Compensating
    # evidence: the in-row invariant columns below, plus
    # tests/test_ivf.py::test_silhouette_matches_independent_numpy —
    # the MLlib silhouette is recomputed INDEPENDENTLY from the
    # assignments with the published squared-Euclidean closed form
    # and must match to 1e-6.
    oracle=None,
    doc="X7 KMeans k-sweep with silhouette (day_5/day5_complete.py:"
        "165-207); permanent rows-only (iterative MLlib internals) — "
        "silhouette independently recomputed from assignments in "
        "pytest, invariant columns self-checked per row",
)
def kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_silhouette_sweep(emb, k_values=range(2, 8))
