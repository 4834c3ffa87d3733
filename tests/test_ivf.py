"""IVF / recall-harness tests (the day-6 exact-oracle pattern)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from python_vector_db___ai_spark.operators.ivf import (
    build_centroids,
    ivf_search,
    recall_against_exact,
)
from python_vector_db___ai_spark.operators.search import knn_join
from python_vector_db___ai_spark.session import load_table
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings").cache()


@pytest.fixture(scope="module")
def queries(emb):
    return (emb.filter(F.col("vec_id") < 10)
            .select(F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("query_vec")))


def test_centroids_simple(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 3.0]), (0, [3.0, 5.0]), (1, [10.0, 10.0])],
        ["label", "embedding"])
    got = {r.label: r.centroid for r in build_centroids(df).collect()}
    assert got[0] == [2.0, 4.0]
    assert got[1] == [10.0, 10.0]


def test_recall_of_exact_vs_itself_is_one(emb, queries):
    exact = knn_join(queries, emb, k=10, corpus_id="vec_id")
    rec = recall_against_exact(exact, exact, corpus_id="vec_id").collect()
    assert len(rec) == 10
    assert all(r.recall == 1.0 and r.n_exact == 10 for r in rec)


def test_ivf_full_probe_equals_exact(emb, queries):
    # probing ALL clusters makes IVF exact: recall must be 1.0
    approx = ivf_search(queries, emb, nprobe=10, k=10,
                        corpus_id="vec_id", cluster_col="label")
    exact = knn_join(queries, emb, k=10, corpus_id="vec_id")
    rec = recall_against_exact(approx, exact, corpus_id="vec_id").collect()
    assert all(r.recall == 1.0 for r in rec)


def test_ivf_pruned_recall_reasonable(emb, queries):
    approx = ivf_search(queries, emb, nprobe=3, k=10,
                        corpus_id="vec_id", cluster_col="label")
    exact = knn_join(queries, emb, k=10, corpus_id="vec_id")
    rec = recall_against_exact(approx, exact, corpus_id="vec_id")
    mean = rec.agg(F.avg("recall")).collect()[0][0]
    assert 0.2 <= mean <= 1.0   # reported, not assumed (SURVEY §7)
    # every query still returns k results
    counts = approx.groupBy("query_id").count().collect()
    assert all(c["count"] == 10 for c in counts)


def test_kmeans_silhouette_invariants(spark):
    """The MLlib sweep has no SQL oracle; its self-checked invariant
    columns (silhouette in [-1,1], inertia non-increasing in k) must be
    uniformly true on the seeded sweep."""
    from python_vector_db___ai_spark.operators.ivf import kmeans_silhouette_sweep
    from python_vector_db___ai_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    rows = kmeans_silhouette_sweep(emb, k_values=range(2, 6)).collect()
    assert len(rows) == 4
    assert all(r.silhouette_in_range for r in rows)
    assert all(r.inertia_non_increasing for r in rows)
    assert all(-1.0 <= r.silhouette <= 1.0 for r in rows)


def test_silhouette_matches_independent_numpy(spark):
    """r10 (r9 directive #6b): the silhouette number the rows-only
    sweep reports is recomputed INDEPENDENTLY from the cluster
    assignments with the published squared-Euclidean closed form
    (a(i)/b(i) as average squared distances expressed through each
    cluster's count, vector sum and squared-norm sum; s(i) =
    (b-a)/max(a,b), mean over points) — the strongest check available
    for an iterative MLlib-internal metric with no SQL oracle."""
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.evaluation import ClusteringEvaluator
    from pyspark.ml.functions import array_to_vector
    from python_vector_db___ai_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    feats = emb.withColumn(
        "_features", array_to_vector(F.col("embedding").cast("array<double>")))
    model = KMeans(k=4, seed=42, featuresCol="_features",
                   predictionCol="_p").fit(feats)
    pred = model.transform(feats)
    mllib_sil = float(ClusteringEvaluator(
        featuresCol="_features", predictionCol="_p",
        metricName="silhouette").evaluate(pred))

    rows = pred.select("embedding", "_p").collect()
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    lab = np.array([r["_p"] for r in rows])
    ks = np.unique(lab)
    stats = {int(k): (int((lab == k).sum()),
                      X[lab == k].sum(axis=0),
                      float((X[lab == k] ** 2).sum())) for k in ks}

    def avg_sq_dist(x, k):
        n, y, psi = stats[k]
        return psi / n - 2.0 * (x @ y) / n + float(x @ x)

    s_vals = []
    for x, own in zip(X, lab):
        n_own = stats[int(own)][0]
        if n_own == 1:
            s_vals.append(0.0)
            continue
        # own-cluster average excludes the point itself: its squared
        # self-distance is 0, so the average over the OTHER n-1
        # points is the include-self average rescaled by n/(n-1)
        a = avg_sq_dist(x, int(own)) * n_own / (n_own - 1)
        b = min(avg_sq_dist(x, int(k)) for k in ks if k != own)
        s_vals.append((b - a) / max(a, b))
    assert abs(float(np.mean(s_vals)) - mllib_sil) < 1e-6, \
        (float(np.mean(s_vals)), mllib_sil)


def _cos_assign_reference(V, cids, C, spill):
    """NumPy reference of IVF list assignment: cosine rounded to 6
    (0 for a zero vector), ranked by (score desc, cluster id asc)."""
    import numpy as np

    order = np.argsort(cids, kind="stable")
    cids, C = np.asarray(cids)[order], np.asarray(C, dtype=np.float64)[order]
    V = np.asarray(V, dtype=np.float64)
    vn, cn = np.linalg.norm(V, axis=1), np.linalg.norm(C, axis=1)
    out = {}
    for i, v in enumerate(V):
        s = [0.0 if vn[i] <= 1e-12 or cn[j] <= 1e-12
             else round(float(v @ C[j] / (vn[i] * cn[j])), 6)
             for j in range(len(C))]
        ranked = sorted(range(len(C)), key=lambda j: (-s[j], cids[j]))
        out[i] = {int(cids[j]) for j in ranked[:spill]}
    return out


@pytest.mark.parametrize("vec_type", ["array<float>", "array<double>"])
@pytest.mark.parametrize("spill", [1, 2])
def test_assign_clusters_matches_numpy_reference(spark, vec_type, spill):
    import numpy as np

    from python_vector_db___ai_spark.operators.ivf import assign_clusters

    rng = np.random.default_rng(11)
    V = rng.standard_normal((60, 8))
    if vec_type == "array<float>":
        V = V.astype(np.float32)
    V[0] = 0.0                               # zero vector -> all scores 0
    V[1] = 0.0
    V[1][:2] = [1.0, 1.0]                    # exact tie of ids 3 and 5
    cids = [5, 3, 9, 1]                      # deliberately unsorted
    C = rng.standard_normal((4, 8))
    C[0] = 0.0
    C[0][1] = 2.0                            # id 5 -> e1
    C[1] = 0.0
    C[1][0] = 1.0                            # id 3 -> e0
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(V)],
        f"vec_id long, embedding {vec_type}").repartition(3)
    cents = spark.createDataFrame(
        [(c, [float(x) for x in row]) for c, row in zip(cids, C)],
        "cluster_id int, centroid array<double>")
    out = assign_clusters(corpus, cents, spill=spill).collect()

    assert len(out) == spill * len(V)
    got: dict = {}
    for r in out:
        got.setdefault(r.vec_id, set()).add(r.cluster_id)
        assert r.embedding == [float(x) for x in V[r.vec_id]]
    assert got == _cos_assign_reference(V, cids, C, spill)
    assert got[0] == ({1} if spill == 1 else {1, 3})   # zero vector
    assert 3 in got[1]                                # tie -> lower id


@pytest.mark.parametrize("bad", [None, [1.0, 2.0, 3.0]],
                         ids=["null", "ragged"])
def test_assign_clusters_rejects_null_or_ragged(spark, bad):
    from python_vector_db___ai_spark.operators.ivf import assign_clusters

    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, bad), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>").coalesce(1)
    cents = spark.createDataFrame([(0, [1.0, 0.0]), (1, [0.0, 1.0])],
                                  "cluster_id int, centroid array<double>")
    with pytest.raises(Exception, match="ValueError.*(null|ragged)"):
        assign_clusters(corpus, cents).collect()


def _vectors_frame(spark, n, dim, seed):
    import numpy as np

    X = np.random.default_rng(seed).standard_normal((n, dim))
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(X)],
        "vec_id long, embedding array<float>").repartition(2)


def test_kmeans_centroids_deterministic_and_few_jobs(spark):
    from python_vector_db___ai_spark.operators.ivf import kmeans_centroids

    corpus = _vectors_frame(spark, 600, 8, 1).cache()
    corpus.count()
    sc = spark.sparkContext
    sc.setJobGroup("test-kmeans-centroids-jobs", "kmeans_centroids")
    try:
        cents = kmeans_centroids(corpus, nlist=6, seed=3, max_iter=5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(
        "test-kmeans-centroids-jobs")
    first = sorted(cents.collect())
    second = sorted(kmeans_centroids(corpus, nlist=6, seed=3,
                                     max_iter=5).collect())
    corpus.unpersist()
    assert 1 <= len(jobs) <= 3
    assert [r.cluster_id for r in first] == list(range(6))
    assert all(len(r.centroid) == 8 for r in first)
    assert first == second


def test_kmeans_centroids_pads_when_fewer_rows_than_lists(spark):
    from python_vector_db___ai_spark.operators.ivf import kmeans_centroids

    rows = kmeans_centroids(_vectors_frame(spark, 3, 4, 2), nlist=8,
                            seed=1).collect()
    assert sorted(r.cluster_id for r in rows) == list(range(8))
    assert all(len(r.centroid) == 4 for r in rows)


def test_kmeans_centroids_trains_on_normalized_sample(spark, monkeypatch):
    import numpy as np

    from python_vector_db___ai_spark.operators import ivf

    seen = []
    real = ivf._lloyd

    def spy(X, n_codes, iters, seed):
        seen.append(X.copy())
        return real(X, n_codes, iters, seed)

    monkeypatch.setattr(ivf, "_lloyd", spy)
    nlist = 2
    rows = ivf.kmeans_centroids(_vectors_frame(spark, 2000, 4, 5),
                                nlist=nlist, seed=9).collect()
    assert len(rows) == nlist
    (X,) = seen
    assert 0 < len(X) <= 256 * nlist
    assert np.allclose(np.linalg.norm(X, axis=1), 1.0)

