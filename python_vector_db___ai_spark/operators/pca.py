"""Distributed PCA / whitening for embedding columns.

The classic pre-ANN compression step (and the whitening transform
behind OPQ / "improving product quantization"): estimate the d×d
covariance of the embedding column, eigendecompose it, project onto
the top components.  The reference has no analog (it consumes
embeddings as-is); this is the embedding-pipeline extension a 100-TB
corpus needs before indexing.

Scale split (the treeAggregate pattern):

* the CORPUS-scale work is one Arrow pass — each partition reduces to
  a single (n, Σx, XᵀX) partial, so the shuffle/collect volume is
  ``executors × O(d²)`` (33 KB/partition at d=64) regardless of row
  count;
* the d×d combine + ``eigh`` run driver-side on the tiny matrix
  (guarded by ``collect_small``), exactly where MLlib's PCA does its
  final step;
* the projection back over the corpus is one broadcast matmul per
  Arrow batch.

Determinism contract: partials are summed in ``spark_partition_id``
order, and the covariance output rounds to 6 decimals — the DuckDB
``covar_samp`` oracle (`plans/q_tokenize.py`) reproduces it exactly.
Eigenvectors are NOT oracle-checkable (no SQL eigensolver; sign and
degenerate-subspace ambiguity besides) — ``pca_variance_report``
instead emits self-validating columns: the distributed sample
variance of each projected component must equal its eigenvalue, and
the component matrix must be orthonormal (checked driver-side, one
flag column).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from python_vector_db___ai_spark.operators._guards import collect_small

_PARTIAL_SCHEMA = T.StructType([
    T.StructField("pid", T.IntegerType(), False),
    T.StructField("n", T.LongType(), False),
    T.StructField("s", T.ArrayType(T.DoubleType()), False),
    T.StructField("q", T.ArrayType(T.DoubleType()), False),
])


def _cov_partials(df: DataFrame, vec_col: str) -> DataFrame:
    """One (partition_id, n, Σx, flattened XᵀX) row per partition."""
    import numpy as np
    import pandas as pd

    tagged = df.select(F.col(vec_col).alias("v"),
                       F.spark_partition_id().alias("pid"))

    def op(it):
        n, s, q, pid = 0, None, None, 0
        for pdf in it:
            if not len(pdf):
                continue
            X = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
            pid = int(pdf["pid"].iloc[0])
            if s is None:
                s = np.zeros(X.shape[1])
                q = np.zeros((X.shape[1], X.shape[1]))
            n += len(X)
            s += X.sum(axis=0)
            q += X.T @ X
        if n:
            yield pd.DataFrame({"pid": [pid], "n": [n],
                                "s": [s.tolist()],
                                "q": [q.ravel().tolist()]})

    return tagged.mapInPandas(op, schema=_PARTIAL_SCHEMA)


def _cov_numpy(df: DataFrame, vec_col: str = "embedding"):
    """Driver-side (n, mean, sample covariance) from the partials.

    The collect is executors × O(d²) — the treeAggregate final step —
    and partials are summed in partition order for bit-stable output.
    """
    import numpy as np

    rows = collect_small(_cov_partials(df, vec_col), "covariance partials",
                         hint="One row per partition expected.")
    rows = sorted(rows.to_pylist(), key=lambda r: r["pid"])
    n = sum(r["n"] for r in rows)
    if n < 2:
        raise ValueError("covariance needs at least 2 rows")
    d = len(rows[0]["s"])
    s = np.zeros(d)
    q = np.zeros((d, d))
    for r in rows:
        s += np.array(r["s"])
        q += np.array(r["q"]).reshape(d, d)
    mean = s / n
    cov = (q - np.outer(s, s) / n) / (n - 1)
    return n, mean, cov


def covariance_matrix(df: DataFrame, vec_col: str = "embedding",
                      round_to: int = 6) -> DataFrame:
    """The d×d sample covariance as rows ``(i, j, cov)``, 1-based to
    match SQL array subscripts."""
    spark = df.sparkSession
    _, _, cov = _cov_numpy(df, vec_col)
    d = cov.shape[0]
    rows = [(i + 1, j + 1, round(float(cov[i, j]), round_to))
            for i in range(d) for j in range(d)]
    return spark.createDataFrame(rows, T.StructType([
        T.StructField("i", T.LongType(), False),
        T.StructField("j", T.LongType(), False),
        T.StructField("cov", T.DoubleType(), False),
    ]))


def _fit_from_cov(cov, k: int):
    """Top-``k`` (components, eigenvalues) of a covariance matrix with
    a deterministic sign convention (largest-|coord| positive)."""
    import numpy as np

    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:k]
    comps = v[:, order].T.copy()
    for r in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[r])))
        if comps[r, j] < 0:
            comps[r] = -comps[r]
    return comps, w[order]


def pca_fit(df: DataFrame, k: int = 8, vec_col: str = "embedding"):
    """Top-``k`` principal components of the embedding column.

    Returns ``(mean, components, eigenvalues)`` — components shaped
    ``(k, d)``, eigenvalues descending.  ``numpy.linalg.eigh`` on the
    symmetric d×d covariance is deterministic for a fixed matrix.
    """
    _, mean, cov = _cov_numpy(df, vec_col)
    comps, eig = _fit_from_cov(cov, k)
    return mean, comps, eig


def pca_project(df: DataFrame, mean, components,
                vec_col: str = "embedding",
                id_col: str = "vec_id") -> DataFrame:
    """Project the corpus onto the components: one broadcast matmul
    per Arrow batch, output ``(id_col, proj array<double>)``."""
    import numpy as np
    import pandas as pd

    mean = np.asarray(mean, dtype=np.float64)
    comps = np.asarray(components, dtype=np.float64)
    schema = T.StructType([
        T.StructField(id_col, T.LongType(), False),
        T.StructField("proj", T.ArrayType(T.DoubleType()), False),
    ])

    def op(it):
        for pdf in it:
            if not len(pdf):
                continue
            X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            P = (X - mean) @ comps.T
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(),
                                "proj": list(map(list, P))})

    return df.select(id_col, vec_col).mapInPandas(op, schema=schema)


def pca_variance_report(df: DataFrame, k: int = 8,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id",
                        tol: float = 1e-6,
                        cov_stats=None) -> DataFrame:
    """Per-component PCA report with self-validating columns.

    One row per component: ``(component, eigenvalue,
    projected_variance, explained_ratio, var_matches_eigen,
    orthonormal_ok)``.  ``projected_variance`` is computed by a
    SECOND, independent distributed pass (``var_samp`` over the
    projections) — for a correct PCA it must equal the eigenvalue, so
    the flag columns make the query self-checking even without a SQL
    eigensolver oracle.

    ``cov_stats`` optionally supplies an already-computed
    ``(n, mean, cov)`` triple (the :func:`_cov_numpy` output) so
    callers that need both the report and the spectrum don't pay the
    executors × O(d²) covariance pass twice (r10 ADVICE #3).
    """
    import numpy as np

    _, mean, cov = cov_stats if cov_stats is not None \
        else _cov_numpy(df, vec_col)
    comps, eig = _fit_from_cov(cov, k)
    ortho_err = float(np.abs(comps @ comps.T - np.eye(len(comps))).max())
    total_var = float(np.trace(cov))

    proj = pca_project(df, mean, comps, vec_col=vec_col, id_col=id_col)
    var_row = proj.select(
        *[F.var_samp(F.col("proj")[i]).alias(f"v{i}")
          for i in range(len(comps))]).collect()[0]

    spark = df.sparkSession
    rows = []
    for i in range(len(comps)):
        pv = float(var_row[f"v{i}"])
        ev = float(eig[i])
        rows.append((
            i + 1, round(ev, 6), round(pv, 6),
            round(ev / total_var, 6),
            bool(abs(pv - ev) <= tol * max(1.0, abs(ev))),
            bool(ortho_err <= tol),
        ))
    return spark.createDataFrame(rows, T.StructType([
        T.StructField("component", T.LongType(), False),
        T.StructField("eigenvalue", T.DoubleType(), False),
        T.StructField("projected_variance", T.DoubleType(), False),
        T.StructField("explained_ratio", T.DoubleType(), False),
        T.StructField("var_matches_eigen", T.BooleanType(), False),
        T.StructField("orthonormal_ok", T.BooleanType(), False),
    ]))


def pca_spectrum_invariants(df: DataFrame, vec_col: str = "embedding",
                            id_col: str = "vec_id",
                            report_k: int = 8,
                            round_to: int = 6,
                            tol: float = 1e-6) -> DataFrame:
    """Hash-checkable eigensolver invariants (r9 VERDICT directive
    #6a): the spectrum's first three power sums, computed HERE from
    the LAPACK eigenvalues and reproduced by the DuckDB oracle
    RELATIONALLY from the raw data (``plans/q_vector.py:
    embedding_pca_variance``) —

    * ``trace``         = Σλ_i  == Σ_i var_samp(x_i)
    * ``frobenius_sq``  = Σλ_i² == Σ_ij covar_samp(x_i, x_j)²
    * ``trace_c3``      = Σλ_i³ == Σ_ijk c_ij · c_jk · c_ki

    Equality of all three power sums at 6 decimals is a differential
    check that the driver-side eigendecomposition is consistent with
    the distributed covariance DuckDB recomputes independently —
    eigenVECTORS stay un-oracle-able (sign/degeneracy ambiguity, no
    SQL eigensolver), so per-component detail remains in
    :func:`pca_variance_report`, whose self-validating flags this
    function HARD-ASSERTS before emitting anything (a violated
    invariant raises loudly rather than surfacing as an opaque hash
    mismatch).

    Returns ``(metric string, value double)`` — also carrying
    ``n_vectors`` and ``dim`` so the hash pins the corpus the
    invariants were computed over.
    """
    import numpy as np

    # ONE distributed covariance pass feeds both the hard-asserted
    # per-component report and the power sums below (r10 ADVICE #3 —
    # previously the executors × O(d²) collect + eigh ran twice).
    stats = _cov_numpy(df, vec_col)
    rep = pca_variance_report(df, k=report_k, vec_col=vec_col,
                              id_col=id_col, tol=tol,
                              cov_stats=stats).collect()
    bad = [r for r in rep if not (r.var_matches_eigen and r.orthonormal_ok)]
    if bad:
        raise AssertionError(
            f"pca_spectrum_invariants: per-component self-check failed "
            f"for components {[r.component for r in bad]} — eigenvalue "
            "vs projected var_samp or orthonormality violated.")

    n, _, cov = stats
    lam = np.linalg.eigvalsh(cov)
    rows = [
        ("dim", float(cov.shape[0])),
        ("frobenius_sq", round(float(np.sum(lam ** 2)), round_to)),
        ("n_vectors", float(n)),
        ("trace", round(float(np.sum(lam)), round_to)),
        ("trace_c3", round(float(np.sum(lam ** 3)), round_to)),
    ]
    return df.sparkSession.createDataFrame(rows, T.StructType([
        T.StructField("metric", T.StringType(), False),
        T.StructField("value", T.DoubleType(), False),
    ]))
