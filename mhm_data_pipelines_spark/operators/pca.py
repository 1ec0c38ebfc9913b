"""Distributed PCA over an embedding column — moment accumulation on
the cluster, eigendecomposition on the d×d driver-side matrix.

No reference counterpart (north-star LLM-pipeline extension): corpus
curation pipelines whiten / reduce embeddings before clustering
(SemDeDup), ANN indexing (OPQ-style rotations), and drift dashboards.
The classic distributed shape (e.g. Spark MLlib's RowMatrix PCA,
Halko et al. for the randomized variant) is: one pass accumulates
``n, Σx, ΣxxT`` — mergeable partials, so map-side combine does almost
all the work — and only ``O(d²)`` numbers ever reach the driver, where
the d×d eigensolve is microseconds. d is the embedding width (64 here,
≤4096 in practice), so d² stays driver-trivial while n scales to 100 TB.

Scale shape:
* ``embedding_moments`` emits ONE partial row per Arrow batch
  (``n, s[d], g[d·(d+1)/2]``) from ``mapInPandas`` — the corpus never
  shuffles; only ``n_batches × O(d²)`` doubles do.
* The combine is a posexplode of the packed upper triangle + one hash
  aggregate keyed by flat index — ≤ d·(d+1)/2 groups.
* ``fit_pca`` collects exactly the d²-bounded moment table (documented
  bounded collect), eigensolves with numpy, and returns components.
* ``project`` applies the (p×d literal) component matrix per row with
  a vectorized pandas UDF — no shuffle, no join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "embedding_moments",
    "covariance_long",
    "fit_pca",
    "project",
]


def embedding_moments(
    df: DataFrame, vec_col: str = "embedding", dim: int | None = None
) -> DataFrame:
    """Per-batch moment partials for mean/covariance: one output row
    per Arrow batch with ``(n, s[d], g[d(d+1)/2])`` where ``s = Σx``
    and ``g`` is the packed upper triangle of ``Σ x xᵀ`` (row-major,
    i ≤ j). Partials are exactly mergeable by elementwise sum —
    map-side combine in spirit, done manually because the per-row
    outer product must never be materialized (a d²-wide explode per
    row is the anti-pattern this operator exists to avoid).

    ``dim`` is read from the first batch when omitted; heterogeneous
    widths raise inside the UDF (data bug, not a silent truncation).
    """
    import numpy as np
    import pandas as pd

    def run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            d = x.shape[1]
            if dim is not None and d != dim:
                raise ValueError(f"expected dim={dim}, batch has {d}")
            iu = np.triu_indices(d)
            g = (x.T @ x)[iu]  # packed upper triangle, i<=j row-major
            yield pd.DataFrame(
                {
                    "n": [len(x)],
                    "s": [x.sum(axis=0).tolist()],
                    "g": [g.tolist()],
                }
            )

    return df.select(vec_col).mapInPandas(
        run, schema="n long, s array<double>, g array<double>"
    )


def covariance_long(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    round_to: int | None = None,
) -> DataFrame:
    """Population covariance in long form ``(i, j, cov)`` for the
    upper triangle (i ≤ j, 0-based): combines the batch partials with
    one posexplode + hash aggregate (≤ d(d+1)/2 groups), then
    ``cov = Σxy/n − (Σx/n)(Σy/n)``. Fully engine-portable arithmetic —
    an external SQL engine reproduces it from the raw vectors, which
    is exactly how the oracle checks it.

    The partials frame is lazily ``localCheckpoint``\\ ed: the g-sum,
    s-sum and n subtrees all consume it, and without materialization
    Spark re-runs the corpus scan + moment pass once PER subtree — 3
    scans of the corpus for ~n_batches tiny rows.
    """
    parts = embedding_moments(df, vec_col, dim).localCheckpoint(eager=False)
    # Pack (n, s_i, s_j, g_ij) per flat index, explode, one hash agg.
    iu_i, iu_j = _triu(dim)
    g = parts.select(
        F.col("n"),
        F.posexplode("g").alias("idx", "gxy"),
    )
    sums = g.groupBy("idx").agg(F.sum("gxy").alias("sxy"))
    s = parts.select(F.posexplode("s").alias("i", "si")).groupBy("i").agg(
        F.sum("si").alias("s")
    )
    n = parts.agg(F.sum("n").alias("n"))
    idx_map = s.sparkSession.createDataFrame(
        [(k, int(iu_i[k]), int(iu_j[k])) for k in range(len(iu_i))],
        "idx int, i int, j int",
    )
    out = (
        sums.join(F.broadcast(idx_map), "idx")
        .join(F.broadcast(s.selectExpr("i", "s as s_i")), "i")
        .join(F.broadcast(s.selectExpr("i as j", "s as s_j")), "j")
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            "j",
            (
                F.col("sxy") / F.col("n")
                - (F.col("s_i") / F.col("n")) * (F.col("s_j") / F.col("n"))
            ).alias("cov"),
        )
    )
    if round_to is not None:
        # + 0.0 canonicalizes IEEE negative zero (round can yield -0.0,
        # which hash-compares unequal to an engine emitting +0.0).
        out = out.withColumn("cov", F.round("cov", round_to) + F.lit(0.0))
    return out


def _triu(d: int):
    import numpy as np

    return np.triu_indices(d)


def fit_pca(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    n_components: int = 8,
):
    """Fit PCA: distributed moment pass, then a driver-side eigensolve
    of the d×d covariance (the ONLY collect — d(d+1)/2 + d + 1 numbers,
    bounded by the embedding width, never by the corpus). Returns
    ``(mean, components, explained_variance)`` as numpy arrays with
    components in rows, eigenvalue-descending, sign-normalized so the
    largest-|loading| entry of each component is positive (determinism
    across LAPACK builds).
    """
    import numpy as np

    # Lazy materialization: the mean collect and the triangle collect
    # both consume the partials — without it the corpus scans twice.
    parts = embedding_moments(df, vec_col, dim).localCheckpoint(
        eager=False
    )
    row = parts.groupBy().agg(
        F.sum("n").alias("n"),
        *[
            F.sum(F.element_at("s", i + 1)).alias(f"s{i}")
            for i in range(dim)
        ],
    ).collect()[0]  # bounded: 1 row, d+1 values
    n = row["n"]
    mean = np.array([row[f"s{i}"] for i in range(dim)]) / n
    tri = (
        parts.select(F.posexplode("g").alias("idx", "gxy"))
        .groupBy("idx")
        .agg(F.sum("gxy").alias("sxy"))
        .collect()
    )  # bounded: d(d+1)/2 rows
    iu = np.triu_indices(dim)
    g = np.zeros((dim, dim))
    flat = np.zeros(len(iu[0]))
    for r in tri:
        flat[r["idx"]] = r["sxy"]
    g[iu] = flat
    g = g + g.T - np.diag(np.diag(g))
    cov = g / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:n_components]
    comps = evecs[:, order].T
    signs = np.sign(comps[np.arange(len(order)), np.abs(comps).argmax(axis=1)])
    comps = comps * signs[:, None]
    return mean, comps, evals[order]


def project(
    df: DataFrame,
    mean,
    components,
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Project vectors onto fitted components: ``(x − mean) @ compsᵀ``
    per Arrow batch — the p×d matrix rides in the closure (always
    small), no shuffle, no join; appends ``out_col: array<double>``."""
    import numpy as np
    import pandas as pd

    m = np.asarray(mean, dtype=np.float64)
    c = np.asarray(components, dtype=np.float64)
    cols = df.columns

    def run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            proj = (x - m) @ c.T
            out = pdf.copy()
            out[out_col] = list(proj)
            yield out

    schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
        + [f"{out_col} array<double>"]
    )
    return df.mapInPandas(run, schema=schema)


def fit_whitening(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    eps: float = 1e-6,
):
    """Fit a ZCA whitening transform: ``W = U diag(1/√(λ+eps)) Uᵀ``
    over the corpus covariance — embeddings decorrelate and unit-scale
    before clustering/SemDeDup/OPQ (whitened cosine ≈ Mahalanobis).
    Same scale contract as :func:`fit_pca`: one distributed moment
    pass, the eigensolve sees only the d×d driver-side matrix.

    ``eps`` regularizes near-null directions (λ ≈ 0 would explode
    1/√λ); the whitened covariance's diagonal is λ/(λ+eps) — callers
    verifying "≈ identity" must tolerate that shrinkage on tiny
    eigenvalues. Returns ``(mean, W)`` numpy arrays, W symmetric d×d.
    """
    import numpy as np

    mean, comps, evals = fit_pca(df, vec_col, dim, n_components=dim)
    # comps rows are ALL d eigenvectors (sign-normalized); rebuild the
    # symmetric whitener from them.
    scale = 1.0 / np.sqrt(np.maximum(evals, 0.0) + eps)
    w = comps.T @ np.diag(scale) @ comps
    return mean, w


def whiten(
    df: DataFrame,
    mean,
    w,
    vec_col: str = "embedding",
    out_col: str = "white",
) -> DataFrame:
    """Apply a fitted whitener: ``(x − mean) @ Wᵀ`` per Arrow batch —
    W is symmetric so this is the ZCA transform; same zero-shuffle
    closure-matrix shape as :func:`project`."""
    return project(df, mean, w, vec_col=vec_col, out_col=out_col)
