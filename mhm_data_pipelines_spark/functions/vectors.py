"""Vector expression builders over ``array<float/double>`` embedding
columns: dot product, norms, cosine — all builtin higher-order functions
(JVM-side), used by the similarity-search and embedding-dedup operators.

At 100 TB these expressions run inside codegen with no Python transfer.
The Pandas-UDF exceptions live in operators.similarity: ``knn_graph``
scores each candidate list with one numpy matrix product (BLAS beats
per-row folds there), and the product-quantization operators encode in
Arrow batches.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(_c(a), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _bind_once(scalar: Column, body) -> Column:
    """Evaluate ``scalar`` ONCE per row and hand it to ``body`` as a
    lambda variable: higher-order functions run on the interpreted
    path with no common-subexpression elimination, so a fold expression
    referenced inside another lambda is re-evaluated at EVERY element
    (measured: the old ``normalize`` inlined the norm fold into the
    per-element division — 65 fold evaluations per 64-dim row, ~4x the
    whole assignment stage). A transform over a one-element array binds
    the scalar to a lambda variable instead."""
    return F.transform(F.array(scalar), body)[0]


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; NULL-safe on zero vectors (returns NULL).

    The ``norm(a)·norm(b)`` denominator is bound once per row
    (:func:`_bind_once`) — referencing it from both the zero-guard and
    the division re-evaluated both norm folds."""
    return _bind_once(
        norm(a) * norm(b),
        lambda d: F.when(d > 0, dot(a, b) / d),
    )


def normalize(a: Column | str) -> Column:
    """L2-normalize once at ingest so downstream cosine = dot — halves the
    per-pair cost of the brute-force search and makes LSH hyperplane
    signs scale-invariant.

    The norm is bound once per row (:func:`_bind_once`): the naive
    ``transform(v, x -> x / norm(v))`` inlines the whole norm FOLD into
    the per-element lambda — dim+1 fold evaluations per row on the
    interpreted HOF path."""
    return _bind_once(
        norm(a),
        lambda n: F.when(
            n > 0, F.transform(_c(a), lambda x: x.cast("double") / n)
        ),
    )
