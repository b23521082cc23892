"""Vector math over ``array<float>`` embedding columns, in two tiers.

The column tier is built from higher-order functions (``transform`` /
``zip_with`` / ``aggregate``) and runs JVM-side with no Python worker.  Dot
products fold left-to-right, which both matches DuckDB's sequential
semantics for the oracle and is deterministic across partitionings.

The ``np_*`` twins are the same folds over numpy matrices, for the kernels
that cogroup Arrow batches into a Python worker.  Each one accumulates
dimension by dimension, left to right, from a zero start, so every output
element runs the IEEE op sequence of its column-tier sibling and is
bit-identical to it.  A blocked ``A @ B.T`` is about 1 ulp off and must not
stand in for them.  numpy is imported inside the functions, so this module
stays importable without it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_double_array(col: Column | str) -> Column:
    """Cast array<float> -> array<double> so arithmetic runs in fp64."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def _fold_sum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two array<double> columns."""
    return _fold_sum(F.zip_with(a, b, lambda x, y: x * y))


def l2_norm(a: Column) -> Column:
    return F.sqrt(_fold_sum(F.transform(a, lambda x: x * x)))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns (fp64, deterministic).

    Zero-norm inputs (dead encoder rows) yield NULL via ``try_divide``
    instead of an ANSI divide-by-zero ERROR (Spark 4 default) — a plain
    ``/`` makes one bad corpus row kill the whole job.  Consumers treat
    NULL as "not a neighbor" (filter before ranking); the DuckDB mirrors
    exclude the same rows by a norm-product > 0 predicate, because
    DuckDB's list_cosine_similarity returns -1.0 (not NULL/NaN) on a
    zero vector."""
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def sq_l2(a: Column, b: Column) -> Column:
    """Sequential-fold squared-L2 distance of two array<double> columns.

    Folds dimension-by-dimension left-to-right, so the sum is
    bit-identical to DuckDB's ``list_reduce`` over the same transform
    (``(0.0 + x1)`` is IEEE-exact for the non-negative squared terms)."""
    return _fold_sum(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)))


def np_dot(A, B):
    """(n, m) matrix of ``dot(A[i], B[j])``: per dimension d ascending,
    ``acc += A[i, d] * B[j, d]`` from 0.0."""
    import numpy as np

    acc = np.zeros((A.shape[0], B.shape[0]))
    for d in range(A.shape[1]):
        acc += np.multiply.outer(A[:, d], B[:, d])
    return acc


def np_sq_norm(A):
    """Row vector of ``dot(A[i], A[i])`` — ``l2_norm`` before its sqrt."""
    import numpy as np

    acc = np.zeros(A.shape[0])
    for d in range(A.shape[1]):
        acc += A[:, d] * A[:, d]
    return acc


def np_cosine(A, B):
    """(n, m) matrix of ``cosine_similarity(A[i], B[j])`` with the same
    grouping, ``dot / (l2(a) * l2(b))``; a zero-norm row gives NaN
    (0/0) where the column tier gives NULL."""
    import numpy as np

    norms = np.sqrt(np_sq_norm(A))[:, None] * np.sqrt(np_sq_norm(B))
    return np_dot(A, B) / norms


def np_sq_l2(A, B):
    """(n, m) matrix of ``sq_l2(A[i], B[j])``: per dimension d ascending,
    ``acc += (A[i, d] - B[j, d])**2`` from 0.0."""
    import numpy as np

    acc = np.zeros((A.shape[0], B.shape[0]))
    for d in range(A.shape[1]):
        diff = np.subtract.outer(A[:, d], B[:, d])
        acc += diff * diff
    return acc
