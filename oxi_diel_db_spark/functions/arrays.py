"""Array/tensor function family for the materials data model
(SURVEY.md §2.8 F2, F3, F6; invariants 1-4 of §1.2).

Everything except the eigen-decomposition stays in Catalyst
higher-order functions (JVM, codegen, nested-pruning-friendly);
eigenvalues are the one genuinely-Python op, isolated in a single
Arrow-vectorized pandas_udf (SURVEY §7 hard part (c)).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F


def array_mean(arr: Column) -> Column:
    """mean(array<double>) — invariant 1 (epsilon_*_avg = mean(eig)).
    Left-fold sum in index order / size."""
    return F.aggregate(arr, F.lit(0.0), lambda a, x: a + x) / F.size(arr)


def mean3(arr: Column) -> Column:
    """mean of a 3-vector with explicit evaluation order ((a+b)+c)/3 —
    bit-identical across engines, used where the oracle compares raw."""
    return (
        F.element_at(arr, 1) + F.element_at(arr, 2) + F.element_at(arr, 3)
    ) / 3.0


def avg_abs_trace3(tensors: Column) -> Column:
    """Invariant 4 (reference README.md:38 semantics, verified with the
    empirical /3): mean over site tensors of |trace(T)/3|."""
    per_site = F.transform(tensors, lambda t0: F.abs(
        (
            F.element_at(F.element_at(t0, 1), 1)
            + F.element_at(F.element_at(t0, 2), 2)
            + F.element_at(F.element_at(t0, 3), 3)
        )
        / 3.0
    ))
    return F.aggregate(per_site, F.lit(0.0), lambda a, x: a + x) / F.size(tensors)


from pyspark.sql import types as T


@F.pandas_udf(T.ArrayType(T.DoubleType()))  # DataType object: importable
def tensor_eigvals(tensors: pd.Series) -> pd.Series:  # without a live session
    """Eigenvalues (ascending) of 3×3 tensors — engine scalar function
    backing invariant 2 (epsilon_*_eig = eigvals(epsilon_*)).

    General (non-symmetric) eigendecomposition: the reference's stored
    tensors deviate from symmetry by ~1e-6 and its eigenvalues match
    numpy.linalg.eigvals EXACTLY (eigvalsh differs by up to 7e-3 on the
    most asymmetric records).

    Arrow-vectorized: one batched numpy.linalg.eigvals call per Arrow
    batch via a stacked (n,3,3) array — not per row, and certainly not
    per site like the reference's python loops (ml_prediction.py:44).
    """
    # Arrow hands nested arrays as object-dtype ndarrays of ndarrays;
    # vstack each 3×3 then stack the batch.
    stacked = np.stack(
        [np.vstack([np.asarray(row, dtype=float) for row in t0]) for t0 in tensors]
    )
    eig = np.sort(np.real(np.linalg.eigvals(stacked)), axis=1)
    return pd.Series(list(eig))
