"""The one dimension-ordered float64 fold for every Arrow kernel.

Each distance the similarity, k-means and semdedup kernels compute must
be bit-equal to the JVM `_fold` (similarity.py) and to DuckDB's
`list_reduce`: start at 0.0, add one float64 term per dimension in array
order. Every loop here is vectorized across rows (and across the second
operand's rows for the block forms) but sequential across dimensions, so
each output element sees exactly that IEEE op sequence. `grid` is the
one rounding rule the oracles share, floor(v*scale + 0.5)/scale.

Kernels run in Python workers of a session that may not have this
package on its path. The module registers itself for pickling by value,
so a mapInPandas closure that calls these helpers ships them with it.
Keep numpy the only import the helpers use: whatever they reference is
pickled along with them.
"""

from __future__ import annotations

import sys

import numpy as np
from pyspark import cloudpickle


def dots(A, B):
    """Row-wise dot products, shape (N,): out[r] = fold_i A[r, i]*B[r, i].
    Squared norms are dots(X, X)."""
    acc = np.zeros(A.shape[0], dtype=np.float64)
    for i in range(A.shape[1]):
        acc = acc + A[:, i] * B[:, i]
    return acc


def dot_block(X, Y):
    """All-pairs dot products, shape (N, M): out[r, j] = fold_i X[r, i]*Y[j, i]."""
    acc = np.zeros((X.shape[0], Y.shape[0]), dtype=np.float64)
    for i in range(X.shape[1]):
        acc = acc + X[:, i][:, None] * Y[:, i][None, :]
    return acc


def sqdist_block(X, C):
    """All-pairs squared distances, shape (N, K):
    out[r, j] = fold_i (X[r, i] - C[j, i])**2, the square as d*d."""
    acc = np.zeros((X.shape[0], C.shape[0]), dtype=np.float64)
    for i in range(X.shape[1]):
        diff = X[:, i][:, None] - C[:, i][None, :]
        acc = acc + diff * diff
    return acc


def grid(v, scale=1e9):
    """Round half up onto the 1/scale grid: floor(v*scale + 0.5)/scale."""
    return np.floor(v * scale + 0.5) / scale


def cosine_grid(dot, norm_a, norm_b):
    """Gridded cosine from a dot product and the two (already square-rooted)
    norms; the arguments broadcast."""
    return grid(dot / (norm_a * norm_b))


cloudpickle.register_pickle_by_value(sys.modules[__name__])
