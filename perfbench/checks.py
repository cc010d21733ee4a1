"""Output checks and integration-quality scores.

Nothing here is timed: the workloads call these after each timed
operation, and each call counts as one operation of its own.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np


# ------------------------------------------------------------ query results
#
# The canonical row hash of tests/test_oracle_queries.py: every value
# rendered by _canon, each row joined with "|", rows sorted, then hashed.
# Columns are taken in sorted-name order, so Spark and DuckDB results
# hash alike whatever order either engine emits.


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def hash_rows(rows) -> str:
    digests = sorted("|".join(_canon(v) for v in row) for row in rows)
    h = hashlib.sha256()
    for d in digests:
        h.update(d.encode())
        h.update(b"\n")
    return h.hexdigest()


def result_hash(columns: list[str], rows) -> str:
    """Hash of ``rows`` (tuples in ``columns`` order) with columns in
    sorted-name order."""
    order = [columns.index(c) for c in sorted(columns)]
    return hash_rows(tuple(row[i] for i in order) for row in rows)


# ------------------------------------------------------------ embeddings


def rows_ok(ids_in: np.ndarray, ids_out: np.ndarray, z_out: np.ndarray, d: int) -> bool:
    """One finite ``d``-wide row per input cell, with the ids preserved."""
    return (
        len(ids_out) == len(ids_in)
        and np.array_equal(np.sort(ids_out), np.sort(ids_in))
        and z_out.shape == (len(ids_in), d)
        and bool(np.isfinite(z_out).all())
    )


def _centroids(z: np.ndarray, labels: np.ndarray) -> np.ndarray:
    return np.stack([z[labels == g].mean(axis=0) for g in np.unique(labels)])


def _spread(z: np.ndarray, labels: np.ndarray) -> float:
    """RMS distance of the per-label centroids from their mean."""
    c = _centroids(z, labels)
    return float(np.sqrt(((c - c.mean(axis=0)) ** 2).sum(axis=1).mean()))


def batch_residual(before: np.ndarray, after: np.ndarray, cell_type: np.ndarray, batch: np.ndarray) -> float:
    """Mean over planted cell types of (spread of per-batch centroids
    after correction) / (the same spread before).  Types seen in a single
    batch have no spread and are skipped.  1 means no batch effect was
    removed; 0 means every type's batches coincide."""
    ratios = []
    for t in np.unique(cell_type):
        m = cell_type == t
        if len(np.unique(batch[m])) > 1:
            ratios.append(_spread(after[m], batch[m]) / _spread(before[m], batch[m]))
    return float(np.mean(ratios))


def type_separation(before: np.ndarray, after: np.ndarray, cell_type: np.ndarray) -> float:
    """Mean pairwise distance between planted cell-type centroids after
    correction, divided by the same mean before."""

    def mean_pairwise(z):
        c = _centroids(z, cell_type)
        i, j = np.triu_indices(len(c), k=1)
        return float(np.linalg.norm(c[i] - c[j], axis=1).mean())

    return mean_pairwise(after) / mean_pairwise(before)
