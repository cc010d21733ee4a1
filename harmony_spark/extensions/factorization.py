"""Distributed ALS matrix factorization (alternating least squares),
DataFrame-native.

The classic Spark-scale recommender/completion workload (cf. DisTenC,
ICDE'18, for the tensor generalization). The (user, item, rating)
matrix here is (user_id, day, total event value) from the events log —
completion over it predicts a user's activity level on unseen days.

Scale design — the ratings are hash-partitioned on user ONCE, and one
Arrow kernel runs every iteration over that partitioning:

* The U-step is partition-local: every rating of a user lives in its
  partition, so the per-user k x k ridge solves run in-process as one
  BATCHED numpy.linalg.solve (vectorized LAPACK, no per-row Python)
  against the broadcast item factors (K x k doubles).
* The item step needs every partition: each partition reduces its
  ratings to per-item normal-equation census rows (count, Σr², Σr·u
  and the upper triangle of Σu uᵀ — k^2-sized, never the ratings, never
  a user-factor gather); the driver sums them per item and solves V.
* One partition (at or below FUSE_ROWS ratings) holds the whole
  matrix, so the kernel also solves V in-process and runs every
  iteration in ONE job; above the cap each job runs one iteration
  (DisTenC's driver-coordinated factor update over data partitioned
  once).  The driver replays the same item solve either way.
* Driver state is only the item side's K x k factors (items/days are
  the SMALL dimension by construction — users can be billions, the
  catalog is not), mirroring the harmony core's O(K x B) state rule.

Determinism: init factors are a fixed arithmetic function of the item
id (no RNG), iteration order is fixed, and the only float
nondeterminism is partial-sum ordering (~1e-12 relative); the q137 row
rounds its RMSE census accordingly and the NumPy cross-oracle test
(tests/test_factorization.py) checks allclose, not hashes.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from harmony_spark.io import table_parallel
from harmony_spark.registry import register

RANK = 4
LAMB = 0.1
N_ITER = 3
# rating count at or below which als_fit runs every iteration on one
# partition in one job; above it, about this many ratings per partition
FUSE_ROWS = 2_000_000


def _init_factors(item_ids: list, rank: int = RANK) -> pd.DataFrame:
    """Deterministic, RNG-free init: spread values in [-0.5, 0.5) by a
    fixed arithmetic hash of (item, component)."""
    rows = []
    for it in item_ids:
        vec = [
            (((int(it) * 31 + j) * 2654435761) % 97) / 97.0 - 0.5
            for j in range(rank)
        ]
        rows.append((it, vec))
    return pd.DataFrame(rows, columns=["item", "vec"])


def _vmat(V: pd.DataFrame) -> np.ndarray:
    """Item factors as a (K, k) float64 matrix in V's sorted item order."""
    return np.array([np.asarray(v, dtype=np.float64) for v in V["vec"]])


def _solve_items(iv, lamb: float):
    """The item-step driver arithmetic: from the per-item normal-equation
    census rows (item, cnt, sr2, rv_*, vv_*) solve the new item factors
    and price the iteration's SSE (per item, Σr² − 2·v·rv + vᵀA₀v with
    A₀ the ridge-free Gram, so no separate residual pass).  ONE
    implementation shared by the census kernel's in-process rounds and
    the driver replay, so both follow identical float sequences.
    Returns (vrows, sse, n_total)."""
    vrows, sse, n_total = [], 0.0, 0
    for row in iv:
        A0 = np.zeros((RANK, RANK))
        for a in range(RANK):
            for b in range(a, RANK):
                A0[a, b] = A0[b, a] = row[f"vv_{a}_{b}"]
        rv = np.array([row[f"rv_{i}"] for i in range(RANK)])
        vec = np.linalg.solve(A0 + lamb * np.eye(RANK), rv)
        vrows.append((row["item"], [float(x) for x in vec]))
        sse += row["sr2"] - 2.0 * float(vec @ rv) + float(vec @ A0 @ vec)
        n_total += row["cnt"]
    return vrows, sse, n_total


def _als_ustep_arrays(
    users: np.ndarray, items: np.ndarray, vals: np.ndarray, V_mat: np.ndarray,
    item_ids: np.ndarray, lamb: float,
):
    """Vectorized per-user ridge solves over SORTED (user, item) triples:
    per-row outer products v v^T reduced per user (np.add.reduceat), one
    batched LAPACK solve.  ``V_mat`` rows follow the sorted ``item_ids``.
    Returns (uniq_users, U (n_users, k))."""
    k = V_mat.shape[1]
    vrow = V_mat[np.searchsorted(item_ids, items)]  # (n, k)
    uniq, starts = np.unique(users, return_index=True)
    outer = vrow[:, :, None] * vrow[:, None, :]  # (n, k, k)
    A = np.add.reduceat(outer, starts, axis=0) + lamb * np.eye(k)[None]
    b = np.add.reduceat(vals[:, None] * vrow, starts, axis=0)  # (nu, k)
    U = np.linalg.solve(A, b[:, :, None])[:, :, 0]
    return uniq, U


def _als_item_census(
    items_sorted_rows: np.ndarray, vals: np.ndarray,
    U_mat: np.ndarray, uix_arr: np.ndarray, order_by_item: np.ndarray,
):
    """Per-item normal-equation census rows (cnt, sr2 = Σr², rv = Σr·u,
    upper triangle of Σu uᵀ) from the (already solved) user factors,
    reduced with np.add.reduceat over item-sorted rows.  Returns a list
    of dict rows matching _solve_items' expectations."""
    k = U_mat.shape[1]
    it_s = items_sorted_rows[order_by_item]
    va_s = vals[order_by_item]
    w = U_mat[uix_arr[order_by_item]]  # (n, k)
    uniq, starts = np.unique(it_s, return_index=True)
    cnt = np.diff(np.append(starts, len(it_s)))
    sr2 = np.add.reduceat(va_s * va_s, starts)
    rv = np.add.reduceat(va_s[:, None] * w, starts, axis=0)  # (ni, k)
    outer = w[:, :, None] * w[:, None, :]
    vv = np.add.reduceat(outer, starts, axis=0)  # (ni, k, k)
    rows = []
    for x, item in enumerate(uniq):
        row = {"item": int(item), "cnt": int(cnt[x]), "sr2": float(sr2[x])}
        for i in range(k):
            row[f"rv_{i}"] = float(rv[x, i])
        for a in range(k):
            for b in range(a, k):
                row[f"vv_{a}_{b}"] = float(vv[x, a, b])
        rows.append(row)
    return rows


_SUM_COLS = ["cnt", "sr2"] + [f"rv_{i}" for i in range(RANK)] + [
    f"vv_{a}_{b}" for a in range(RANK) for b in range(a, RANK)
]
_CENSUS_SCHEMA = "it int, item long, " + ", ".join(
    f"{c} {'long' if c == 'cnt' else 'double'}" for c in _SUM_COLS
)


def _sorted_triples(batches: Iterator[pd.DataFrame]):
    """One partition's ratings as (users, items, ratings) arrays sorted by
    (user, item) — a deterministic processing order regardless of shuffle
    layout — or None for an empty partition."""
    parts = [p for p in batches if len(p)]
    if not parts:
        return None
    pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
    pdf = pdf.sort_values(["user", "item"], kind="mergesort", ignore_index=True)
    return (
        pdf["user"].to_numpy(dtype=np.int64),
        pdf["item"].to_numpy(dtype=np.int64),
        pdf["rating"].to_numpy(dtype=np.float64),
    )


def _census_kernel(bc):
    """The ONE ALS iteration kernel: rounds it0 .. it0+iters-1 of (U-step,
    item census) over a user-partitioned slice, emitting it-tagged census
    rows.  The U-step is partition-local (every rating of a user lives in
    its partition); the item step needs every partition's census, so the
    kernel solves V in-process between rounds only when it holds the whole
    matrix (iters > 1 implies one partition)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tri = _sorted_triples(batches)
        if tri is None:
            return
        users, its, vals = tri
        st = bc.value
        V_mat = st["V"]
        uix_arr = np.unique(users, return_inverse=True)[1]
        order_by_item = np.argsort(its, kind="mergesort")
        out_rows: list[dict] = []
        for x in range(st["iters"]):
            _, U_mat = _als_ustep_arrays(
                users, its, vals, V_mat, st["items"], st["lamb"]
            )
            census = _als_item_census(its, vals, U_mat, uix_arr, order_by_item)
            out_rows.extend({"it": st["it0"] + x, **row} for row in census)
            if x + 1 < st["iters"]:
                vrows, _, _ = _solve_items(census, st["lamb"])
                V_mat = np.array([vec for _, vec in vrows])
        yield pd.DataFrame(out_rows)

    return kernel


def _ustep_kernel(bc):
    """Per-partition user factors solved against the broadcast item factors."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tri = _sorted_triples(batches)
        if tri is None:
            return
        st = bc.value
        uniq_u, U_mat = _als_ustep_arrays(*tri, st["V"], st["items"], st["lamb"])
        yield pd.DataFrame(
            {"user": uniq_u, "vec": [[float(x) for x in row] for row in U_mat]}
        )

    return kernel


def als_fit(
    ratings: DataFrame,
    user_col: str = "user",
    item_col: str = "item",
    n_iter: int = N_ITER,
    lamb: float = LAMB,
) -> tuple[DataFrame, pd.DataFrame, list[float], int]:
    """Run ALS; returns (user_factors DF, item_factors pandas, rmse per
    iteration, n_ratings). Item factors stay driver-side (the small
    dimension); user factors never leave the cluster.  ``n_ratings``
    comes from the item histogram that also lists the items, so callers
    need no separate count() job.

    The ratings are hash-partitioned on user once: one partition at or
    below FUSE_ROWS ratings, else max(shuffle partitions,
    ceil(n / FUSE_ROWS)), which holds each partition near the one-
    partition bound — except under hash skew, since one user's ratings
    cannot be split.  Every iteration runs through _census_kernel;
    the partition count only decides how many iterations one job covers
    (all of them on one partition, one otherwise).  The driver sums the
    census rows per (iteration, item) and replays _solve_items for V and
    the RMSE.  The user factors are a LAZY U-step over the same
    partitioning, solved against the item factors from before the last
    item step — callers that never materialize them (q137) pay nothing."""
    spark = ratings.sparkSession
    r0 = ratings.select(
        F.col(user_col).alias("user"),
        F.col(item_col).alias("item"),
        F.col("rating"),
    )
    # item census: the items list AND the total rating count in one job
    hist = r0.groupBy("item").agg(F.count("*").alias("c")).collect()
    items = sorted(int(x["item"]) for x in hist)
    n_ratings = int(sum(x["c"] for x in hist))
    n_parts = 1
    if n_ratings > FUSE_ROWS:
        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
        n_parts = max(n_shuffle, -(-n_ratings // FUSE_ROWS))
    # partitioning on user once makes every U-step partition-local for
    # every iteration and for the final U; localCheckpoint preserves it
    r = r0.repartition(n_parts, "user").localCheckpoint(eager=False)
    per_job = max(n_iter, 1) if n_parts == 1 else 1
    item_ids = np.array(items, dtype=np.int64)
    V = _init_factors(items)
    V_prev = V  # item factors the final U-step solves against
    rmses: list[float] = []
    for it0 in range(0, n_iter, per_job):
        bc = spark.sparkContext.broadcast(
            {"V": _vmat(V), "items": item_ids, "it0": it0, "iters": per_job,
             "lamb": lamb}
        )
        census: dict[tuple[int, int], dict] = {}
        for row in r.mapInPandas(_census_kernel(bc), _CENSUS_SCHEMA).collect():
            key = (row["it"], row["item"])
            if key in census:
                acc = census[key]
                for c in _SUM_COLS:
                    acc[c] += row[c]
            else:
                census[key] = row.asDict()
        for itx in range(it0, it0 + per_job):
            V_prev = V
            vrows, sse, _ = _solve_items(
                [census[key] for key in sorted(census) if key[0] == itx], lamb
            )
            V = pd.DataFrame(sorted(vrows), columns=["item", "vec"])
            rmses.append(float(np.sqrt(sse / n_ratings)))

    bc_u = spark.sparkContext.broadcast(
        {"V": _vmat(V_prev), "items": item_ids, "lamb": lamb}
    )
    U = r.mapInPandas(_ustep_kernel(bc_u), "user long, vec array<double>")
    return U, V, rmses, n_ratings


@register(
    "q137_als_completion",
    oracle=None,  # iterative ALS is not SQL-expressible: rows-only +
    # NumPy cross-oracle (tests/test_factorization.py)
    doc="Distributed ALS matrix completion over the (user, day, total "
    "activity) matrix from the events log — the canonical Spark-scale "
    "recommender workload (DisTenC ICDE'18 generalizes it to "
    "tensors). Ratings are hash-partitioned on user once; one Arrow "
    "kernel per partition solves the user factors in-process with "
    "batched numpy solves and emits k^2-sized per-item normal-"
    "equation census rows, which the driver sums to solve the item "
    "factors (one job per iteration, or one job for every iteration "
    "when a single partition holds the ratings). Item factors (the "
    "small catalog dimension) are the only driver state, user factors "
    "never leave the cluster — the same O(K x B) state discipline as "
    "the harmony core. Output: per-iteration RMSE (monotone "
    "non-increasing) plus matrix shape. Deterministic RNG-free init; "
    "NumPy cross-oracle pins every iteration to ~1e-9.",
)
def q137(spark: SparkSession, sf: str) -> DataFrame:
    ratings = (
        table_parallel(spark, sf, "events")
        .where(F.col("user_id") < 100)
        .groupBy(
            F.col("user_id").alias("user"),
            F.dayofmonth("ts").alias("item"),
        )
        .agg(F.round(F.sum("value"), 6).alias("rating"))
    )
    _, _, rmses, n = als_fit(ratings)
    rows = [(i + 1, round(r, 5), n) for i, r in enumerate(rmses)]
    return spark.createDataFrame(rows, "iteration long, rmse double, n_ratings long")
