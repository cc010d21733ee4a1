"""Distributed ALS matrix factorization (alternating least squares),
DataFrame-native.

The classic Spark-scale recommender/completion workload (cf. DisTenC,
ICDE'18, for the tensor generalization). The (user, item, rating)
matrix here is (user_id, day, total event value) from the events log —
completion over it predicts a user's activity level on unseen days.

Scale design — each half-iteration is ONE keyed aggregate plus one
row-local batched solve, nothing else:

* The fixed side's factors (items during the user step; K x k doubles)
  BROADCAST as a plan literal via a join with a tiny DataFrame.
* The normal equations accumulate distributively: joining ratings with
  the broadcast factors gives per-rating r*v (k values) and the upper
  triangle of v v^T (k(k+1)/2 values); a groupBy(user) SUM shuffles
  one k^2-sized row per user — never the ratings, never a factor
  matrix gather.
* The per-user k x k ridge solve is row-local: an Arrow-batched
  mapInPandas calls one BATCHED numpy.linalg.solve over thousands of
  users at a time (vectorized LAPACK, no per-row Python).
* Driver state is only the fixed side's K x k factors (items/days are
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
# rating count at or below which als_fit runs the single-pass fused loop
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


def _solve_side(
    ratings: DataFrame, fixed: pd.DataFrame, key: str, other: str, lamb: float
) -> DataFrame:
    """One ALS half-step: given the ``other`` side's factors (small,
    broadcast), return the ``key`` side's new factors as a DataFrame
    (key, vec ARRAY<DOUBLE>)."""
    spark = ratings.sparkSession
    k = RANK
    fdf = F.broadcast(
        spark.createDataFrame(
            [(int(r["item"]), [float(x) for x in r["vec"]]) for _, r in fixed.iterrows()],
            f"{other} long, fvec array<double>",
        )
    )
    j = ratings.join(fdf, other)
    # per-rating contributions: r*v_i and the upper triangle of v v^T
    rv = [(F.col("rating") * F.col("fvec")[i]).alias(f"rv_{i}") for i in range(k)]
    vv = [
        (F.col("fvec")[a] * F.col("fvec")[b]).alias(f"vv_{a}_{b}")
        for a in range(k)
        for b in range(a, k)
    ]
    agg = j.select(key, *rv, *vv).groupBy(key).agg(
        *[F.sum(f"rv_{i}").alias(f"rv_{i}") for i in range(k)],
        *[
            F.sum(f"vv_{a}_{b}").alias(f"vv_{a}_{b}")
            for a in range(k)
            for b in range(a, k)
        ],
    )

    rv_cols = [f"rv_{i}" for i in range(k)]
    vv_cols = [(a, b) for a in range(k) for b in range(a, k)]

    def solve(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            A = np.zeros((n, k, k))
            for a, b in vv_cols:
                col = pdf[f"vv_{a}_{b}"].to_numpy()
                A[:, a, b] = col
                A[:, b, a] = col
            A += lamb * np.eye(k)[None, :, :]
            rhs = pdf[rv_cols].to_numpy()  # (n, k)
            sol = np.linalg.solve(A, rhs[:, :, None])[:, :, 0]
            yield pd.DataFrame({key: pdf[key], "vec": [list(map(float, row)) for row in sol]})

    return agg.mapInPandas(solve, f"{key} long, vec array<double>")


def _solve_items(iv, lamb: float):
    """The item-step driver arithmetic: from the per-item normal-equation
    census rows (item, cnt, sr2, rv_*, vv_*) solve the new item factors
    and price the iteration's SSE.  ONE implementation shared by the
    distributed path and the fused single-partition kernel so both
    follow identical float sequences.  Returns (vrows, sse, n_total)."""
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
    iix: dict, lamb: float,
):
    """Vectorized per-user ridge solves over SORTED (user, item) triples:
    per-row outer products v v^T reduced per user (np.add.reduceat), one
    batched LAPACK solve.  Returns (uniq_users, U (n_users, k))."""
    k = V_mat.shape[1]
    vrow = V_mat[np.array([iix[i] for i in items])]  # (n, k)
    uniq, starts = np.unique(users, return_index=True)
    outer = vrow[:, :, None] * vrow[:, None, :]  # (n, k, k)
    A = np.add.reduceat(outer, starts, axis=0) + lamb * np.eye(k)[None]
    b = np.add.reduceat(vals[:, None] * vrow, starts, axis=0)  # (nu, k)
    U = np.linalg.solve(A, b[:, :, None])[:, :, 0]
    return uniq, U


def _als_item_census(
    users: np.ndarray, items_sorted_rows: np.ndarray, vals: np.ndarray,
    U_mat: np.ndarray, uix_arr: np.ndarray, order_by_item: np.ndarray,
):
    """Per-item normal-equation census rows from the (already solved)
    user factors — the same aggregates the distributed item step
    shuffles, reduced with np.add.reduceat over item-sorted rows.
    Returns a list of dict rows matching _solve_items' expectations."""
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


def _als_fit_fused(
    r: DataFrame, items: list, n_iter: int, lamb: float
) -> tuple[DataFrame, pd.DataFrame, list[float], int]:
    """The whole ALS loop as ONE Arrow pass (single-partition ratings):
    the kernel runs every (U-step, item-census) in-process and emits the
    per-(iteration, item) census rows; the driver replays the SAME
    _solve_items arithmetic over them, so driver V/rmse and kernel
    V/rmse stay bit-identical.  The returned user-factor DataFrame is a
    LAZY final U-step over the same single partition — callers that
    never materialize it (q137) pay nothing (guide §4: collapse tiny
    per-iteration round-trips; §1.2: don't compute what's thrown away)."""
    spark = r.sparkSession
    k = RANK
    V = _init_factors(items)
    iix = {it: x for x, it in enumerate(items)}
    r1 = r.repartition(1).localCheckpoint(eager=False)
    bc = spark.sparkContext.broadcast(
        {
            "V0": np.array([np.asarray(v, dtype=np.float64) for v in V["vec"]]),
            "items": list(items),
            "n_iter": n_iter,
            "lamb": lamb,
        }
    )
    iv_fields = [f"rv_{i} double" for i in range(k)] + [
        f"vv_{a}_{b} double" for a in range(k) for b in range(a, k)
    ]
    schema = "it int, item long, cnt long, sr2 double, " + ", ".join(iv_fields)

    def chain(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        st = bc.value
        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        # deterministic processing order regardless of shuffle layout
        pdf = pdf.sort_values(["user", "item"], kind="mergesort", ignore_index=True)
        users = pdf["user"].to_numpy(dtype=np.int64)
        its = pdf["item"].to_numpy(dtype=np.int64)
        vals = pdf["rating"].to_numpy(dtype=np.float64)
        V_mat = st["V0"].copy()
        loc_iix = {it: x for x, it in enumerate(st["items"])}
        order_by_item = np.argsort(its, kind="mergesort")
        out_rows: list[dict] = []
        for itx in range(st["n_iter"]):
            uniq_u, U_mat = _als_ustep_arrays(
                users, its, vals, V_mat, loc_iix, st["lamb"]
            )
            upos = {u: x for x, u in enumerate(uniq_u)}
            uix_arr = np.array([upos[u] for u in users])
            census = _als_item_census(
                users, its, vals, U_mat, uix_arr, order_by_item
            )
            for row in census:
                out_rows.append({"it": itx, **row})
            vrows, _, _ = _solve_items(census, st["lamb"])
            vmap = dict(vrows)
            V_mat = np.array(
                [np.asarray(vmap[it], dtype=np.float64) for it in st["items"]]
            )
        yield pd.DataFrame(out_rows)

    rows = r1.mapInPandas(chain, schema).collect()
    by_it: dict[int, list] = {}
    for row in rows:
        by_it.setdefault(row["it"], []).append(row)
    rmses: list[float] = []
    n_total = 0
    V_prev = V  # item factors the final U-step solves against
    for itx in sorted(by_it):
        if itx == n_iter - 1:
            V_prev = V
        vrows, sse, n_total = _solve_items(by_it[itx], lamb)
        V = pd.DataFrame(sorted(vrows), columns=["item", "vec"])
        rmses.append(float(np.sqrt(sse / n_total)))

    # lazy final U-step: same numpy path over the same sorted partition
    bc_u = spark.sparkContext.broadcast(
        {
            "V": np.array(
                [np.asarray(v, dtype=np.float64) for v in V_prev["vec"]]
            ),
            "items": [int(i) for i in V_prev["item"]],
            "lamb": lamb,
        }
    )

    def ustep(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        st = bc_u.value
        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        pdf = pdf.sort_values(["user", "item"], kind="mergesort", ignore_index=True)
        users = pdf["user"].to_numpy(dtype=np.int64)
        its = pdf["item"].to_numpy(dtype=np.int64)
        vals = pdf["rating"].to_numpy(dtype=np.float64)
        loc_iix = {it: x for x, it in enumerate(st["items"])}
        uniq_u, U_mat = _als_ustep_arrays(
            users, its, vals, np.asarray(st["V"]), loc_iix, st["lamb"]
        )
        yield pd.DataFrame(
            {
                "user": uniq_u,
                "vec": [[float(x) for x in row] for row in U_mat],
            }
        )

    U = r1.mapInPandas(ustep, "user long, vec array<double>")
    return U, V, rmses, n_total


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
    is a free by-product of the item-step census (Σ per-item counts),
    so callers need no separate count() job.

    At or below FUSE_ROWS ratings (2M) the whole loop
    runs as one Arrow pass (_als_fit_fused); above it the distributed
    per-iteration path runs unchanged — at billion-rating scale the
    fused branch never fires."""
    spark = ratings.sparkSession
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))

    r0 = ratings.select(
        F.col(user_col).alias("user"),
        F.col(item_col).alias("item"),
        F.col("rating"),
    )
    # item census: the items list AND the total rating count in one job
    # (replaces the former items-distinct collect; n decides the path)
    hist = r0.groupBy("item").agg(F.count("*").alias("c")).collect()
    items = sorted(int(x["item"]) for x in hist)
    n_ratings = int(sum(x["c"] for x in hist))
    if n_ratings <= FUSE_ROWS:
        return _als_fit_fused(r0, items, n_iter, lamb)

    # hash-partition the ratings on USER once, before the checkpoint:
    # every iteration both aggregates on user (the U-step normal
    # equations) and joins on user (the item step) — establishing the
    # partitioning once removes the per-iteration ratings Exchange from
    # both (guide §2.4); localCheckpoint preserves it.
    r = r0.repartition(n_shuffle, "user").localCheckpoint(eager=False)
    V = _init_factors(items)
    rmses: list[float] = []
    U = None
    for _ in range(n_iter):
        # U has exactly ONE distributed consumer per iteration (the item
        # step below; the RMSE pass is folded into it), so no checkpoint:
        # localCheckpoint — even eager=False — plans the U query through
        # Catalyst immediately (toRdd), and that duplicate planning pass
        # measured ~0.7-1.2 s/iteration, larger than the execution it
        # saved.  U's lineage is flat (r × broadcast V), so skipping the
        # checkpoint also cannot grow the plan across iterations.
        U = _solve_side(r, V, "user", "item", lamb)
        # item step: same shape with the sides swapped; U is NOT collected —
        # the join keys on user and the aggregate shuffles k^2 rows per item,
        # then the K item rows collect (K = catalog size, driver-bounded).
        # The same collected normal equations also price the iteration's
        # RMSE for free: per item, SSE = Σr² − 2·v·rv + vᵀA₀v (A₀ = the
        # ridge-free Gram), so the former per-iteration RMSE job — a full
        # ratings×U×V join pass — collapses into driver arithmetic over
        # the K already-collected rows (guide §1.2: remove whole passes
        # before tuning what's left).  Float effect: the expansion
        # cancels exactly the same partial sums the direct (r−u·v)² pass
        # sums, ~1e-12 relative — inside the cross-oracle's 1e-7 rtol.
        iv = (
            # shuffled-hash build of the per-user factors streams the
            # user-partitioned ratings sort-free (guide §3.1); U comes
            # out of a user-keyed aggregate, so neither side exchanges
            r.join(U.hint("shuffle_hash"), "user")
            .select(
                "item",
                "rating",
                *[(F.col("rating") * F.col("vec")[i]).alias(f"rv_{i}") for i in range(RANK)],
                *[
                    (F.col("vec")[a] * F.col("vec")[b]).alias(f"vv_{a}_{b}")
                    for a in range(RANK)
                    for b in range(a, RANK)
                ],
            )
            .groupBy("item")
            .agg(
                F.count("*").alias("cnt"),
                F.sum(F.col("rating") * F.col("rating")).alias("sr2"),
                *[F.sum(f"rv_{i}").alias(f"rv_{i}") for i in range(RANK)],
                *[
                    F.sum(f"vv_{a}_{b}").alias(f"vv_{a}_{b}")
                    for a in range(RANK)
                    for b in range(a, RANK)
                ],
            )
            .collect()
        )
        vrows, sse, n_total = _solve_items(iv, lamb)
        V = pd.DataFrame(sorted(vrows), columns=["item", "vec"])
        rmses.append(float(np.sqrt(sse / n_total)))
    return U, V, rmses, n_total


@register(
    "q137_als_completion",
    oracle=None,  # iterative ALS is not SQL-expressible: rows-only +
    # NumPy cross-oracle (tests/test_factorization.py)
    doc="Distributed ALS matrix completion over the (user, day, total "
    "activity) matrix from the events log — the canonical Spark-scale "
    "recommender workload (DisTenC ICDE'18 generalizes it to "
    "tensors). Each half-iteration is one keyed aggregate of k^2-"
    "sized normal-equation rows plus an Arrow-batched vectorized "
    "numpy solve; item factors (the small catalog dimension) are the "
    "only driver state, user factors never leave the cluster — the "
    "same O(K x B) state discipline as the harmony core. Output: "
    "per-iteration RMSE (monotone non-increasing) plus matrix shape. "
    "Deterministic RNG-free init; NumPy cross-oracle pins every "
    "iteration to ~1e-9.",
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
