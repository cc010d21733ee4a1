"""NumPy cross-oracle for the per-partition census-kernel ALS
(extensions/factorization.py), on one partition and on many: an
independent dense replica of the identical math (same RNG-free init,
same ridge normal equations, same iteration order) must agree with the
Spark run to float tolerance at every iteration. The q137 registry row
is rows-only; this is its oracle."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from harmony_spark.extensions import factorization
from harmony_spark.extensions.factorization import (
    LAMB,
    N_ITER,
    RANK,
    _init_factors,
    als_fit,
)
from harmony_spark.io import table


def _numpy_als(triples, n_iter=N_ITER, lamb=LAMB):
    """Dense reference ALS over [(user, item, rating)]."""
    users = sorted({u for u, _, _ in triples})
    items = sorted({i for _, i, _ in triples})
    uix = {u: x for x, u in enumerate(users)}
    iix = {i: x for x, i in enumerate(items)}
    V = np.array([v for _, v in _init_factors(items).itertuples(index=False)])
    by_user = {u: [] for u in users}
    by_item = {i: [] for i in items}
    for u, i, r in triples:
        by_user[u].append((i, r))
        by_item[i].append((u, r))
    rmses, U = [], np.zeros((len(users), RANK))
    for _ in range(n_iter):
        for u in users:
            A = lamb * np.eye(RANK)
            b = np.zeros(RANK)
            for i, r in by_user[u]:
                v = V[iix[i]]
                A += np.outer(v, v)
                b += r * v
            U[uix[u]] = np.linalg.solve(A, b)
        for i in items:
            A = lamb * np.eye(RANK)
            b = np.zeros(RANK)
            for u, r in by_item[i]:
                w = U[uix[u]]
                A += np.outer(w, w)
                b += r * w
            V[iix[i]] = np.linalg.solve(A, b)
        se = [
            (r - U[uix[u]] @ V[iix[i]]) ** 2 for u, i, r in triples
        ]
        rmses.append(float(np.sqrt(np.mean(se))))
    return U, V, rmses, uix


@pytest.fixture(scope="module")
def ratings(spark, sf_dir):
    return (
        table(spark, sf_dir, "events")
        .where(F.col("user_id") < 100)
        .groupBy(F.col("user_id").alias("user"), F.dayofmonth("ts").alias("item"))
        .agg(F.round(F.sum("value"), 6).alias("rating"))
        .cache()
    )


def test_als_matches_numpy_reference(spark, ratings):
    triples = [(r["user"], r["item"], r["rating"]) for r in ratings.collect()]
    U_ref, V_ref, rmse_ref, uix = _numpy_als(triples)

    U_df, V_pd, rmses, n_got = als_fit(ratings)
    # the fold of the RMSE pass into the item-step census must price n
    # exactly (every rating joins exactly one item row)
    assert n_got == len(triples)
    assert np.allclose(rmses, rmse_ref, rtol=1e-7, atol=1e-9)
    V_got = np.array([v for _, v in V_pd.itertuples(index=False)])
    assert np.allclose(V_got, V_ref, rtol=1e-6, atol=1e-8)
    got_u = {r["user"]: r["vec"] for r in U_df.collect()}
    for u, x in uix.items():
        assert np.allclose(got_u[u], U_ref[x], rtol=1e-6, atol=1e-8)


def test_als_rmse_decreases(spark, ratings):
    _, _, rmses, _ = als_fit(ratings)
    assert all(b <= a + 1e-9 for a, b in zip(rmses, rmses[1:]))
    assert rmses[-1] < rmses[0]


def test_als_fused_matches_distributed(spark, ratings, monkeypatch):
    """One partition (cap = n: every iteration in one job) must agree
    with many partitions (cap = n - 1: one job per iteration) to float
    tolerance — the only difference between them is partial-sum order
    (~1e-12)."""
    n = ratings.count()
    monkeypatch.setattr(factorization, "FUSE_ROWS", n)
    U_f, V_f, rmse_f, n_f = als_fit(ratings)
    assert U_f.rdd.getNumPartitions() == 1
    monkeypatch.setattr(factorization, "FUSE_ROWS", n - 1)
    U_d, V_d, rmse_d, n_d = als_fit(ratings)
    assert U_d.rdd.getNumPartitions() > 1
    assert n_f == n_d == n
    assert np.allclose(rmse_f, rmse_d, rtol=1e-9, atol=1e-12)
    Vf = np.array([v for _, v in V_f.itertuples(index=False)])
    Vd = np.array([v for _, v in V_d.itertuples(index=False)])
    assert np.allclose(Vf, Vd, rtol=1e-8, atol=1e-10)
    uf = {r["user"]: r["vec"] for r in U_f.collect()}
    ud = {r["user"]: r["vec"] for r in U_d.collect()}
    assert set(uf) == set(ud)
    for u in uf:
        assert np.allclose(uf[u], ud[u], rtol=1e-8, atol=1e-10)


@pytest.mark.parametrize("cap", [4, 3], ids=["one_partition", "many_partitions"])
def test_als_zero_iterations(spark, monkeypatch, cap):
    """n_iter=0 on either side of the cap: the histogram's rating count,
    no RMSEs, the init item factors and users solved against them."""
    triples = [(1, 3, 2.0), (1, 5, 1.0), (2, 3, 4.0), (7, 5, 0.5)]
    frame = spark.createDataFrame(triples, "user long, item long, rating double")
    monkeypatch.setattr(factorization, "FUSE_ROWS", cap)
    U_df, V_pd, rmses, n_got = als_fit(frame, n_iter=0)
    assert (U_df.rdd.getNumPartitions() > 1) == (cap < len(triples))
    assert n_got == len(triples)
    assert rmses == []
    V0 = _init_factors([3, 5])
    assert V_pd["item"].tolist() == [3, 5]
    assert np.array_equal(np.array(V_pd["vec"].tolist()), np.array(V0["vec"].tolist()))
    V = dict(zip(V0["item"], np.array(V0["vec"].tolist())))
    got_u = {r["user"]: r["vec"] for r in U_df.collect()}
    assert set(got_u) == {1, 2, 7}
    for u in got_u:
        A, b = LAMB * np.eye(RANK), np.zeros(RANK)
        for uu, i, r in triples:
            if uu == u:
                A += np.outer(V[i], V[i])
                b += r * V[i]
        assert np.allclose(got_u[u], np.linalg.solve(A, b), rtol=1e-9, atol=1e-12)


def test_q137_registry_row(spark, sf_dir):
    from harmony_spark.registry import load_all

    rows = load_all()["q137_als_completion"].fn(spark, sf_dir).collect()
    assert [r["iteration"] for r in rows] == [1, 2, 3]
    assert all(r["rmse"] > 0 for r in rows)
