"""Arrow-vectorized kernels for the harmony Spark engine.

Each kernel is a mapInPandas function factory: the tiny model state
(Y, O, E, W, sigma, theta) arrives via a Spark broadcast, the N-sized
data streams through as Arrow batches, and all math runs in NumPy
float32 (mirroring the reference's float32 compute path,
/root/reference/src/types.h:5-9). The N-sized data never visits the
driver (SURVEY.md §3.4).

Key design: **R is never materialized.** The soft assignment is a pure
function of (zn, Y, O_prev, E_prev, sigma, theta) — `recompute_R` — so
the E-step is an aggregation-only pass whose output is one partial row
per partition (O, R·logR, R·dist sums), and the MoE/correction passes
recompute R on the fly from the same broadcast state. Per harmony round
only ONE pass writes N-sized rows (the cold start, which materializes
the normalized corrected embedding zn); everything else reads the
cached zn column. At 100 TB this trades one extra GEMM+softmax per
consumer against rewriting ~90 floats/cell/pass through Arrow — a
large net win, and it also removes the K-float R column from the cache.

Per harmony round:
  1. the row-writing pass (`_round_pass_kernel`): previous correction,
     normalize -> zn, penalty-free re-assignment, cold-start partials;
  2. the kmeans E-step loop (`kmeans_chain`), written once over a
     ``partials(block, state)`` source — a `make_estep_kernel` job
     per call on several partitions, the row-writing pass's in-memory
     batches on one (`make_round_kernel`), and the driver's replay of
     that pass's tagged partial rows;
  3. the MoE combo partials against the loop's final state — inside
     the row-writing pass on one partition, else
     `make_moe_partials_kernel`.

Kernel map to the reference:
  * recompute_R   — M1 distance GEMM 2(1 - Zn Y) fused with P4 softmax
    and the diversity penalty (src/harmony.cpp:141,143-146,318-323).
  * cold start    — correction gather M2 (src/harmony.cpp:615) + P1
    normalization + penalty-free assignment (:214-228) + fused A4/A6
    partials.
  * estep         — batch-EM diversity E-step, aggregation-only.
  * moe partials  — grouped weighted vector sums keyed by the joint
    covariate-level combo (A8/A9: src/harmony.cpp:561-609).
  * correct       — final M2 materialization.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from harmony_spark.core.scalars import SCALAR as F32  # HARMONY_SCALAR_DOUBLE switch

PARTIAL_SCHEMA = "blk int, o array<double>, rlogr array<double>, rdist double"


def _stack(series: pd.Series, dtype=F32) -> np.ndarray:
    return np.stack(series.to_numpy()).astype(dtype, copy=False)


def _normalize_rows(X: np.ndarray) -> np.ndarray:
    return X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)


def _codes_matrix(pdf: pd.DataFrame, code_cols: list[str], offsets: list[int]) -> np.ndarray:
    codes = pdf[code_cols].to_numpy(dtype=np.int64)
    return codes + np.asarray(offsets, dtype=np.int64)[None, :]


def _soft_assign(dist: np.ndarray, sigma: np.ndarray) -> np.ndarray:
    R = np.exp(-dist / sigma[None, :])
    return R / np.maximum(R.sum(axis=1, keepdims=True), 1e-30)


# arithmetic block assignment for the online blocked E-step (C3):
# reproducible in both NumPy and Spark SQL, bounded int64 arithmetic
BLOCK_P = 1_000_003
BLOCK_A = 2_654_435_761
BLOCK_B = 40_503


def block_ids(cell_ids: np.ndarray, iter_idx: int, n_blocks: int) -> np.ndarray:
    return ((cell_ids % BLOCK_P) * BLOCK_A + iter_idx * BLOCK_B) % n_blocks


def _apply_state(zn, gcodes, st):
    dist = 2.0 * (1.0 - zn @ st["Y"])
    R = _soft_assign(dist, st["sigma"])
    if st.get("penalty"):
        pen = ((2.0 * st["E"] + 1.0) / (st["O"] + st["E"] + 1.0)) ** st["theta"][None, :]
        mult = np.zeros_like(R)
        for c in range(gcodes.shape[1]):
            mult += pen[:, gcodes[:, c]].T
        R = R * mult
        R /= np.maximum(R.sum(axis=1, keepdims=True), 1e-30)
    return R, dist


def recompute_R(
    zn: np.ndarray, gcodes: np.ndarray, st: dict, cell_ids: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """(R, dist) from the broadcast state. st: Y (d,K), sigma (K), and —
    when st['penalty'] — theta (B), O, E (K,B) of the assignment's
    defining iteration. A blocked state (st['blocked']) carries one
    sub-state per online block; each cell's R comes from its block's
    state (requires cell_ids)."""
    if st.get("blocked"):
        blocks = block_ids(cell_ids, st["iter"], st["nb"])
        R = np.empty((zn.shape[0], st["states"][0]["Y"].shape[1]), dtype=zn.dtype)
        dist = np.empty_like(R)
        for i, sub in enumerate(st["states"]):
            mask = blocks == i
            if mask.any():
                R[mask], dist[mask] = _apply_state(zn[mask], gcodes[mask], sub)
        return R, dist
    return _apply_state(zn, gcodes, st)


def _correction(z: np.ndarray, R: np.ndarray, gcodes: np.ndarray, W_all: np.ndarray) -> np.ndarray:
    """z - sum_k R_k * sum_cov W_all[k, b_cov], vectorized over the batch.

    W_all: (K, B, d) with zero rows for dropped batches / skipped
    clusters (src/harmony.cpp:611-615 with C5 filtering folded in).
    """
    n, d = z.shape
    corr = np.zeros((n, d), dtype=np.float64)
    for c in range(gcodes.shape[1]):
        codes_c = gcodes[:, c]
        for b in np.unique(codes_c):
            Wb = W_all[:, b, :]  # (K, d)
            if not Wb.any():
                continue
            mask = codes_c == b
            corr[mask] += R[mask].astype(np.float64) @ Wb
    return (z.astype(np.float64) - corr).astype(F32)


class _PartialAcc:
    """Accumulates O / R·logR / R·dist partials across the Arrow batches
    of one partition (the map-side combine of A4/A6), optionally split
    per online block (C3)."""

    def __init__(self, K: int, B: int, n_blocks: int = 1):
        self.nb = n_blocks
        self.O = np.zeros((n_blocks, K, B), dtype=np.float64)
        self.rlogr = np.zeros((n_blocks, K), dtype=np.float64)
        self.rdist = np.zeros(n_blocks, dtype=np.float64)
        self.seen = False

    def add(self, R: np.ndarray, dist: np.ndarray, gcodes: np.ndarray, blocks=None) -> None:
        self.seen = True
        R64 = R.astype(np.float64)
        safe = np.where(R64 > 0, R64 * np.log(np.maximum(R64, 1e-30)), 0.0)
        rd = R64 * dist
        if blocks is None:
            slots = [(0, slice(None))]
        else:
            slots = [(i, blocks == i) for i in range(self.nb)]
        for i, sel in slots:
            Ri = R64[sel]
            if Ri.shape[0] == 0:
                continue
            gi = gcodes[sel]
            # per-level masked sums instead of np.add.at (scatter-add is
            # ~10x slower than vectorized reductions at this shape)
            for c in range(gi.shape[1]):
                codes_c = gi[:, c]
                for b in np.unique(codes_c):
                    self.O[i, :, b] += Ri[codes_c == b].sum(axis=0)
            self.rlogr[i] += safe[sel].sum(axis=0)
            self.rdist[i] += float(rd[sel].sum())

    def partial_frame(self) -> pd.DataFrame:
        rows = [i for i in range(self.nb)]
        return pd.DataFrame(
            {
                "blk": rows,
                "o": [self.O[i].ravel() for i in rows],
                "rlogr": [self.rlogr[i] for i in rows],
                "rdist": [float(self.rdist[i]) for i in rows],
            }
        )


def counts_f32(O: np.ndarray, Pr_b: np.ndarray, B0: int) -> tuple[np.ndarray, np.ndarray]:
    """Float32 (O, E) from float64 O: E = per-cluster mass (summed over
    covariate 0's levels) times the batch proportions (A4/A5)."""
    mass = O[:, :B0].sum(axis=1)
    return O.astype(F32), (mass[:, None] * Pr_b[None, :].astype(np.float64)).astype(F32)


def km_objective(
    O_f32: np.ndarray,
    E_f32: np.ndarray,
    sigma: np.ndarray,
    theta: np.ndarray,
    rlogr: np.ndarray,
    rdist: float,
    N: int,
) -> float:
    """The kmeans objective (A6) from the POST-update float32 O/E and the
    pass's float64 partials; the cross term contracts to
    sigma_k theta_b O_kb log((O+E+1)/(2E+1))."""
    norm_const = 2000.0 / N
    entropy = float((rlogr * sigma).sum())
    log_term = np.log((O_f32 + E_f32 + 1.0) / (2.0 * E_f32 + 1.0))
    cross = float((sigma[:, None] * theta[None, :] * log_term * O_f32).sum())
    return (rdist + entropy + cross) * norm_const


def kmeans_chain(st: dict, O_f32, E_f32, contrib: list, partials: Callable):
    """The kmeans E-step loop of one harmony round (src/harmony.cpp:
    318-323), the ONE implementation every execution strategy runs.

    ``partials(block, state) -> (O, rlogr, rdist)`` returns the float64
    partial sums over the block's cells (block 0 = every cell in batch
    mode) with R recomputed against ``state``.  ``st`` carries Y, sigma,
    theta, mode, nb, round_idx, max_iter, window, eps, N, Pr_b, B0.
    Float32 O/E are carried between iterations; in blocked mode (C3,
    :269-342) ``contrib`` holds each online block's float64 contribution
    (the cold-start partials, updated in place) and each block is
    removed from O/E, reassigned against the decremented penalty and
    added back.  The loop stops on the window test over its own
    objectives (C4; the first check follows window+2 of them, so no
    earlier history is needed).  Returns (O, E, r_state, objectives);
    r_state describes the final assignment."""
    Y, sigma, theta = st["Y"], st["sigma"], st["theta"]
    Pr_b, B0, nb, w = st["Pr_b"], st["B0"], st["nb"], st["window"]
    r_state = {"Y": Y, "sigma": sigma, "penalty": False}  # the cold start's
    obj: list[float] = []
    for itx in range(st["max_iter"]):
        if st["mode"] == "batch":
            r_state = dict(Y=Y, sigma=sigma, theta=theta, O=O_f32, E=E_f32, penalty=True)
            O, rlogr, rdist = partials(0, r_state)
        else:
            O = O_f32.astype(np.float64)
            states = []
            rlogr, rdist = np.zeros(O.shape[0], dtype=np.float64), 0.0
            for i in range(nb):
                O_minus = O - contrib[i]
                Om, Em = counts_f32(O_minus, Pr_b, B0)
                states.append(dict(Y=Y, sigma=sigma, theta=theta, O=Om, E=Em, penalty=True))
                contrib[i], rl, rd = partials(i, states[-1])
                rlogr += rl
                rdist += rd
                O = O_minus + contrib[i]
            r_state = {"blocked": True, "states": states, "iter": st["round_idx"], "nb": nb}
        O_f32, E_f32 = counts_f32(O, Pr_b, B0)
        obj.append(km_objective(O_f32, E_f32, sigma, theta, rlogr, rdist, st["N"]))
        if itx > w:
            obj_old = sum(obj[-2 - i] for i in range(w))
            obj_new = sum(obj[-1 - i] for i in range(w))
            if abs(obj_old - obj_new) / abs(obj_old) < st["eps"]:
                break
    return O_f32, E_f32, r_state, obj


def _moe_accumulate(
    acc: dict, z64: np.ndarray, zn: np.ndarray, gcodes: np.ndarray,
    codes: np.ndarray, st: dict, cell_ids: np.ndarray,
) -> None:
    """One batch of the MoE per-combo partials (A8 Gram entries S and A9
    RHS M), accumulated into ``acc``.  ONE implementation shared by the
    standalone MoE pass and the fused round pass so both follow the
    identical float sequence."""
    R, _ = recompute_R(zn, gcodes, st, cell_ids=cell_ids)
    R = R.astype(np.float64)
    uniq, inverse = np.unique(codes, axis=0, return_inverse=True)
    for u in range(len(uniq)):
        combo_t = tuple(int(x) for x in uniq[u])
        ii = np.flatnonzero(inverse == u)
        S = R[ii].sum(axis=0)  # (K,)
        M = R[ii].T @ z64[ii]  # (K, d)
        if combo_t in acc:
            acc[combo_t][0] += S
            acc[combo_t][1] += M
        else:
            acc[combo_t] = [S, M]


def _combo_frame(acc: dict) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "combo": [np.asarray(c, dtype=np.int64) for c in acc],
            "s": [v[0] for v in acc.values()],
            "m": [v[1].ravel() for v in acc.values()],
        }
    )


# the partial columns of the row-writing pass (NULL on cell rows); "it"
# tags what a partial row carries: ROUND_IT_COLD the cold-start partials
# (one row per online block), ROUND_IT_MOE the MoE combo partials, and
# it >= 0 the in-kernel chain's partials in call order
ROUND_TAG_SCHEMA = (
    "it int, blk int, o array<double>, rlogr array<double>, rdist double, "
    "combo array<long>, s array<double>, m array<double>"
)
ROUND_TAG_COLS = tuple(f.split()[0] for f in ROUND_TAG_SCHEMA.split(", "))
ROUND_IT_MOE = -1
ROUND_IT_COLD = -2


def _tagged(columns, frame: pd.DataFrame) -> pd.DataFrame:
    """``frame``'s partial columns as rows of the pass schema, every
    other column NULL."""
    out = pd.DataFrame({c: [None] * len(frame) for c in columns})
    for c in frame.columns:
        out[c] = frame[c].to_numpy(dtype=object)
    return out


def _round_pass_kernel(
    bc, code_cols: list[str], offsets: list[int], K: int, B: int,
    feature_col: str, fused: bool,
) -> Callable:
    """The round's one row-writing pass, shared by make_cold_start_kernel
    and make_round_kernel: apply the previous round's correction
    (recomputing the previous R from ``prev_state``), L2-normalize,
    penalty-free re-assignment with fused A4/A6 partials (init:
    src/harmony.cpp:131-146; cold start: :214-228).  Emits the
    (cell_id, z_orig, codes, zn) rows, then the ROUND_IT_COLD partial
    rows.  ``fused`` (the partition holds every cell, so every global
    reduction is partition-local) adds the whole kmeans_chain over the
    in-memory batches and the MoE combo partials against its final
    state — one Arrow pass per round instead of 3+ jobs (guide §4)."""

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        st = bc.value
        Y = st["Y"]
        sigma = st["sigma"]
        W_all = st.get("W_all")  # None at round 0
        prev_state = st.get("prev_state")
        nb = st["nb"]  # >1: per-block cold partials for C3
        acc = _PartialAcc(K, B, n_blocks=nb)
        batches: list[tuple] = []
        columns = None
        for pdf in it:
            if len(pdf) == 0:
                continue
            cell_ids = pdf["cell_id"].to_numpy(dtype=np.int64)
            z = _stack(pdf[feature_col])
            gcodes = _codes_matrix(pdf, code_cols, offsets)
            if W_all is not None:
                zn_prev = _stack(pdf["zn"])
                R_prev, _ = recompute_R(zn_prev, gcodes, prev_state, cell_ids=cell_ids)
                z = _correction(z, R_prev, gcodes, W_all)
            zn = _normalize_rows(z)
            dist = 2.0 * (1.0 - zn @ Y)
            R = _soft_assign(dist, sigma)
            blocks = block_ids(cell_ids, st["round_idx"], nb) if nb > 1 else None
            acc.add(R, dist, gcodes, blocks=blocks)
            zn = zn.astype(F32)
            if fused:
                batches.append((zn, gcodes, cell_ids, blocks, pdf))
            out = pdf[["cell_id", feature_col, *code_cols]].copy()
            out["zn"] = list(zn)
            for c in ROUND_TAG_COLS:
                out[c] = None
            columns = out.columns
            yield out
        if not acc.seen:
            return
        yield _tagged(columns, acc.partial_frame().assign(it=ROUND_IT_COLD))
        if not fused:
            return

        chain: list[tuple] = []

        def partials(i: int, state: dict):
            pacc = _PartialAcc(K, B)
            for zn, g, _ids, blocks, _pdf in batches:
                if blocks is not None:
                    m = blocks == i
                    zn, g = zn[m], g[m]
                if len(zn):
                    R, dist = _apply_state(zn, g, state)
                    pacc.add(R, dist, g)
            chain.append((pacc.O[0], pacc.rlogr[0], float(pacc.rdist[0])))
            return chain[-1]

        O_f32, E_f32 = counts_f32(acc.O.sum(axis=0), st["Pr_b"], st["B0"])
        fstate = kmeans_chain(st, O_f32, E_f32, list(acc.O), partials)[2]
        yield _tagged(
            columns,
            pd.DataFrame(
                {
                    "it": list(range(len(chain))),
                    "o": [c[0].ravel() for c in chain],
                    "rlogr": [c[1] for c in chain],
                    "rdist": [c[2] for c in chain],
                }
            ),
        )
        macc: dict[tuple, list] = {}
        for zn, g, ids, _blocks, pdf in batches:
            z64 = _stack(pdf[feature_col], dtype=np.float64)
            codes = pdf[code_cols].to_numpy(dtype=np.int64)
            _moe_accumulate(macc, z64, zn, g, codes, fstate, ids)
        yield _tagged(columns, _combo_frame(macc).assign(it=ROUND_IT_MOE))

    return kernel


def make_cold_start_kernel(
    bc, code_cols: list[str], offsets: list[int], K: int, B: int, feature_col: str = "z_orig"
) -> Callable:
    """The row-writing pass alone (several partitions): the E-steps and
    the MoE partials then run as their own jobs."""
    return _round_pass_kernel(bc, code_cols, offsets, K, B, feature_col, fused=False)


def make_round_kernel(
    bc, code_cols: list[str], offsets: list[int], K: int, B: int, feature_col: str = "z_orig"
) -> Callable:
    """ONE harmony round as ONE Arrow pass (single-partition inputs only):
    the row-writing pass plus the kmeans loop and the MoE partials."""
    return _round_pass_kernel(bc, code_cols, offsets, K, B, feature_col, fused=True)


def make_estep_kernel(bc, code_cols: list[str], offsets: list[int], K: int, B: int) -> Callable:
    """Batch-EM diversity E-step as an aggregation-only pass: recompute
    R with the penalty of the broadcast (O, E) and emit ONLY the
    per-partition partials — no N-sized output at all
    (src/harmony.cpp:318-323 semantics; SURVEY.md §7.5)."""

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        st = bc.value
        acc = _PartialAcc(K, B)
        for pdf in it:
            if len(pdf) == 0:
                continue
            zn = _stack(pdf["zn"])
            gcodes = _codes_matrix(pdf, code_cols, offsets)
            cell_ids = pdf["cell_id"].to_numpy(dtype=np.int64)
            R, dist = recompute_R(zn, gcodes, st, cell_ids=cell_ids)
            acc.add(R, dist, gcodes)
        if acc.seen:
            yield acc.partial_frame()

    return kernel


def make_moe_partials_kernel(
    bc, code_cols: list[str], offsets: list[int], K: int, d: int, feature_col: str = "z_orig"
) -> Callable:
    """Per joint-covariate-combo partials: S (K) = sum_i R_i,
    M (K*d) = sum_i R_i z_orig_i — the A8 Gram entries and A9 RHS in one
    pass, with R recomputed from the broadcast assignment state. Emits
    one row per (partition, combo)."""

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        st = bc.value
        acc: dict[tuple, list] = {}
        for pdf in it:
            if len(pdf) == 0:
                continue
            z = _stack(pdf[feature_col], dtype=np.float64)
            zn = _stack(pdf["zn"])
            gcodes = _codes_matrix(pdf, code_cols, offsets)
            cell_ids = pdf["cell_id"].to_numpy(dtype=np.int64)
            codes = pdf[code_cols].to_numpy(dtype=np.int64)
            _moe_accumulate(acc, z, zn, gcodes, codes, st, cell_ids)
        if acc:
            yield _combo_frame(acc)

    return kernel


def make_assignment_kernel(bc, code_cols: list[str], offsets: list[int]) -> Callable:
    """getR parity (/root/reference/src/harmony.cpp:677-679): emit the
    final soft assignment as (cell_id, r)."""

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        st = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            zn = _stack(pdf["zn"])
            gcodes = _codes_matrix(pdf, code_cols, offsets)
            cell_ids = pdf["cell_id"].to_numpy(dtype=np.int64)
            R, _ = recompute_R(zn, gcodes, st, cell_ids=cell_ids)
            yield pd.DataFrame({"cell_id": pdf["cell_id"], "r": list(R.astype(F32))})

    return kernel


def make_infer_assignment_kernel(bc, code_cols: list[str], offsets: list[int]) -> Callable:
    """Soft cluster assignment for unseen cells (the monitoring path):
    zn = normalize(z_orig), R from the frozen assignment state — the
    first half of make_transform_kernel without the correction. Emits
    (cell_id, codes, r) so downstream drift statistics stay aggregation-
    only over tiny (K,) vectors.

    Covariate levels NEVER seen at fit time arrive as null codes (the
    level map has no entry). The model has no O/E column for them, so
    their R is the pure distance softmax (penalty term dropped — the
    principled limit of "no diversity information for this batch") and
    their code is emitted as -1; the drift monitor keys them to the
    sentinel batch and compares against the marginal mix, so a novel
    population FLAGS instead of crashing the stream."""

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        st = bc.value
        rs = st["r_state"]
        nopen = {k: v for k, v in rs.items() if k != "penalty"}
        for pdf in it:
            if len(pdf) == 0:
                continue
            z = _stack(pdf["z_orig"])
            zn = _normalize_rows(z)
            codes_raw = pdf[code_cols]
            seen = codes_raw.notna().all(axis=1).to_numpy()
            # assign() always flattens a blocked state before broadcast
            R = np.empty((len(pdf), rs["Y"].shape[1]), dtype=F32)
            if seen.any():
                gcodes = (
                    codes_raw.to_numpy(dtype="float64")[seen].astype(np.int64)
                    + np.asarray(offsets, dtype=np.int64)[None, :]
                )
                R[seen], _ = _apply_state(zn[seen], gcodes, rs)
            if (~seen).any():
                R[~seen], _ = _apply_state(zn[~seen], None, nopen)
            out = pdf[["cell_id"]].copy()
            for c in code_cols:
                out[c] = codes_raw[c].fillna(-1).astype("int32")
            out["r"] = list(R.astype(F32))
            yield out

    return kernel


def make_transform_kernel(bc, code_cols: list[str], offsets: list[int]) -> Callable:
    """Model inference for unseen cells: zn = normalize(z), assign
    against the frozen state, subtract the frozen batch effect.

    Unknown covariate LEVELS (null codes) are a hard error: W has no
    coefficients for them, so no correction is defined — raise with a
    clear message instead of letting int-casting nulls kill the worker.
    (Use assign()/drift_monitor to detect such populations, then refit
    with the new level present.)"""

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        st = bc.value
        W_all = st["W_all"]
        rs = st["r_state"]
        for pdf in it:
            if len(pdf) == 0:
                continue
            bad = pdf[code_cols].isna().any(axis=1)
            if bad.any():
                raise ValueError(
                    f"transform(): {int(bad.sum())} cells carry covariate "
                    "levels unseen at fit time (no W coefficients exist "
                    "for them); detect with drift_monitor and refit"
                )
            z = _stack(pdf["z_orig"])
            gcodes = _codes_matrix(pdf, code_cols, offsets)
            zn = _normalize_rows(z)
            R, _ = _apply_state(zn, gcodes, rs)
            zc = _correction(z, R, gcodes, W_all)
            out = pdf[["cell_id", *code_cols]].copy()
            out["z_corr"] = list(zc.astype(F32))
            yield out

    return kernel


def make_correct_kernel(
    bc, code_cols: list[str], offsets: list[int], feature_col: str = "z_orig"
) -> Callable:
    """Final materialization: z_corr = z_orig - correction (M2), with R
    recomputed from the final assignment state."""

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        st = bc.value
        W_all = st["W_all"]
        rs = st["r_state"]
        for pdf in it:
            if len(pdf) == 0:
                continue
            z = _stack(pdf[feature_col])
            zn = _stack(pdf["zn"])
            gcodes = _codes_matrix(pdf, code_cols, offsets)
            cell_ids = pdf["cell_id"].to_numpy(dtype=np.int64)
            R, _ = recompute_R(zn, gcodes, rs, cell_ids=cell_ids)
            zc = _correction(z, R, gcodes, W_all)
            out = pdf[["cell_id", *code_cols]].copy()
            out["z_corr"] = list(zc.astype(F32))
            yield out

    return kernel
