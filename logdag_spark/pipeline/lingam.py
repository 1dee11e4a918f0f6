"""G5 — DirectLiNGAM causal-direction estimation per analysis unit.

The reference delegates to the external ``lingam`` package
(/root/reference/logdag/lingam_input.py:25-95, selected by
``cause_algorithm=lingam``; MixedLiNGAM at mixedlingam_input.py:17-79 has
no public source and is out of scope).  This is a fresh implementation of
DirectLiNGAM (Shimizu et al., JMLR 2011): repeatedly identify the most
exogenous variable via the pairwise entropy-based mutual-information
difference (Hyvarinen's log-cosh / Gaussian-moment entropy
approximation), regress it out, recurse; then fit the strictly-triangular
coefficient matrix over the discovered causal order by least squares.

Spark shape: same per-unit grouped-map parallelism as the PC kernel —
units are small dense matrices, the fleet of units is the parallelism.
Edge convention: coefficient B[i, j] != 0 means x_j -> x_i with weight
B[i, j] (the reference stores it as the edge ``weight``,
/root/reference/logdag/showdag.py:17-119).
"""

from __future__ import annotations

import math
from datetime import datetime, timedelta
from itertools import combinations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from logdag_spark.pipeline.pc import EDGE_COLUMNS, _per_unit_edges

_K1, _K2, _GAMMA = 79.047, 7.4129, 0.37457


def _entropy(u: np.ndarray) -> float:
    """Maximum-entropy approximation of differential entropy
    (Hyvarinen 1998), for a standardized vector."""
    return (
        (1 + math.log(2 * math.pi)) / 2
        - _K1 * (np.mean(np.log(np.cosh(u))) - _GAMMA) ** 2
        - _K2 * np.mean(u * np.exp(-(u**2) / 2)) ** 2
    )


def _std(x: np.ndarray) -> np.ndarray:
    s = x.std()
    return (x - x.mean()) / s if s > 0 else x - x.mean()


def _residual(xi: np.ndarray, xj: np.ndarray) -> np.ndarray:
    """Residual of xi regressed on xj."""
    vj = np.var(xj)
    if vj == 0:
        return xi - xi.mean()
    b = np.cov(xi, xj, bias=True)[0, 1] / vj
    return xi - b * xj


def _diff_mutual_info(xi: np.ndarray, xj: np.ndarray) -> float:
    """J(i->j) - J(j->i): non-negative when x_i is exogenous to x_j.

    diff = (H(x_j) + H(res(x_i | x_j))) - (H(x_i) + H(res(x_j | x_i)))
    on standardized inputs (Shimizu et al. 2011, eq. for the pairwise
    measure with the maximum-entropy approximation).
    """
    si, sj = _std(xi), _std(xj)
    ri_j = _residual(si, sj)  # residual of xi given xj
    rj_i = _residual(sj, si)  # residual of xj given xi
    return (_entropy(sj) + _entropy(_std(ri_j))) - (
        _entropy(si) + _entropy(_std(rj_i))
    )


def causal_order(X: np.ndarray, pk: np.ndarray | None = None) -> list[int]:
    """DirectLiNGAM ordering: repeatedly extract the variable that looks
    most exogenous against every remaining variable.

    ``pk`` is the optional prior-knowledge matrix in the reference
    estimator's convention (lingam_input.py:34-39 passes it as
    ``prior_knowledge=pmatrix``): ``pk[i, j] == 1`` means a known directed
    path x_j -> x_i, ``0`` means known absence, ``-1`` unknown.  It
    constrains the ORDER SEARCH, not just the fitted coefficients: a
    variable with a known still-remaining ancestor (some ``pk[i, j] == 1``
    with j in U) cannot be chosen exogenous, so data noise can never
    invert a declared direction.  If the constraints are contradictory
    (every remaining variable has a remaining known ancestor — a pk
    cycle), the constraint set is unsatisfiable and the data measure
    decides unconstrained for that step.
    """
    n, p = X.shape
    U = list(range(p))
    Xw = X.astype(float).copy()
    order: list[int] = []
    while len(U) > 1:
        if pk is not None:
            cands = [
                i for i in U
                if not any(pk[i, j] == 1 for j in U if j != i)
            ] or U
        else:
            cands = U
        scores = {}
        for i in cands:
            total = 0.0
            for j in U:
                if i == j:
                    continue
                m = _diff_mutual_info(Xw[:, i], Xw[:, j])
                total += min(0.0, m) ** 2
            scores[i] = total
        k = min(sorted(cands), key=lambda i: scores[i])
        order.append(k)
        U.remove(k)
        for j in U:
            Xw[:, j] = _residual(Xw[:, j], Xw[:, k])
    order.extend(U)
    return order


def fit_coefficients(
    X: np.ndarray,
    order: list[int],
    th: float = 0.05,
    pk: np.ndarray | None = None,
) -> np.ndarray:
    """Least-squares fit of the strictly-lower-triangular (in causal
    order) adjacency B; coefficients with |b| < th are pruned
    (the reference's lowest-weight pruning knob, lingam_input.py:60-73).

    ``pk[i, j] == 0`` EXCLUDES x_j from x_i's regression (refit without
    the forbidden parent, not post-hoc zeroing — zeroing one coefficient
    of a joint fit leaves the others biased by the omitted regressor's
    share of the covariance)."""
    p = X.shape[1]
    B = np.zeros((p, p))
    for pos, i in enumerate(order):
        parents = order[:pos]
        if pk is not None:
            parents = [j for j in parents if pk[i, j] != 0]
        if not parents:
            continue
        A = X[:, parents]
        A = np.column_stack([A, np.ones(len(A))])
        coef, *_ = np.linalg.lstsq(A, X[:, i], rcond=None)
        for c, j in zip(coef[:-1], parents):
            if abs(c) >= th:
                B[i, j] = c
    return B


# ------------------------------------------------------------- ICA variant


def fastica_unmixing(
    X: np.ndarray, max_iter: int = 1000, tol: float = 1e-6, seed: int = 0
) -> np.ndarray:
    """FastICA unmixing matrix W (s = W @ x, x centered) via symmetric
    whitening + logcosh deflation (Hyvarinen's fixed-point iteration) —
    numpy only, deterministic via the seeded start vectors.

    This is the public-algorithm core of ICA-LiNGAM
    (/root/reference/logdag/lingam_input.py:28-33 delegates to
    ``lingam.ICALiNGAM(max_iter=...)``, which wraps sklearn's FastICA).
    """
    n, p = X.shape
    Xc = X - X.mean(0)
    cov = Xc.T @ Xc / max(n, 1)
    d, E = np.linalg.eigh(cov)
    d = np.clip(d, 1e-12, None)
    K = E @ np.diag(d**-0.5) @ E.T  # symmetric (zca) whitening
    Z = Xc @ K.T
    rng = np.random.default_rng(seed)
    W = np.zeros((p, p))
    for i in range(p):
        w = rng.normal(size=p)
        w /= np.linalg.norm(w)
        for _ in range(max_iter):
            wx = Z @ w
            g = np.tanh(wx)
            w_new = (Z * g[:, None]).mean(0) - (1 - g**2).mean() * w
            w_new -= W[:i].T @ (W[:i] @ w_new)  # deflation
            nrm = np.linalg.norm(w_new)
            if nrm < 1e-12:
                break
            w_new /= nrm
            done = abs(abs(w_new @ w) - 1) < tol
            w = w_new
            if done:
                break
        W[i] = w
    return W @ K


def _diag_row_assignment(W: np.ndarray) -> list[int]:
    """Row permutation giving W a dominant nonzero diagonal.

    Exact (min sum 1/|W_ii| over all permutations) for p <= 8; beyond
    that, greedy global-max assignment — repeatedly take the largest
    remaining |W[r, c]| and pin row r to column c.  O(p^3) worst case vs
    p! exact and the standard ICA-LiNGAM practice (a pairwise-swap local
    search measured O(p^4) per sweep and did not finish on a 140-variable
    unit)."""
    p = W.shape[0]
    if p <= 8:
        from itertools import permutations

        return list(
            min(
                permutations(range(p)),
                key=lambda perm: sum(
                    1.0 / max(abs(W[perm[i], i]), 1e-12) for i in range(p)
                ),
            )
        )
    A = np.abs(W).copy()
    perm = [-1] * p
    for _ in range(p):
        r, c = np.unravel_index(int(np.argmax(A)), A.shape)
        perm[c] = int(r)
        A[r, :] = -1.0
        A[:, c] = -1.0
    return perm


def _order_from_triangularity(B: np.ndarray) -> list[int]:
    """Variable order making B as strictly-lower-triangular as possible:
    zero the smallest |B| entries until a zero-row peel order exists
    (Shimizu et al. JMLR 2006, step 4 of ICA-LiNGAM).

    Peelability is MONOTONE in the number of zeroed entries (zeroing an
    edge can only make the remaining digraph easier to topologically
    peel), so instead of re-peeling after every single zeroing — O(p²)
    peels × O(p³) each on a dense noisy B, the shape that hung a wide
    unit — the threshold count is found by binary search over
    [p(p+1)/2, p²]: O(log p) peels, each a vectorized O(p²)."""
    p = B.shape[0]
    mags = np.abs(B).copy()
    np.fill_diagonal(mags, 0.0)
    flat = np.argsort(mags, axis=None)

    def peel_at(k: int) -> list[int] | None:
        Bz = mags.copy()
        Bz[np.unravel_index(flat[:k], Bz.shape)] = 0.0
        return _peel_zero_rows(Bz)

    lo, hi = p * (p + 1) // 2, p * p
    best = peel_at(lo)
    if best is not None:
        return best
    # invariant: peel_at(hi) always succeeds (fully zeroed = empty graph)
    while hi - lo > 1:
        mid = (lo + hi) // 2
        got = peel_at(mid)
        if got is None:
            lo = mid
        else:
            hi, best = mid, got
    return best if best is not None else peel_at(hi)


def _peel_zero_rows(Bz: np.ndarray) -> list[int] | None:
    """If Bz can be permuted to strictly lower triangular, return the
    peel order (repeatedly extract a row with no remaining parents).
    Vectorized: per-row counts of nonzero remaining parents, decremented
    column-wise as rows peel — O(p²) total."""
    p = Bz.shape[0]
    nz = Bz != 0.0
    counts = nz.sum(axis=1)  # parents per row (diagonal already zero)
    alive = np.ones(p, dtype=bool)
    order: list[int] = []
    for _ in range(p):
        ready = np.nonzero(alive & (counts == 0))[0]
        if ready.size == 0:
            return None
        i = int(ready[0])  # smallest index first: deterministic
        order.append(i)
        alive[i] = False
        counts -= nz[:, i]  # column i no longer counts as a parent
    return order


def ica_causal_order(X: np.ndarray, max_iter: int = 1000, seed: int = 0) -> list[int]:
    """ICA-LiNGAM ordering (Shimizu et al., JMLR 2006): estimate the
    unmixing W by FastICA, permute rows to a nonzero dominant diagonal,
    scale rows to unit diagonal, read B = I - W', then find the variable
    order closest to strictly lower triangular by binary search on the
    smallest-entry zeroing threshold."""
    p = X.shape[1]
    W = fastica_unmixing(X, max_iter=max_iter, seed=seed)
    rperm = _diag_row_assignment(W)
    Wp = W[rperm, :]
    Wp = Wp / np.diag(Wp)[:, None]
    B = np.eye(p) - Wp
    return _order_from_triangularity(B)


# ---------------------------------------------------------------- pairwise


def fit_pair(
    x: np.ndarray, y: np.ndarray, algorithm: str = "direct",
    lower_limit: float = 0.05, seed: int = 0,
) -> tuple[int, float] | None:
    """2-variable LiNGAM: returns (direction, coefficient) where
    direction 0 means x -> y and 1 means y -> x, or None when the fitted
    coefficient falls under ``lower_limit``.  The coefficient is the OLS
    slope of the effect on the cause (with intercept) — for one parent
    exactly the population regression slope, which is what makes the
    pairwise mode DuckDB-oracle-checkable (``regr_slope``)."""
    X2 = np.column_stack([x, y]).astype(float)
    if algorithm == "direct":
        order = causal_order(X2)
    elif algorithm == "ica":
        order = ica_causal_order(X2, seed=seed)
    else:
        raise ValueError(f"invalid lingam algorithm {algorithm!r}")
    B = fit_coefficients(X2, order, th=lower_limit)
    cause, effect = order
    c = B[effect, cause]
    if c == 0.0:
        return None
    return cause, float(c)


def lingam_matrix_to_edges(unit: str, B: np.ndarray, eids: np.ndarray) -> pd.DataFrame:
    rows = [
        (unit, int(eids[j]), int(eids[i]), True, float(B[i, j]))
        for i in range(B.shape[0])
        for j in range(B.shape[1])
        if B[i, j] != 0
    ]
    return pd.DataFrame(rows, columns=EDGE_COLUMNS)


def lingam_edges(
    matrix: DataFrame,
    unit_meta: dict[str, tuple[datetime, int]],
    bin_size: timedelta,
    th: float = 0.05,
    noedge: DataFrame | None = None,
    method: str = "sequential",
    bin_diff: timedelta | None = None,
    algorithm: str = "direct",
    ica_max_iter: int = 1000,
) -> DataFrame:
    """Distributed LiNGAM over all units (grouped-map kernel).

    ``algorithm`` selects the estimator, mirroring the reference's
    ``[lingam] algorithm`` config (lingam_input.py:28-40): ``'direct'``
    is DirectLiNGAM; ``'ica'`` is ICA-LiNGAM (FastICA unmixing ->
    permutation search; ``ica_max_iter`` mirrors the reference knob).

    ``noedge`` (unit, eid1, eid2) is the prior-knowledge no-path
    constraint (reference passes ``lingam_prior_knowledge`` into the
    estimator, /root/reference/logdag/pknowledge.py:93-112).  For
    ``direct`` it becomes a pk matrix (0 = forbidden both ways) handed
    to the order search and the coefficient fit — forbidden parents are
    EXCLUDED from the regression, not post-zeroed.  ICA-LiNGAM does not
    take prior knowledge (the reference warns and ignores it,
    lingam_input.py:29-31); to still honor G7's pruning contract the
    forbidden coefficients are zeroed after the fit.
    ``method``/``bin_diff`` must match the discretize stage (bin labels
    step by bin_diff for slide/radius).
    """
    if algorithm not in ("direct", "ica"):
        raise ValueError(f"invalid lingam algorithm {algorithm!r}")

    def fit(unit, mat, eids, banned):
        pk = np.where(banned, 0, -1) if banned.any() else None
        if algorithm == "direct":
            order = causal_order(mat, pk=pk)
            B = fit_coefficients(mat, order, th, pk=pk)
        else:
            order = ica_causal_order(mat, max_iter=ica_max_iter)
            B = fit_coefficients(mat, order, th)
            B[banned] = 0.0
        return lingam_matrix_to_edges(unit, B, eids)

    return _per_unit_edges(matrix, unit_meta, bin_size, noedge, method, bin_diff, fit)


def lingam_corr_edges(
    matrix: DataFrame,
    unit_meta: dict[str, tuple[datetime, int]],
    bin_size: timedelta,
    lower_limit: float = 0.05,
    noedge: DataFrame | None = None,
    method: str = "sequential",
    bin_diff: timedelta | None = None,
    algorithm: str = "direct",
) -> DataFrame:
    """``lingam-corr`` — pairwise LiNGAM coefficients per unit
    (/root/reference/logdag/makedag.py:124-130 ->
    lingam_input.py:62-95's ``estimate_corr``): every 2-combination of
    the unit's variables gets its OWN 2-variable fit, and the DAG is the
    union of the per-pair edges.  Differs from whole-matrix LiNGAM in
    exactly the reference's way: no variable is ever residualized
    against a third, so indirect influence shows up as an edge.

    Prior knowledge: a (unit, eid1, eid2) ``noedge`` pair is skipped
    outright (the reference builds a per-pair pmatrix from the same rule
    set, lingam_input.py:77-80 — for a no-path constraint on a 2-variable
    fit that is equivalent to not emitting the pair's edge).

    Spark shape: the same grouped-map fleet as :func:`lingam_edges`;
    pairs loop inside the per-unit kernel (the reference loops
    ``combinations(data.columns, 2)`` in-process too), so one shuffle
    of |series|×|bins| rows, no duplication.
    """
    if algorithm not in ("direct", "ica"):
        raise ValueError(f"invalid lingam algorithm {algorithm!r}")

    def fit(unit, mat, eids, banned):
        rows = []
        for a, b in combinations(range(len(eids)), 2):
            if banned[a, b]:
                continue
            res = fit_pair(
                mat[:, a], mat[:, b], algorithm=algorithm,
                lower_limit=lower_limit,
            )
            if res is None:
                continue
            direction, coef = res
            src, dst = (a, b) if direction == 0 else (b, a)
            rows.append((unit, int(eids[src]), int(eids[dst]), True, coef))
        return pd.DataFrame(rows, columns=EDGE_COLUMNS)

    return _per_unit_edges(matrix, unit_meta, bin_size, noedge, method, bin_diff, fit)
