"""Stage 6 — PC-algorithm causal-edge pruning per analysis unit.

The reference delegates to external packages (``pcalg.estimate_skeleton`` /
``estimate_cpdag`` with ``gsq`` / ``citestfz`` CI tests — call contract at
/root/reference/logdag/pc_input.py:19-84; neither package is installed
here).  This module is a from-scratch implementation of:

* PC-stable skeleton search (order-independent neighbor snapshots per
  depth level) with sepset bookkeeping and a depth cap
  (``skeleton_depth``, /root/reference/logdag/makedag.py:116-122);
* CI tests: Fisher-z partial correlation (gaussian) and the G-square test
  on binarized data (reference selects by ``ci_func``,
  pc_input.py:19-27);  chi-square survival and the normal CDF are
  implemented with stdlib math (scipy is absent);
* CPDAG orientation: v-structures from sepsets + Meek rules R1-R3.

Spark shape: each analysis unit's matrix is small by construction
(10^2-10^3 events x ~10^3 bins, SURVEY.md §4), so PC runs inside a
``cogroup().applyInPandas`` kernel — one unit per group, all units in
parallel across executors, prior-knowledge "noedge" pairs cogrouped in as
a second frame.  The reference's multiprocessing.Pool over units
(/root/reference/logdag/__main__.py:57-61) becomes this group
parallelism.
"""

from __future__ import annotations

import math
from datetime import datetime, timedelta
from itertools import combinations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from logdag_spark.config import to_utc_ms
from logdag_spark.session import kernel_groups, local_frame

EDGE_SCHEMA = (
    "unit string, src_eid long, dst_eid long, directed boolean, weight double"
)
NOEDGE_SCHEMA = "unit string, eid1 long, eid2 long"


# ------------------------------------------------------------ distributions


def norm_sf2(z: float) -> float:
    """Two-sided normal tail: P(|Z| > z)."""
    return math.erfc(abs(z) / math.sqrt(2.0))


def chi2_sf(x: float, k: int) -> float:
    """Chi-square survival function for integer dof (stdlib only).

    Even k: Poisson partial sum; odd k: erfc term + half-integer-gamma
    series.  Exact closed forms, no numeric integration.
    """
    if x <= 0:
        return 1.0
    if k <= 0:
        return 0.0
    h = x / 2.0
    if k % 2 == 0:
        m = k // 2
        term, s = 1.0, 1.0
        for i in range(1, m):
            term *= h / i
            s += term
        return min(1.0, math.exp(-h) * s)
    # odd dof
    s = math.erfc(math.sqrt(h))
    m = (k - 1) // 2
    for j in range(1, m + 1):
        s += math.exp(-h) * x ** (j - 0.5) / (2 ** (j - 0.5) * math.gamma(j + 0.5))
    return min(1.0, s)


# ------------------------------------------------------------------ CI tests


def ci_test_fisherz(corr: np.ndarray, n: int, i: int, j: int, S: tuple[int, ...]) -> float:
    """Fisher-z partial-correlation test p-value.

    Partial corr of (i, j) given S from the precision of the correlation
    submatrix; z = atanh(r) * sqrt(n - |S| - 3)
    (reference ci_func ``fisherz``, /root/reference/logdag/pc_input.py:23-25).
    """
    idx = [i, j, *S]
    sub = corr[np.ix_(idx, idx)]
    try:
        prec = np.linalg.pinv(sub)
    except np.linalg.LinAlgError:
        return 0.0
    denom = math.sqrt(abs(prec[0, 0] * prec[1, 1]))
    if denom == 0:
        return 0.0
    r = -prec[0, 1] / denom
    r = min(0.999999, max(-0.999999, r))
    dof = n - len(S) - 3
    if dof <= 0:
        return 1.0
    z = math.atanh(r) * math.sqrt(dof)
    return norm_sf2(z)


def ci_test_gsq(data: np.ndarray, i: int, j: int, S: tuple[int, ...]) -> float:
    """G-square CI test for binary data.

    G² = 2 Σ observed·ln(observed/expected) over the (x, y) table within
    each configuration of S; dof = 2^|S| for binary variables.  When the
    sample is too small for the table (n < 10·dof) the test is unreliable
    and we conservatively keep the edge (p = 0), the standard gsq-package
    heuristic (reference selects this test for binarized input,
    /root/reference/logdag/pc_input.py:19-22).
    """
    n = data.shape[0]
    dof = 2 ** len(S)
    if n < 10 * dof:
        return 0.0
    x = data[:, i].astype(np.int64)
    y = data[:, j].astype(np.int64)
    if len(S) == 0:
        cfg = np.zeros(n, dtype=np.int64)
        n_cfg = 1
    else:
        sub = data[:, list(S)].astype(np.int64)
        weights = (2 ** np.arange(len(S))).astype(np.int64)
        cfg = sub @ weights
        n_cfg = 2 ** len(S)
    # counts[cfg, x, y]
    flat = (cfg * 4 + x * 2 + y).astype(np.int64)
    counts = np.bincount(flat, minlength=n_cfg * 4).reshape(n_cfg, 2, 2).astype(float)
    g2 = 0.0
    for k in range(n_cfg):
        tab = counts[k]
        tot = tab.sum()
        if tot == 0:
            continue
        rows = tab.sum(axis=1, keepdims=True)
        cols = tab.sum(axis=0, keepdims=True)
        exp = rows @ cols / tot
        nz = tab > 0
        g2 += 2.0 * float((tab[nz] * np.log(tab[nz] / exp[nz])).sum())
    return chi2_sf(g2, dof)


# --------------------------------------------------------------- PC-stable


def pc_skeleton_stable(
    p: int,
    ci,
    alpha: float,
    init_adj: np.ndarray | None = None,
    max_depth: int = -1,
):
    """PC-stable skeleton: returns (adjacency bool matrix, sepsets dict).

    ``ci(i, j, S) -> pval``.  Neighbor sets are frozen per depth level so
    edge-removal order cannot change the result (the ``stable`` method the
    reference configures, /root/reference/logdag/data/config.conf.default:176).
    ``init_adj`` encodes prior-knowledge noedge pruning (G7,
    /root/reference/logdag/pknowledge.py:82-91): start from complete minus
    forbidden instead of complete.
    """
    adj = np.ones((p, p), dtype=bool) if init_adj is None else init_adj.copy()
    np.fill_diagonal(adj, False)
    sepsets: dict[tuple[int, int], tuple[int, ...]] = {}
    depth = 0
    while True:
        if max_depth >= 0 and depth > max_depth:
            break
        frozen = adj.copy()
        any_candidate = False
        for i in range(p):
            nbrs_i = np.nonzero(frozen[i])[0]
            for j in nbrs_i:
                if not adj[i, j]:
                    continue
                others = [k for k in nbrs_i if k != j]
                if len(others) < depth:
                    continue
                any_candidate = True
                for S in combinations(others, depth):
                    if ci(i, j, S) > alpha:
                        adj[i, j] = adj[j, i] = False
                        sepsets[(i, j)] = sepsets[(j, i)] = S
                        break
        if not any_candidate:
            break
        depth += 1
    return adj, sepsets


def orient_cpdag(adj: np.ndarray, sepsets: dict) -> np.ndarray:
    """CPDAG orientation: v-structures + Meek rules R1-R3.

    Returns g where g[i, j] means an edge i->j remains; an undirected edge
    keeps both directions (the reference's bidirectional-pair convention,
    /root/reference/logdag/showdag.py:43-55).
    """
    p = adj.shape[0]
    g = adj.copy()
    # v-structures: i - j - k with i,k nonadjacent and j not in sepset(i,k).
    # A missing entry means the pair was never CI-tested — pruned from the
    # initial graph by prior knowledge — and pcalg initializes sep_set to
    # empty sets, so those pairs orient as if separated by {} (matches
    # orient_depth0_edges; ADVICE r2)
    for j in range(p):
        nbrs = np.nonzero(adj[j])[0]
        for i, k in combinations(nbrs, 2):
            if adj[i, k]:
                continue
            sep = sepsets.get((i, k), ())
            if j not in sep:
                # orient i->j<-k: drop j->i and j->k if still reversible
                if g[i, j] and g[j, i]:
                    g[j, i] = False
                if g[k, j] and g[j, k]:
                    g[j, k] = False
    # Meek rules to closure
    changed = True
    while changed:
        changed = False
        for i in range(p):
            for j in range(p):
                if not (g[i, j] and g[j, i]):
                    continue  # need undirected i-j
                # R1: k->i, k,j nonadjacent  =>  i->j
                for k in range(p):
                    if g[k, i] and not g[i, k] and not adj[k, j]:
                        g[j, i] = False
                        changed = True
                        break
                if not g[j, i]:
                    continue
                # R2: i->k->j  =>  i->j
                for k in range(p):
                    if g[i, k] and not g[k, i] and g[k, j] and not g[j, k]:
                        g[j, i] = False
                        changed = True
                        break
                if not g[j, i]:
                    continue
                # R3: i-k->j and i-l->j, k,l nonadjacent  =>  i->j
                ks = [
                    k
                    for k in range(p)
                    if g[i, k] and g[k, i] and g[k, j] and not g[j, k]
                ]
                done = False
                for a, b in combinations(ks, 2):
                    if not adj[a, b]:
                        g[j, i] = False
                        changed = True
                        done = True
                        break
                if done:
                    continue
    return g


def estimate_dag_matrix(
    mat: np.ndarray,
    ci_func: str = "fisherz",
    alpha: float = 0.01,
    max_depth: int = -1,
    init_adj: np.ndarray | None = None,
    binarize: bool | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Run PC on one unit's dense (bins x events) matrix.

    Returns (g, corr): the oriented graph matrix and the pairwise
    correlation matrix (used as edge weight).  ``binarize`` defaults to
    True for gsq, False for fisherz (pc_input.py:19-27; A5 binarize at
    :49-50).
    """
    n, p = mat.shape
    if binarize is None:
        binarize = ci_func == "gsq"
    data = (mat >= 1).astype(np.int8) if binarize else mat
    with np.errstate(invalid="ignore"):
        corr = np.corrcoef(data.astype(float), rowvar=False)
    corr = np.nan_to_num(corr)
    if ci_func == "fisherz":
        def ci(i, j, S):
            return ci_test_fisherz(corr, n, i, j, S)
    elif ci_func == "gsq":
        def ci(i, j, S):
            return ci_test_gsq(data, i, j, S)
    else:
        raise ValueError(f"unknown ci_func {ci_func!r}")
    adj, sepsets = pc_skeleton_stable(p, ci, alpha, init_adj, max_depth)
    g = orient_cpdag(adj, sepsets)
    return g, corr


def graph_to_edges(unit: str, g: np.ndarray, corr: np.ndarray, eids: np.ndarray) -> pd.DataFrame:
    """Matrix -> edge rows; undirected pairs emitted once with
    directed=False and (min, max) eid order (dedup convention of
    /root/reference/logdag/showdag.py:479-488)."""
    rows = []
    p = g.shape[0]
    for i in range(p):
        for j in range(p):
            if not g[i, j]:
                continue
            if g[j, i]:
                if i < j:
                    rows.append((unit, int(eids[i]), int(eids[j]), False, float(corr[i, j])))
            else:
                rows.append((unit, int(eids[i]), int(eids[j]), True, float(corr[i, j])))
    return pd.DataFrame(
        rows, columns=["unit", "src_eid", "dst_eid", "directed", "weight"]
    )


def label_step_ms(
    bin_size: timedelta, method: str = "sequential",
    bin_diff: timedelta | None = None,
) -> tuple[int, int]:
    """(step, offset) in ms mapping bin labels back to matrix row indices.

    Must mirror ``aggregate.bin_labels``: labels step by ``bin_diff`` for
    slide/radius (radius adds a half-slide offset), by ``bin_size`` for
    sequential.  Indexing with bin_size when bin_diff differs collides or
    drops rows silently (ADVICE r1).
    """
    size = int(bin_size.total_seconds() * 1000)
    slide = int(bin_diff.total_seconds() * 1000) if bin_diff else size
    step = size if method == "sequential" else slide
    offset = slide // 2 if method == "radius" else 0
    return step, offset


def assemble_unit_matrix(
    mdf: pd.DataFrame, t0_ms: int, nb: int, step_ms: int, offset_ms: int = 0
) -> tuple[np.ndarray, np.ndarray]:
    """Long-form (eid, bin, cnt) rows -> dense (bins x events) matrix +
    sorted eid vector.  Shared by the PC and LiNGAM kernels."""
    eids = np.sort(mdf["eid"].unique())
    pos = {e: k for k, e in enumerate(eids)}
    mat = np.zeros((nb, len(eids)))
    bin_ms_vals = mdf["bin"].values.astype("datetime64[ms]").astype("int64")
    bin_idx = (bin_ms_vals - t0_ms - offset_ms) // step_ms
    col = mdf["eid"].map(pos).to_numpy()
    ok = (bin_idx >= 0) & (bin_idx < nb)
    mat[bin_idx[ok], col[ok]] = mdf["cnt"].to_numpy()[ok]
    return mat, eids


def pc_edges(
    matrix: DataFrame,
    unit_meta: dict[str, tuple[datetime, int]],
    bin_size: timedelta,
    ci_func: str = "fisherz",
    alpha: float = 0.01,
    max_depth: int = -1,
    binarize: bool | None = None,
    noedge: DataFrame | None = None,
    method: str = "sequential",
    bin_diff: timedelta | None = None,
) -> DataFrame:
    """Distributed PC over all units.

    ``matrix`` is the long-form (unit, eid, bin, cnt); ``unit_meta`` maps
    unit -> (range start, n_bins) (tiny, closure-captured).  ``noedge`` is
    an optional (unit, eid1, eid2) prior-knowledge frame cogrouped in.
    ``method``/``bin_diff`` must match the discretize stage so bin labels
    map back to the right matrix row for slide/radius binning.
    """
    spark = matrix.sparkSession
    step_ms, offset_ms = label_step_ms(bin_size, method, bin_diff)
    meta = {u: (to_utc_ms(t0), nb) for u, (t0, nb) in unit_meta.items()}

    def kernel(mdf: pd.DataFrame, ndf: pd.DataFrame) -> pd.DataFrame:
        if len(mdf) == 0:
            return pd.DataFrame(
                columns=["unit", "src_eid", "dst_eid", "directed", "weight"]
            )
        unit = mdf["unit"].iloc[0]
        t0_ms, nb = meta[unit]
        mat, eids = assemble_unit_matrix(mdf, t0_ms, nb, step_ms, offset_ms)
        pos = {e: k for k, e in enumerate(eids)}
        init = np.ones((len(eids), len(eids)), dtype=bool)
        if len(ndf):
            a = ndf["eid1"].map(pos).to_numpy()
            b = ndf["eid2"].map(pos).to_numpy()
            ok = ~(pd.isna(a) | pd.isna(b))
            ai, bi = a[ok].astype(int), b[ok].astype(int)
            init[ai, bi] = init[bi, ai] = False
        g, corr = estimate_dag_matrix(mat, ci_func, alpha, max_depth, init, binarize)
        return graph_to_edges(unit, g, corr, eids)

    if noedge is None:
        noedge = local_frame(spark, [], NOEDGE_SCHEMA)
    else:
        # fresh attribute ids: noedge usually derives from the same evdim
        # lineage as matrix, which trips the self-join ambiguity check in
        # the cogroup
        noedge = noedge.select("unit", "eid1", "eid2").toDF("unit", "eid1", "eid2")
    return (
        kernel_groups(matrix, "unit")
        .cogroup(kernel_groups(noedge, "unit"))
        .applyInPandas(kernel, EDGE_SCHEMA)
    )


def orient_depth0_edges(edges: DataFrame) -> DataFrame:
    """CPDAG orientation for a depth-0 (pc-corr) skeleton.

    The reference's pc-corr is the full PC machinery at depth 0
    (/root/reference/logdag/makedag.py:116-122) — orientation included.
    At depth 0 every removed pair's separating set is EMPTY, so
    v-structures depend only on the skeleton: every unshielded triple
    i-j-k orients i->j<-k; Meek rules close.  That lets the sparse
    DataFrame fisherz discovery (the scale path) keep its shape while a
    tiny per-unit grouped-map kernel adds reference-parity orientation
    over the (small) surviving edge set — the heavy lifting stays in the
    single-shuffle sufficient-statistics plan.
    """

    def kernel(edf: pd.DataFrame) -> pd.DataFrame:
        if len(edf) == 0:
            return pd.DataFrame(
                columns=["unit", "src_eid", "dst_eid", "directed", "weight"]
            )
        unit = edf["unit"].iloc[0]
        nodes = np.sort(
            np.unique(np.concatenate([edf["src_eid"].values, edf["dst_eid"].values]))
        )
        pos = {e: k for k, e in enumerate(nodes)}
        p = len(nodes)
        adj = np.zeros((p, p), dtype=bool)
        wmat = np.zeros((p, p))
        for _, r in edf.iterrows():
            i, j = pos[r["src_eid"]], pos[r["dst_eid"]]
            adj[i, j] = adj[j, i] = True
            wmat[i, j] = wmat[j, i] = r["weight"]

        class _EmptySepsets(dict):
            # depth-0: every non-adjacent pair was separated by the empty set
            def get(self, key, default=None):
                return ()

        g = orient_cpdag(adj, _EmptySepsets())
        return graph_to_edges(unit, g, wmat, nodes)

    return kernel_groups(edges, "unit").applyInPandas(kernel, EDGE_SCHEMA)
