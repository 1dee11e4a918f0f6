"""Stage 6 — PC-algorithm causal-edge pruning per analysis unit.

The reference delegates to external packages (``pcalg.estimate_skeleton`` /
``estimate_cpdag`` with ``gsq`` / ``citestfz`` CI tests — call contract at
/root/reference/logdag/pc_input.py:19-84; neither package is installed
here).  This module is a from-scratch implementation of:

* PC-stable skeleton search (order-independent neighbor snapshots per
  depth level) with sepset bookkeeping and a depth cap
  (``skeleton_depth``, /root/reference/logdag/makedag.py:116-122);
  the CI tests of a depth level run as batches — the k-th test of every
  still-undecided pair in one call — with the sequential loop's tests,
  removals and sepsets;
* CI tests: Fisher-z partial correlation (gaussian) and the G-square test
  on binarized data (reference selects by ``ci_func``,
  pc_input.py:19-27), G-square tables for a whole batch from one numpy
  ``bincount``;  chi-square survival and the normal CDF are implemented
  with stdlib math (scipy is absent);
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
from functools import partial
from itertools import combinations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from logdag_spark.config import dur_ms, to_utc_ms
from logdag_spark.session import kernel_groups, local_frame

EDGE_SCHEMA = (
    "unit string, src_eid long, dst_eid long, directed boolean, weight double"
)
EDGE_COLUMNS = ["unit", "src_eid", "dst_eid", "directed", "weight"]
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


def ci_fisherz_batch(
    corr: np.ndarray, n: int, x: np.ndarray, y: np.ndarray, S: np.ndarray
) -> np.ndarray:
    """:func:`ci_test_fisherz` p-values for a batch of tests, one at a
    time: a stacked ``pinv`` would not be bit-identical to the scalar."""
    return np.array(
        [ci_test_fisherz(corr, n, i, j, tuple(s)) for i, j, s in zip(x, y, S)]
    )


def ci_test_gsq(data: np.ndarray, i: int, j: int, S: tuple[int, ...]) -> float:
    """G-square CI test p-value for one test: :func:`ci_gsq_batch` of one."""
    s = np.asarray(S, dtype=np.int64).reshape(1, len(S))
    return float(ci_gsq_batch(data, np.array([i]), np.array([j]), s)[0])


# elements per chunk of the (tests x bins) cell-index matrix: 32 MB of intp
_GSQ_CHUNK = 1 << 22


def ci_gsq_batch(
    data: np.ndarray, x: np.ndarray, y: np.ndarray, S: np.ndarray
) -> np.ndarray:
    """G-square CI test p-values for binary data, one per test
    ``(x[t], y[t] | S[t])``; ``S`` is (tests x |S|), every test of a batch
    conditions on the same number of variables.

    G² = 2 Σ observed·ln(observed/expected) over the (x, y) table within
    each configuration of S; dof = 2^|S| for binary variables.  When the
    sample is too small for the table (n < 10·dof) the test is unreliable
    and we conservatively keep the edge (p = 0), the standard gsq-package
    heuristic (reference selects this test for binarized input,
    /root/reference/logdag/pc_input.py:19-22).

    All tests' tables come from one ``bincount``; the arithmetic per test
    is the scalar one, so p-values do not depend on the batch: within a
    configuration the cells are summed in the order 00, 01, 10, 11,
    configurations accumulate in order, and ``chi2_sf`` runs per test.
    """
    n = data.shape[0]
    n_tests, d = S.shape
    dof = 2**d
    if n < 10 * dof:
        return np.zeros(n_tests)
    cells = 4 * dof
    # per variable its n bins, in the narrowest type that holds a cell index
    cols_of = np.ascontiguousarray(
        np.asarray(data).T, dtype=np.min_scalar_type(cells - 1)
    )
    g2 = np.empty(n_tests)
    step = max(1, _GSQ_CHUNK // max(n, 1))
    for lo in range(0, n_tests, step):
        hi = min(lo + step, n_tests)
        # cell index per (test, bin): cfg * 4 + x * 2 + y, cfg = Σ S_k 2^k,
        # offset per test so that one bincount yields every table
        code = cols_of[x[lo:hi]] * 2 + cols_of[y[lo:hi]]
        for k in range(d):
            code += cols_of[S[lo:hi, k]] << (k + 2)
        flat = code.astype(np.intp)
        flat += (np.arange(hi - lo) * cells)[:, None]
        tab = (
            np.bincount(flat.ravel(), minlength=(hi - lo) * cells)
            .reshape(hi - lo, dof, 2, 2)
            .astype(float)
        )
        rows = tab.sum(axis=3)
        cols = tab.sum(axis=2)
        # an empty configuration (tot 0) has no nonzero cell: divide by 1
        tot = np.maximum(rows.sum(axis=2), 1.0)
        exp = rows[:, :, :, None] * cols[:, :, None, :] / tot[:, :, None, None]
        ratio = np.divide(tab, exp, out=np.ones_like(tab), where=tab > 0)
        term = tab * np.log(ratio)
        s = ((term[..., 0, 0] + term[..., 0, 1]) + term[..., 1, 0]) + term[..., 1, 1]
        acc = np.zeros(hi - lo)
        for k in range(dof):
            acc += 2.0 * s[:, k]
        g2[lo:hi] = acc
    return np.array([chi2_sf(float(v), dof) for v in g2])


# --------------------------------------------------------------- PC-stable


def pc_skeleton_stable(
    p: int,
    ci,
    alpha: float,
    init_adj: np.ndarray | None = None,
    max_depth: int = -1,
):
    """PC-stable skeleton: returns (adjacency bool matrix, sepsets dict).

    ``ci(x, y, S) -> pvals`` tests a batch: ``x``, ``y`` are index arrays
    and ``S`` is (tests x depth).  Neighbor sets are frozen per depth level so
    edge-removal order cannot change the result (the ``stable`` method the
    reference configures, /root/reference/logdag/data/config.conf.default:176).
    ``init_adj`` encodes prior-knowledge noedge pruning (G7,
    /root/reference/logdag/pknowledge.py:82-91): start from complete minus
    forbidden instead of complete.

    With frozen neighbor sets a pair's fate at one level depends only on
    its own tests: visiting i in ascending order, the pair (a, b), a < b,
    tests (a, b, S) for S over the subsets of a's other neighbors, then
    (b, a, S) over b's, and the first p-value above ``alpha`` removes it.
    So a level runs as batches: the k-th test of every still-undecided
    pair in one ``ci`` call, for k = 0, 1, ... (depth 0 is two calls, one
    per orientation).  Exactly the sequential loop's tests run, each in
    its own orientation, and removals and sepsets are applied in its
    visiting order.
    """
    adj = np.ones((p, p), dtype=bool) if init_adj is None else init_adj.copy()
    np.fill_diagonal(adj, False)
    sepsets: dict[tuple[int, int], tuple[int, ...]] = {}
    depth = 0
    while max_depth < 0 or depth <= max_depth:
        nbrs = [np.nonzero(adj[i])[0].tolist() for i in range(p)]
        if not any(len(nb) > depth for nb in nbrs):
            break  # no pair has a conditioning set of this size

        # adj is this level's frozen snapshot until the removals below
        def pair_tests(a, b):
            for i, j in ((a, b), (b, a)):
                if adj[i, j] and len(nbrs[i]) > depth:
                    others = [k for k in nbrs[i] if k != j] if depth else ()
                    for S in combinations(others, depth):
                        yield i, j, S

        pairs = np.argwhere(np.triu(adj | adj.T)).tolist()
        live = [pair_tests(a, b) for a, b in pairs]
        removed = []
        while live:
            batch = [(t, q) for q in live if (t := next(q, None)) is not None]
            if not batch:
                break
            x, y, S = zip(*(t for t, _ in batch))
            pvals = ci(
                np.array(x, dtype=np.int64),
                np.array(y, dtype=np.int64),
                np.array(S, dtype=np.int64).reshape(len(batch), depth),
            )
            live = []
            for (t, q), pv in zip(batch, pvals):
                if pv > alpha:
                    removed.append(t)
                else:
                    live.append(q)
        for i, j, S in sorted(removed):
            adj[i, j] = adj[j, i] = False
            sepsets[(i, j)] = sepsets[(j, i)] = S
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
    # a constant series has no correlation (NaN row); its diagonal is
    # still 1, so the Fisher-z test finds it independent of every series
    corr = np.nan_to_num(corr)
    np.fill_diagonal(corr, 1.0)
    if ci_func == "fisherz":
        ci = partial(ci_fisherz_batch, corr, n)
    elif ci_func == "gsq":
        if not np.isin(data, (0, 1)).all():
            raise ValueError("gsq tests binary data: pass binarize=True")
        # (bins x events) view of an (events x bins) uint8 array: every
        # batch gathers whole variables without a copy of the matrix
        ci = partial(ci_gsq_batch, np.ascontiguousarray(data.T, dtype=np.uint8).T)
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
    return pd.DataFrame(rows, columns=EDGE_COLUMNS)


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
    size = dur_ms(bin_size)
    slide = dur_ms(bin_diff) if bin_diff else size
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


def _per_unit_edges(
    matrix: DataFrame,
    unit_meta: dict[str, tuple[datetime, int]],
    bin_size: timedelta,
    noedge: DataFrame | None,
    method: str,
    bin_diff: timedelta | None,
    fit,
) -> DataFrame:
    """Grouped-map scaffold of the per-unit kernels (PC, LiNGAM).

    ``matrix`` is the long-form (unit, eid, bin, cnt), cogrouped by unit
    with the optional prior-knowledge ``noedge`` (unit, eid1, eid2).
    Each unit's rows become its dense (bins x events) matrix, and
    ``fit(unit, mat, eids, banned)`` returns the unit's edge rows;
    ``banned`` is the symmetric (events x events) mask of its noedge
    pairs.  ``unit_meta`` maps unit -> (range start, n_bins) (tiny,
    closure-captured).  ``method``/``bin_diff`` must match the discretize
    stage so bin labels map back to the right matrix row for slide/radius
    binning.
    """
    spark = matrix.sparkSession
    step_ms, offset_ms = label_step_ms(bin_size, method, bin_diff)
    meta = {u: (to_utc_ms(t0), nb) for u, (t0, nb) in unit_meta.items()}

    def kernel(mdf: pd.DataFrame, ndf: pd.DataFrame) -> pd.DataFrame:
        if len(mdf) == 0:
            return pd.DataFrame(columns=EDGE_COLUMNS)
        unit = mdf["unit"].iloc[0]
        t0_ms, nb = meta[unit]
        mat, eids = assemble_unit_matrix(mdf, t0_ms, nb, step_ms, offset_ms)
        banned = np.zeros((len(eids), len(eids)), dtype=bool)
        if len(ndf):
            pos = pd.Index(eids)
            a, b = pos.get_indexer(ndf["eid1"]), pos.get_indexer(ndf["eid2"])
            ok = (a >= 0) & (b >= 0)
            banned[a[ok], b[ok]] = banned[b[ok], a[ok]] = True
        return fit(unit, mat, eids, banned)

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
    """Distributed PC over all units: :func:`estimate_dag_matrix` per unit
    in the :func:`_per_unit_edges` scaffold (same ``matrix``,
    ``unit_meta``, ``noedge``, ``method``/``bin_diff``); a unit's noedge
    pairs start out non-adjacent."""

    def fit(unit, mat, eids, banned):
        g, corr = estimate_dag_matrix(mat, ci_func, alpha, max_depth, ~banned, binarize)
        return graph_to_edges(unit, g, corr, eids)

    return _per_unit_edges(matrix, unit_meta, bin_size, noedge, method, bin_diff, fit)


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
    return kernel_groups(edges, "unit").applyInPandas(orient_depth0_unit, EDGE_SCHEMA)


def orient_depth0_unit(edf: pd.DataFrame) -> pd.DataFrame:
    """:func:`orient_depth0_edges` on one unit's skeleton rows."""
    if len(edf) == 0:
        return pd.DataFrame(columns=EDGE_COLUMNS)
    unit = edf["unit"].iloc[0]
    src, dst = edf["src_eid"].to_numpy(), edf["dst_eid"].to_numpy()
    nodes = np.unique(np.concatenate([src, dst]))
    i, j = np.searchsorted(nodes, src), np.searchsorted(nodes, dst)
    p = len(nodes)
    adj = np.zeros((p, p), dtype=bool)
    adj[i, j] = adj[j, i] = True
    # both cells of each row in row order: a cell written twice keeps
    # the later weight
    cell = np.column_stack([i * p + j, j * p + i]).ravel()
    weight = np.repeat(edf["weight"].to_numpy(dtype=float), 2)
    last = len(cell) - 1 - np.unique(cell[::-1], return_index=True)[1]
    wmat = np.zeros((p, p))
    wmat.flat[cell[last]] = weight[last]

    class _EmptySepsets(dict):
        # depth-0: every non-adjacent pair was separated by the empty set
        def get(self, key, default=None):
            return ()

    g = orient_cpdag(adj, _EmptySepsets())
    return graph_to_edges(unit, g, wmat, nodes)
