"""Reference oracles for the batched PC skeleton in ``pipeline/pc.py``:
the sequential PC-stable loop that calls one CI test at a time, and the
scalar G-square test, plus the depth-0 orientation kernel with its
row-by-row adjacency build.  The batched code must reproduce these
exactly (``tests/test_batched_kernels.py``)."""

from __future__ import annotations

from itertools import combinations

import numpy as np
import pandas as pd

from logdag_spark.pipeline.pc import chi2_sf, graph_to_edges, orient_cpdag


def ci_test_gsq_scalar(data: np.ndarray, i: int, j: int, S: tuple[int, ...]) -> float:
    """G-square CI test for binary data, one table at a time."""
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


def pc_skeleton_sequential(
    p: int,
    ci,
    alpha: float,
    init_adj: np.ndarray | None = None,
    max_depth: int = -1,
):
    """PC-stable skeleton, one ``ci(i, j, S) -> pval`` call per test:
    returns (adjacency bool matrix, sepsets dict)."""
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


def orient_depth0_unit_iterrows(edf: pd.DataFrame) -> pd.DataFrame:
    """``pc.orient_depth0_unit`` with a row-by-row adjacency build."""
    if len(edf) == 0:
        return pd.DataFrame(columns=["unit", "src_eid", "dst_eid", "directed", "weight"])
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
        def get(self, key, default=None):
            return ()

    g = orient_cpdag(adj, _EmptySepsets())
    return graph_to_edges(unit, g, wmat, nodes)
