"""DirectLiNGAM kernel on known non-Gaussian SEMs."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import numpy as np
import pytest

from logdag_spark.pipeline.lingam import (
    causal_order,
    fit_coefficients,
    lingam_edges,
)


def _sem(n=3000, seed=0):
    """x0 -> x1 -> x2 with uniform (non-Gaussian) noise."""
    rng = np.random.default_rng(seed)
    x0 = rng.uniform(-1, 1, n)
    x1 = 0.8 * x0 + 0.3 * rng.uniform(-1, 1, n)
    x2 = 0.7 * x1 + 0.3 * rng.uniform(-1, 1, n)
    return np.column_stack([x0, x1, x2])


def test_causal_order_chain():
    X = _sem()
    assert causal_order(X) == [0, 1, 2]


def test_coefficients_recovered():
    X = _sem()
    B = fit_coefficients(X, [0, 1, 2], th=0.05)
    assert abs(B[1, 0] - 0.8) < 0.1
    assert abs(B[2, 1] - 0.7) < 0.1
    assert B[0, 1] == 0 and B[0, 2] == 0  # no back edges


def test_order_invariant_to_permutation():
    X = _sem()
    perm = [2, 0, 1]  # columns now: x2, x0, x1
    Xp = X[:, perm]
    order = causal_order(Xp)
    # column 1 holds x0 (root), column 2 holds x1, column 0 holds x2
    assert order == [1, 2, 0]


def test_lingam_edges_distributed(spark):
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    X = _sem(n=1440, seed=3) + 2.0  # shift positive, count-like
    rows = []
    for eid in range(3):
        for b in range(1440):
            v = float(X[b, eid])
            if v != 0:
                rows.append(("u1", eid, t0 + timedelta(minutes=b), v))
    mdf = spark.createDataFrame(rows, "unit string, eid long, bin timestamp, cnt double")
    edges = lingam_edges(mdf, {"u1": (t0, 1440)}, timedelta(minutes=1))
    got = {(r["src_eid"], r["dst_eid"]) for r in edges.collect()}
    assert (0, 1) in got and (1, 2) in got
    assert (1, 0) not in got and (2, 1) not in got


# ---------------------------------------------------- prior knowledge (pk)


def test_pk_constrains_order_and_fit():
    """pk[i, j] == 1 (known path x_j -> x_i) must bar x_i from being
    chosen exogenous while x_j remains — even when the data measure
    prefers the opposite; pk[i, j] == 0 excludes x_j from x_i's
    regression entirely (refit, not post-zeroing)."""
    X = _sem()  # true chain 0 -> 1 -> 2
    # declare the REVERSE of what the data wants: x1 is an ancestor of x0
    pk = np.full((3, 3), -1)
    pk[0, 1] = 1
    order = causal_order(X, pk=pk)
    assert order.index(1) < order.index(0)

    # forbid the true edge 0 -> 1: its coefficient must vanish and the
    # others survive
    pk2 = np.full((3, 3), -1)
    pk2[1, 0] = 0
    B = fit_coefficients(X, [0, 1, 2], th=0.05, pk=pk2)
    assert B[1, 0] == 0
    assert abs(B[2, 1] - 0.7) < 0.15


def test_unsatisfiable_pk_falls_back():
    """A pk cycle (every variable has a known remaining ancestor) cannot
    be honored — the order search must still terminate and use the data."""
    X = _sem()
    pk = np.full((3, 3), -1)
    pk[0, 1] = pk[1, 2] = pk[2, 0] = 1
    assert sorted(causal_order(X, pk=pk)) == [0, 1, 2]


# ----------------------------------------------------------- ICA-LiNGAM


def test_ica_order_agrees_with_direct():
    """Seeded 3-variable uniform-noise chain: ICA-LiNGAM and DirectLiNGAM
    must agree on the causal order (the VERDICT parity criterion)."""
    from logdag_spark.pipeline.lingam import ica_causal_order

    X = _sem(n=5000, seed=7)
    assert ica_causal_order(X, seed=1) == causal_order(X) == [0, 1, 2]


def test_ica_lingam_edges_distributed(spark):
    from datetime import datetime, timedelta, timezone

    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    X = _sem(n=1440, seed=5) + 2.0
    rows = []
    for eid in range(3):
        for b in range(1440):
            v = float(X[b, eid])
            if v != 0:
                rows.append(("u1", eid, t0 + timedelta(minutes=b), v))
    mdf = spark.createDataFrame(rows, "unit string, eid long, bin timestamp, cnt double")
    edges = lingam_edges(
        mdf, {"u1": (t0, 1440)}, timedelta(minutes=1), algorithm="ica"
    )
    got = {(r["src_eid"], r["dst_eid"]) for r in edges.collect()}
    assert (0, 1) in got and (1, 2) in got
    assert (1, 0) not in got and (2, 1) not in got


# ------------------------------------------------------- pairwise (corr)


def test_fit_pair_direction_and_slope():
    from logdag_spark.pipeline.lingam import fit_pair

    rng = np.random.default_rng(11)
    x = rng.uniform(-1, 1, 4000)
    y = 1.7 * x + 0.3 * rng.uniform(-1, 1, 4000)
    d, c = fit_pair(x, y)
    assert d == 0 and abs(c - 1.7) < 0.1
    d2, c2 = fit_pair(y, x)  # swapped inputs: direction flips, same slope
    assert d2 == 1 and abs(c2 - 1.7) < 0.1
    # sub-threshold coefficient -> None
    z = rng.uniform(-1, 1, 4000)
    assert fit_pair(x, z, lower_limit=0.05) is None


def test_lingam_corr_edges_distributed(spark):
    """Pairwise mode finds the chain AND the indirect 0 -> 2 edge (no
    residualization against third variables — the reference's
    estimate_corr semantics); a noedge pair is skipped outright."""
    from datetime import datetime, timedelta, timezone

    from logdag_spark.pipeline.lingam import lingam_corr_edges

    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    X = _sem(n=1440, seed=9) + 2.0
    rows = []
    for eid in range(3):
        for b in range(1440):
            v = float(X[b, eid])
            if v != 0:
                rows.append(("u1", eid, t0 + timedelta(minutes=b), v))
    mdf = spark.createDataFrame(rows, "unit string, eid long, bin timestamp, cnt double")
    edges = lingam_corr_edges(mdf, {"u1": (t0, 1440)}, timedelta(minutes=1))
    got = {(r["src_eid"], r["dst_eid"]): r["weight"] for r in edges.collect()}
    assert set(got) == {(0, 1), (1, 2), (0, 2)}  # indirect edge included
    assert abs(got[(0, 1)] - 0.8) < 0.1
    assert abs(got[(1, 2)] - 0.7) < 0.1
    assert abs(got[(0, 2)] - 0.56) < 0.1  # 0.8 * 0.7 through the chain

    ne = spark.createDataFrame([("u1", 0, 2)], "unit string, eid1 long, eid2 long")
    got2 = {
        (r["src_eid"], r["dst_eid"])
        for r in lingam_corr_edges(
            mdf, {"u1": (t0, 1440)}, timedelta(minutes=1), noedge=ne
        ).collect()
    }
    assert got2 == {(0, 1), (1, 2)}


def test_lingam_corr_noedge_either_orientation(spark):
    """A noedge pair given as (2, 0) bans the edge between eids 0 and 2
    in both orientations, while the other pairs still fit."""
    from datetime import datetime, timedelta, timezone

    from logdag_spark.pipeline.lingam import lingam_corr_edges

    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    X = _sem(n=720, seed=13) + 2.0
    rows = []
    for eid in range(3):
        for b in range(720):
            v = float(X[b, eid])
            if v != 0:
                rows.append(("u1", eid, t0 + timedelta(minutes=b), v))
    mdf = spark.createDataFrame(rows, "unit string, eid long, bin timestamp, cnt double")
    ne = spark.createDataFrame([("u1", 2, 0)], "unit string, eid1 long, eid2 long")

    edges = {
        (r["src_eid"], r["dst_eid"])
        for r in lingam_corr_edges(
            mdf, {"u1": (t0, 720)}, timedelta(minutes=1), noedge=ne
        ).collect()
    }
    assert edges  # non-trivial
    assert not edges & {(0, 2), (2, 0)}  # noedge honored (either orientation)
