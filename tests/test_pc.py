"""PC kernel tests on hand-computable structures (SURVEY.md §7 watch list:
PC-stable correctness, sepset bookkeeping, Meek rules)."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import numpy as np
import pytest

from logdag_spark.pipeline.pc import (
    chi2_sf,
    ci_test_fisherz,
    ci_test_gsq,
    estimate_dag_matrix,
    graph_to_edges,
    norm_sf2,
    orient_cpdag,
    pc_edges,
    pc_skeleton_stable,
)


def test_chi2_sf_reference_values():
    # classic 5% critical values
    for x, k in [(3.841, 1), (5.991, 2), (7.815, 3), (9.488, 4), (18.307, 10)]:
        assert abs(chi2_sf(x, k) - 0.05) < 1e-3, (x, k)
    assert chi2_sf(0.0, 3) == 1.0
    assert chi2_sf(100.0, 1) < 1e-20


def test_norm_sf2():
    assert abs(norm_sf2(1.959964) - 0.05) < 1e-5
    assert abs(norm_sf2(0.0) - 1.0) < 1e-12


def _gauss_chain(n=4000, seed=0):
    rng = np.random.default_rng(seed)
    x = rng.normal(size=n)
    y = x + 0.5 * rng.normal(size=n)
    z = y + 0.5 * rng.normal(size=n)
    return np.column_stack([x, y, z])


def test_fisherz_chain_ci():
    data = _gauss_chain()
    corr = np.corrcoef(data, rowvar=False)
    n = data.shape[0]
    assert ci_test_fisherz(corr, n, 0, 2, ()) < 0.01  # X,Z dependent
    assert ci_test_fisherz(corr, n, 0, 2, (1,)) > 0.05  # X ⟂ Z | Y


def test_skeleton_chain():
    data = _gauss_chain()
    g, corr = estimate_dag_matrix(data, ci_func="fisherz", alpha=0.01)
    adj = g | g.T
    assert adj[0, 1] and adj[1, 2] and not adj[0, 2]
    # chain has no v-structure: edges stay undirected in the CPDAG
    assert g[0, 1] and g[1, 0] and g[1, 2] and g[2, 1]


def test_collider_orientation():
    rng = np.random.default_rng(1)
    n = 4000
    x = rng.normal(size=n)
    y = rng.normal(size=n)
    z = x + y + 0.5 * rng.normal(size=n)
    data = np.column_stack([x, y, z])
    g, _ = estimate_dag_matrix(data, ci_func="fisherz", alpha=0.01)
    # v-structure x->z<-y, x-y nonadjacent
    assert g[0, 2] and not g[2, 0]
    assert g[1, 2] and not g[2, 1]
    assert not g[0, 1] and not g[1, 0]


def test_meek_r1():
    # skeleton: 0-2 oriented 0->2 by v-structure with 1; 2-3 undirected,
    # 0,3 nonadjacent => R1 orients 2->3
    adj = np.array(
        [
            [0, 0, 1, 0],
            [0, 0, 1, 0],
            [1, 1, 0, 1],
            [0, 0, 1, 0],
        ],
        dtype=bool,
    )
    # pcalg-complete sepsets: every non-adjacent pair has an entry — a
    # missing entry now means "pruned before testing" and orients as if
    # separated by {} (ADVICE r2), so (0,3)/(1,3) must record their true
    # separator {2} to model a real PC run
    sepsets = {
        (0, 1): (), (1, 0): (),  # 2 not in sepset(0,1) -> collider at 2
        (0, 3): (2,), (3, 0): (2,),
        (1, 3): (2,), (3, 1): (2,),
    }
    # collider 0->2<-1 then R1: 2->3
    g = orient_cpdag(adj, sepsets)
    assert g[0, 2] and not g[2, 0]
    assert g[1, 2] and not g[2, 1]
    assert g[2, 3] and not g[3, 2]


def test_gsq_binary_chain():
    rng = np.random.default_rng(2)
    n = 8000
    x = (rng.random(n) < 0.4).astype(int)
    noise = rng.random(n) < 0.1
    y = np.where(noise, 1 - x, x)
    noise2 = rng.random(n) < 0.1
    z = np.where(noise2, 1 - y, y)
    data = np.column_stack([x, y, z])
    assert ci_test_gsq(data, 0, 2, ()) < 0.01
    assert ci_test_gsq(data, 0, 2, (1,)) > 0.05
    g, _ = estimate_dag_matrix(data, ci_func="gsq", alpha=0.01)
    adj = g | g.T
    assert adj[0, 1] and adj[1, 2] and not adj[0, 2]


def test_gsq_small_sample_keeps_edge():
    data = np.zeros((15, 3), dtype=int)
    assert ci_test_gsq(data, 0, 1, (2,)) == 0.0  # n < 10*dof -> dependent


def test_noedge_prior_respected():
    data = _gauss_chain()
    init = np.ones((3, 3), dtype=bool)
    init[0, 1] = init[1, 0] = False  # forbid X-Y
    g, _ = estimate_dag_matrix(data, "fisherz", 0.01, init_adj=init)
    assert not g[0, 1] and not g[1, 0]


def test_depth_cap():
    data = _gauss_chain()
    # depth 0 = pairwise only: X-Z survives (marginally dependent)
    g, _ = estimate_dag_matrix(data, "fisherz", 0.01, max_depth=0)
    adj = g | g.T
    assert adj[0, 2]


def test_graph_to_edges_dedup():
    g = np.array([[0, 1, 1], [1, 0, 0], [0, 0, 0]], dtype=bool)
    corr = np.eye(3)
    pdf = graph_to_edges("u", g, corr, np.array([10, 20, 30]))
    rows = {(r.src_eid, r.dst_eid, r.directed) for r in pdf.itertuples()}
    assert rows == {(10, 20, False), (10, 30, True)}


def test_pc_edges_distributed(spark):
    """Two units with opposite structures through the Spark wrapper."""
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    nb = 2000
    rng = np.random.default_rng(3)
    rows = []
    for unit, seed in [("u1", 0), ("u2", 1)]:
        r = np.random.default_rng(seed)
        x = r.poisson(2, nb)
        y = x + r.poisson(1, nb)
        z = y + r.poisson(1, nb)
        for eid, series in [(0, x), (1, y), (2, z)]:
            for b in range(nb):
                if series[b] > 0:
                    rows.append((unit, eid, t0 + timedelta(minutes=b), float(series[b])))
    mdf = spark.createDataFrame(
        rows, "unit string, eid long, bin timestamp, cnt double"
    )
    meta = {"u1": (t0, nb), "u2": (t0, nb)}
    edges = pc_edges(mdf, meta, timedelta(minutes=1), ci_func="fisherz", alpha=0.01)
    got = {
        (r["unit"], min(r["src_eid"], r["dst_eid"]), max(r["src_eid"], r["dst_eid"]))
        for r in edges.collect()
    }
    for u in ("u1", "u2"):
        assert (u, 0, 1) in got and (u, 1, 2) in got
        assert (u, 0, 2) not in got


@pytest.mark.parametrize("ci_func", ["gsq", "fisherz"])
def test_sparse_pc_corr_matches_dense_kernel(spark, ci_func):
    """The sparse pc-corr path on binarized counts (gsq_edges or
    fisherz_edges(pairwise_corr) skeleton + depth-0 orientation, as
    run_pipeline builds it) must produce the same edges, directions and
    weights as pc_edges(max_depth=0, binarize=True) on identical data."""
    from pyspark.sql import functions as F

    from logdag_spark.pipeline.correlate import (
        fisherz_edges,
        gsq_edges,
        pairwise_corr,
    )
    from logdag_spark.pipeline.pc import orient_depth0_edges

    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    nb = 500
    rows = []
    r = np.random.default_rng(11)
    x = (r.random(nb) < 0.4).astype(int)
    y = np.where(r.random(nb) < 0.8, x, (r.random(nb) < 0.4).astype(int))
    z = np.where(r.random(nb) < 0.8, y, (r.random(nb) < 0.4).astype(int))
    w = (r.random(nb) < 0.3).astype(int)  # independent
    for eid, series in [(0, x), (1, y), (2, z), (3, w)]:
        # counts, not indicators: binarization must decide presence
        counts = series * r.integers(1, 4, nb)
        for b in range(nb):
            if counts[b] > 0:
                rows.append(("u", eid, t0 + timedelta(minutes=b), float(counts[b])))
    mdf = spark.createDataFrame(
        rows, "unit string, eid long, bin timestamp, cnt double"
    )
    dense = pc_edges(
        mdf, {"u": (t0, nb)}, timedelta(minutes=1), ci_func=ci_func, alpha=0.01,
        max_depth=0, binarize=True,
    )
    nbdf = spark.createDataFrame([("u", nb)], "unit string, n long")
    mat_bin = mdf.withColumn("cnt", (F.col("cnt") >= 1).cast("double"))
    if ci_func == "gsq":
        skel = gsq_edges(mat_bin, nbdf, alpha=0.01).select(
            "unit",
            F.col("eid1").alias("src_eid"),
            F.col("eid2").alias("dst_eid"),
            F.lit(False).alias("directed"),
            F.col("r").alias("weight"),
        )
    else:
        skel = fisherz_edges(pairwise_corr(mat_bin, nbdf), alpha=0.01)
    sparse = orient_depth0_edges(skel)
    d = {(r["src_eid"], r["dst_eid"], r["directed"]): r["weight"] for r in dense.collect()}
    s = {(r["src_eid"], r["dst_eid"], r["directed"]): r["weight"] for r in sparse.collect()}
    assert set(d) == set(s) and len(d) > 0
    for k in d:
        assert abs(d[k] - s[k]) < 1e-9, k


def test_pc_edges_fisherz_constant_series_is_independent(spark):
    """A series with the same count in every bin has no correlation with
    anything: Fisher-z PC gives it no edge, whatever else the unit holds."""
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    nb = 500
    r = np.random.default_rng(5)
    x = r.poisson(2, nb)
    y = x + r.poisson(1, nb)
    z = y + r.poisson(1, nb)
    rows = [
        ("u", eid, t0 + timedelta(minutes=b), float(series[b]))
        for eid, series in [(0, x), (1, y), (2, z), (3, np.ones(nb))]
        for b in range(nb)
        if series[b] > 0
    ]
    mdf = spark.createDataFrame(rows, "unit string, eid long, bin timestamp, cnt double")
    edges = pc_edges(mdf, {"u": (t0, nb)}, timedelta(minutes=1), ci_func="fisherz", alpha=0.01)
    got = {(r["src_eid"], r["dst_eid"]) for r in edges.collect()}
    assert got and not any(3 in e for e in got), got
