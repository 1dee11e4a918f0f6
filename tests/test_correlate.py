"""Correlate stage: sparse pairwise Pearson vs numpy on dense vectors, and
ground-truth causal-pair recovery through the full slice."""

from __future__ import annotations

from datetime import timedelta

import numpy as np
import pytest
from pyspark.sql import functions as F

from logdag_spark import fixtures as fx
from logdag_spark.config import PipelineConfig
from logdag_spark.fixtures.generator import DEFAULT_T0
from logdag_spark.pipeline import discretize, enrich, parse_tokens, route
from logdag_spark.pipeline.correlate import (
    assign_units,
    event_dim,
    fisherz_edges,
    make_unit_hosts,
    merge_syncevents,
    pairwise_corr,
    unit_matrix,
    unit_nbins_rows,
    unit_specs,
)
from logdag_spark.session import local_frame

DT_RANGE = (DEFAULT_T0, DEFAULT_T0 + timedelta(hours=24))


@pytest.fixture(scope="module")
def slice_outputs(spark):
    cfg = PipelineConfig()
    tdim, hmeta = fx.template_dim(spark), fx.host_meta(spark)
    df = fx.gen_tokens(spark, scale=0.5)
    routed = route(enrich(parse_tokens(fx.contract(df), tdim), hmeta, tdim))
    binned = discretize(
        routed.where(F.col("measure") != "unparsed"), DT_RANGE, timedelta(minutes=5)
    )
    uh = make_unit_hosts(spark, DT_RANGE, cfg, hmeta)
    long = assign_units(binned, uh)
    ed = event_dim(long).cache()
    mat = unit_matrix(long, ed).cache()
    nb = local_frame(
        spark,
        unit_nbins_rows(unit_specs(DT_RANGE, cfg, fx.host_rows()), timedelta(minutes=5)),
        "unit string, n long",
    )
    return ed, mat, nb, uh


def test_sparse_corr_matches_numpy(spark, slice_outputs):
    ed, mat, nb, _ = slice_outputs
    pc = pairwise_corr(mat, nb).toPandas()
    n = nb.collect()[0]["n"]
    pdf = mat.toPandas()
    dense = {}
    bins = sorted(pdf["bin"].unique())
    bin_ix = {b: i for i, b in enumerate(bins)}
    for eid, g in pdf.groupby("eid"):
        v = np.zeros(n)
        for b, c in zip(g["bin"], g["cnt"]):
            v[bin_ix[b]] = c
        dense[eid] = v
    rng = np.random.default_rng(0)
    sample = pc.sample(min(200, len(pc)), random_state=0)
    for _, row in sample.iterrows():
        want = np.corrcoef(dense[row.eid1], dense[row.eid2])[0, 1]
        assert abs(row.r - want) < 1e-9, (row.eid1, row.eid2)


def test_eid_assignment_deterministic(spark, slice_outputs):
    ed, _, _, _ = slice_outputs
    pdf = ed.orderBy("unit", "eid").toPandas()
    for _, g in pdf.groupby("unit"):
        assert list(g["eid"]) == list(range(len(g)))
        assert list(g["identifier"]) == sorted(g["identifier"])


def test_ground_truth_recovery(spark, slice_outputs):
    ed, mat, nb, _ = slice_outputs
    edges = fisherz_edges(pairwise_corr(mat, nb), alpha=0.01)
    e2 = (
        edges.join(
            ed.select("unit", F.col("eid").alias("src_eid"), F.col("host").alias("sh"), F.col("key").alias("sk")),
            ["unit", "src_eid"],
        ).join(
            ed.select("unit", F.col("eid").alias("dst_eid"), F.col("host").alias("dh"), F.col("key").alias("dk")),
            ["unit", "dst_eid"],
        )
    ).where(F.col("sh") == F.col("dh"))
    found = {
        (r["sh"], min(int(r["sk"]), int(r["dk"])), max(int(r["sk"]), int(r["dk"])))
        for r in e2.collect()
    }
    gt = {(r["host"], r["gid_cause"], r["gid_effect"]) for r in fx.ground_truth_edges(spark, 0.5).collect()}
    recovered = len(gt & found) / len(gt)
    assert recovered >= 0.8, f"only {recovered:.0%} of injected causal pairs recovered"


def test_merge_syncevents(spark):
    # two events with identical series on one host merge; distinct stay
    rows = []
    for key, series in [("1", [1.0, 2.0]), ("2", [1.0, 2.0]), ("3", [5.0, 1.0])]:
        for i, c in enumerate(series):
            rows.append(("u", f"h:{key}", "h", key, DEFAULT_T0 + timedelta(minutes=i), c))
    long = spark.createDataFrame(
        rows, "unit string, identifier string, host string, key string, bin timestamp, cnt double"
    )
    ed = event_dim(long)
    mat = unit_matrix(long, ed)
    new_mat, new_dim = merge_syncevents(mat, ed)
    dims = {r["identifier"]: r for r in new_dim.collect()}
    assert "h:1|h:2" in dims and dims["h:1|h:2"]["n_members"] == 2
    assert "h:3" in dims
    assert new_mat.select("eid").distinct().count() == 2


def test_gsq_edges_matches_dense_kernel(spark):
    """Sparse-sufficient-stats G² (correlate.gsq_edges) equals the dense
    marginal contingency computation for every pair, and the dependence
    decision matches pc.ci_test_gsq at |S|=0."""
    from logdag_spark.pipeline.correlate import chi2_crit_1dof, gsq_edges
    from logdag_spark.pipeline.pc import ci_test_gsq

    rng = np.random.default_rng(7)
    n, p = 200, 6
    dense = (rng.random((n, p)) < 0.3).astype(np.int64)
    dense[:, 1] = dense[:, 0]  # a perfectly dependent pair
    rows = [
        ("u", str(j), DEFAULT_T0 + timedelta(minutes=i), 1.0)
        for i in range(n)
        for j in range(p)
        if dense[i, j]
    ]
    mat = spark.createDataFrame(
        rows, "unit string, eid string, bin timestamp, cnt double"
    )
    nb = spark.createDataFrame([("u", n)], "unit string, n long")
    got = {
        (int(r["eid1"]), int(r["eid2"])): r["g2"]
        for r in gsq_edges(mat, nb, alpha=0.01, emit_all=True).collect()
    }
    crit = chi2_crit_1dof(0.01)
    for i in range(p):
        for j in range(i + 1, p):
            # dense marginal G² from the 2x2 table
            x, y = dense[:, i], dense[:, j]
            tab = np.zeros((2, 2))
            for a in (0, 1):
                for b in (0, 1):
                    tab[a, b] = ((x == a) & (y == b)).sum()
            exp = tab.sum(1, keepdims=True) @ tab.sum(0, keepdims=True) / n
            nz = tab > 0
            want = 2.0 * (tab[nz] * np.log(tab[nz] / exp[nz])).sum()
            key = (i, j) if str(i) < str(j) else (j, i)
            assert abs(got[key] - want) < 1e-9, (i, j)
            # decision parity with the grouped-map kernel's CI test
            p_dense = ci_test_gsq(dense, i, j, ())
            assert (got[key] > crit) == (p_dense < 0.01), (i, j)
