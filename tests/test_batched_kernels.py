"""The batched Python kernels against the one-at-a-time code they
replaced (kept under ``tests/`` as reference oracles): the PC-stable
skeleton that tests a depth level per batch, the running-maximum
``argrelmax``, the ``mapInArrow`` series-filter kernel and the vectorized
depth-0 orientation build."""

from __future__ import annotations

from collections import Counter
from datetime import timedelta
from functools import partial

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pc_reference import (
    ci_test_gsq_scalar,
    orient_depth0_unit_iterrows,
    pc_skeleton_sequential,
)
from pyspark.sql import functions as F
from series_filter_reference import argrelmax_loop, filter_series_grouped

from logdag_spark import fixtures as fx
from logdag_spark.config import PipelineConfig
from logdag_spark.fixtures.generator import DEFAULT_T0
from logdag_spark.pipeline import enrich, parse_tokens_arrow, route
from logdag_spark.pipeline.pc import (
    ci_fisherz_batch,
    ci_gsq_batch,
    ci_test_fisherz,
    orient_depth0_unit,
    pc_skeleton_stable,
)
from logdag_spark.pipeline.series_filter import (
    SeriesFilter,
    argrelmax,
    filter_series,
    series_verdicts,
)

FAST = settings(
    max_examples=150,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
TERM = timedelta(hours=24)
RANGE = (DEFAULT_T0, DEFAULT_T0 + TERM)


# ---------------------------------------------------------------- argrelmax


def test_argrelmax_matches_loop_edge_cases():
    for a in ([], [1.0], [1.0, 2.0], [2.0, 1.0], [1.0, 1.0], [np.nan, 1.0],
              [0, 3, 0], [0, 3, 3, 0], [1, 2, 3, 2, 1]):
        a = np.asarray(a, dtype=float)
        for order in range(0, 6):
            assert np.array_equal(argrelmax(a, order), argrelmax_loop(a, order)), (a, order)


@FAST
@given(
    st.lists(st.sampled_from([0.0, 1.0, 2.0, 3.0, np.nan, np.inf, -np.inf])
             | st.floats(-1e3, 1e3), max_size=60),
    st.integers(0, 70),
)
def test_argrelmax_matches_loop(values, order):
    """Ties, NaN, infinities and windows wider than the array."""
    a = np.asarray(values, dtype=float)
    assert np.array_equal(argrelmax(a, order), argrelmax_loop(a, order))


# -------------------------------------------------------------- PC skeleton


@st.composite
def skeleton_case(draw):
    p = draw(st.integers(2, 7))
    n = draw(st.sampled_from([6, 15, 25, 45, 90, 300]))
    seed = draw(st.integers(0, 2**16))
    ci = draw(st.sampled_from(["gsq", "fisherz"]))
    depth = draw(st.sampled_from([-1, 0, 1, 2, 3]))
    alpha = draw(st.sampled_from([0.01, 0.05, 0.3]))
    forbid = draw(st.lists(st.tuples(st.integers(0, p - 1), st.integers(0, p - 1)),
                           max_size=3))
    return p, n, seed, ci, depth, alpha, forbid


def _chain_data(p, n, seed, binary):
    """Columns that copy, perturb or ignore an earlier column, so that
    tests at every depth both keep and remove edges."""
    r = np.random.default_rng(seed)
    cols = [r.normal(size=n)]
    for _ in range(p - 1):
        src = cols[int(r.integers(0, len(cols)))]
        cols.append(src + r.normal(scale=r.uniform(0.2, 3.0), size=n)
                    if r.random() < 0.7 else r.normal(size=n))
    data = np.column_stack(cols)
    return (data > 0).astype(np.int8) if binary else data


def _logged(ci, log):
    def run(x, y, S):
        pvals = ci(x, y, S)
        for i, j, s, pv in zip(x, y, S, pvals):
            log[(int(i), int(j), tuple(int(v) for v in s))] = float(pv).hex()
        return pvals
    return run


@FAST
@given(skeleton_case())
def test_batched_skeleton_matches_sequential(case):
    """Same tests, bit-equal p-values, same adjacency and sepsets (in the
    same insertion order) as the one-test-at-a-time PC-stable loop."""
    p, n, seed, ci_func, depth, alpha, forbid = case
    data = _chain_data(p, n, seed, binary=ci_func == "gsq")
    init = None
    if forbid:
        init = np.ones((p, p), dtype=bool)
        for k, (a, b) in enumerate(forbid):
            init[a, b] = False
            if k % 2 == 0:  # the others forbid one orientation only
                init[b, a] = False
    if ci_func == "gsq":
        scalar = partial(ci_test_gsq_scalar, data)
        batch = partial(ci_gsq_batch, data)
    else:
        corr = np.nan_to_num(np.corrcoef(data, rowvar=False))
        scalar = partial(ci_test_fisherz, corr, n)
        batch = partial(ci_fisherz_batch, corr, n)
    want_log, got_log = {}, {}

    def scalar_logged(i, j, S):
        pv = scalar(i, j, S)
        want_log[(int(i), int(j), tuple(int(v) for v in S))] = float(pv).hex()
        return pv

    want_adj, want_sep = pc_skeleton_sequential(p, scalar_logged, alpha, init, depth)
    got_adj, got_sep = pc_skeleton_stable(p, _logged(batch, got_log), alpha, init, depth)
    assert got_log == want_log
    assert np.array_equal(got_adj, want_adj)
    assert list(got_sep.items()) == [
        ((int(i), int(j)), tuple(int(v) for v in S)) for (i, j), S in want_sep.items()
    ]


def test_gsq_small_sample_rule_holds_per_batch():
    """n < 10·dof: every test of the batch keeps its edge (p = 0)."""
    data = np.zeros((15, 4), dtype=np.int8)
    pv = ci_gsq_batch(data, np.array([0, 1]), np.array([1, 2]), np.array([[2], [3]]))
    assert pv.tolist() == [0.0, 0.0]


def test_gsq_rejects_non_binary_data():
    """Counts above 1 would index another test's table in the batch."""
    from logdag_spark.pipeline.pc import estimate_dag_matrix

    mat = np.array([[0, 2, 1], [1, 0, 1], [1, 1, 0]] * 10, dtype=float)
    with pytest.raises(ValueError, match="binary"):
        estimate_dag_matrix(mat, "gsq", binarize=False)
    estimate_dag_matrix(mat, "gsq")  # binarized by default


# ----------------------------------------------------------- depth-0 orient


def test_orient_depth0_unit_matches_iterrows():
    r = np.random.default_rng(5)
    for trial in range(30):
        m = int(r.integers(1, 40))
        src = r.integers(0, 12, m) * 7
        dst = r.integers(0, 12, m) * 7
        keep = src != dst
        edf = pd.DataFrame({
            "unit": "u",
            "src_eid": src[keep].astype(np.int64),
            "dst_eid": dst[keep].astype(np.int64),
            "directed": False,
            "weight": r.normal(size=int(keep.sum())),
        })
        if len(edf) == 0:
            continue
        if trial % 3 == 0:  # a repeated pair, reversed, with its own weight
            dup = edf.iloc[[0]].rename(columns={"src_eid": "dst_eid", "dst_eid": "src_eid"})
            edf = pd.concat([edf, dup.assign(weight=9.0)], ignore_index=True)
        pd.testing.assert_frame_equal(
            orient_depth0_unit(edf), orient_depth0_unit_iterrows(edf)
        )


# ----------------------------------------------------------- series filter


def test_series_verdicts_empty_partition():
    sf = SeriesFilter(PipelineConfig(), TERM)
    run = partial(series_verdicts, sf=sf, t0_ms=0, term_s=TERM.total_seconds(),
                  weighted=False)
    assert list(run(iter([]))) == []
    empty = pa.RecordBatch.from_pydict(
        {c: pa.array([], pa.string()) for c in ("measure", "host", "key", "area", "group")}
        | {"boff": pa.array([], pa.int64()), "w": pa.array([], pa.float64()),
           "mn": pa.array([], pa.float64()), "mx": pa.array([], pa.float64())}
    )
    assert list(run(iter([empty, empty]))) == []


@pytest.fixture(scope="module")
def routed_log(spark):
    tdim, hmeta = fx.template_dim(spark), fx.host_meta(spark)
    df = fx.gen_tokens(spark, scale=0.3)
    routed = route(enrich(parse_tokens_arrow(fx.contract(df), tdim), hmeta, tdim))
    return routed.where(F.col("measure") != "unparsed").localCheckpoint(eager=True)


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


@pytest.mark.parametrize("output", ["events", "weighted"])
def test_arrow_series_kernel_matches_grouped_kernel(spark, routed_log, output):
    """Tiny Arrow batches make series straddle batches; 29 partitions over
    a few series leave some partitions empty."""
    conf = {"spark.sql.execution.arrow.maxRecordsPerBatch": "7",
            "spark.sql.shuffle.partitions": "29"}
    old = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        few = routed_log.where(F.col("key").isin("0", "1", "20", "21", "3"))
        for routed in (routed_log, few):
            want = _rows(filter_series_grouped(routed, RANGE, PipelineConfig(), output=output))
            got = _rows(filter_series(routed, RANGE, PipelineConfig(), output=output))
            assert got == want and sum(want.values()) > 0
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
