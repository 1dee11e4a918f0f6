"""Property-based tests (hypothesis) for the round-4 operators, checked
against independent references: pandas ``merge_asof`` for the as-of
join, numpy cumsum for the distributed scan, and algebraic invariants
for chunking.  Spark jobs are slow per example, so each property runs a
small number of generated cases with a fixed deadline-free profile."""

from __future__ import annotations

from collections import Counter
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

PROP = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture,
                           HealthCheck.too_slow],
)


@st.composite
def asof_case(draw):
    keys = ["a", "b", "c"]
    n_l = draw(st.integers(1, 12))
    n_r = draw(st.integers(0, 12))
    # unique (key, ts) pairs on the right (ambiguity is documented out)
    lefts = [
        (i, draw(st.sampled_from(keys)), float(draw(st.integers(0, 50))))
        for i in range(n_l)
    ]
    rpairs = draw(
        st.lists(
            st.tuples(st.sampled_from(keys), st.integers(0, 50)),
            max_size=n_r, unique=True,
        )
    )
    rights = [(k, float(ts), float(j)) for j, (k, ts) in enumerate(rpairs)]
    return lefts, rights


@PROP
@given(asof_case())
def test_asof_join_matches_pandas_merge_asof(spark, case):
    from logdag_spark.operators.temporal import asof_join

    lefts, rights = case
    ldf = spark.createDataFrame(lefts, "tid long, key string, ts double")
    rdf = spark.createDataFrame(rights, "key string, ts double, px double")
    got = {
        r["tid"]: r["px_r"]
        for r in asof_join(ldf, rdf, on="key", value_cols=["px"]).collect()
    }
    lp = pd.DataFrame(lefts, columns=["tid", "key", "ts"]).sort_values("ts")
    rp = pd.DataFrame(rights, columns=["key", "ts", "px"]).sort_values("ts")
    if len(rp):
        want_df = pd.merge_asof(lp, rp, on="ts", by="key", direction="backward")
        want = {
            int(r.tid): (None if pd.isna(r.px) else float(r.px))
            for r in want_df.itertuples()
        }
    else:
        want = {int(t): None for t, _, _ in lefts}
    assert got == want


@PROP
@given(
    st.lists(st.integers(0, 9), min_size=0, max_size=40),
    st.integers(2, 8),
    st.integers(0, 3),
)
def test_chunk_documents_reassembles(spark, tok_ids, chunk, overlap):
    from logdag_spark.operators.text import chunk_documents

    if overlap >= chunk:
        overlap = chunk - 1
    toks = [f"w{t}" for t in tok_ids]
    df = spark.createDataFrame([(1, " ".join(toks))], "doc_id long, text string")
    rows = sorted(
        (r["chunk_id"], r["chunk_text"], r["chunk_n_tok"])
        for r in chunk_documents(df, chunk, overlap).collect()
    )
    if not toks:
        assert rows == []
        return
    stride = chunk - overlap
    # dropping each chunk's first `overlap` tokens (except chunk 0)
    # reassembles the document exactly
    rebuilt = []
    for cid, text, n in rows:
        ts = text.split(" ")
        assert n == len(ts) and n <= chunk
        rebuilt.extend(ts if cid == 0 else ts[overlap:])
    assert rebuilt == toks
    # every chunk starts at its stride offset
    for cid, text, _ in rows:
        assert text.split(" ")[0] == toks[cid * stride]


@PROP
@given(
    st.lists(st.tuples(st.integers(0, 500), st.integers(0, 20)),
             min_size=1, max_size=60, unique_by=lambda t: t[0]),
    st.integers(1, 64),
)
def test_prefix_sum_matches_numpy_cumsum(spark, rows, width):
    from logdag_spark.operators.scan import partitioned_prefix_sum

    df = spark.createDataFrame(rows, "id long, v long")
    got = {
        r["id"]: r["prefix_sum"]
        for r in partitioned_prefix_sum(df, "v", "id", shard_width=width).collect()
    }
    ordered = sorted(rows)
    ids = [i for i, _ in ordered]
    vals = np.array([v for _, v in ordered], dtype=np.int64)
    excl = np.concatenate([[0], np.cumsum(vals)[:-1]])
    assert got == dict(zip(ids, excl.tolist()))


@PROP
@given(
    st.lists(
        st.lists(st.integers(0, 5), min_size=0, max_size=12),
        min_size=1, max_size=8,
    ),
    st.integers(2, 4),
)
def test_remove_dup_spans_matches_pure_python(spark, docs, n):
    """remove_dup_spans vs an independent per-position reference: a
    position is dropped iff some n-gram occurring in >= 2 distinct docs
    starts within [p-n+1, p].  A 6-token alphabet forces cross-doc
    collisions."""
    from logdag_spark.operators.curation import remove_dup_spans

    texts = [(i, " ".join(f"w{t}" for t in toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tok"], r["n_removed"], r["cleaned"])
        for r in remove_dup_spans(df, n=n).collect()
    }

    gram_docs: dict[tuple, set] = {}
    for i, toks in enumerate(docs):
        for p in range(len(toks) - n + 1):
            gram_docs.setdefault(tuple(toks[p : p + n]), set()).add(i)
    want = {}
    for i, toks in enumerate(docs):
        starts = [
            p
            for p in range(len(toks) - n + 1)
            if len(gram_docs[tuple(toks[p : p + n])]) >= 2
        ]
        kept = [
            f"w{t}"
            for p, t in enumerate(toks)
            if not any(s <= p < s + n for s in starts)
        ]
        want[i] = (len(toks), len(toks) - len(kept), " ".join(kept))
    assert got == want


# ------------------------------------------ partition-count invariance
#
# The grouped-map kernels run one task per spark.sql.shuffle.partitions
# partition; their rows must not depend on how many there are.

PROP_KERNEL = settings(PROP, max_examples=4)
T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
SERIES_SCHEMA = (
    "measure string, host string, key string, area string, group string, "
    "ts timestamp, val double"
)


def _rows_at_partitions(spark, build) -> list[Counter]:
    """``build()``'s rows at 1, the session's default and 7 shuffle
    partitions; ``build`` runs after each setting, so it plans anew."""
    default = spark.conf.get("spark.sql.shuffle.partitions")
    out = []
    try:
        for n in ("1", default, "7"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            out.append(Counter(tuple(r) for r in build().collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", default)
    return out


@st.composite
def log_series(draw):
    """Per-series (kind, seed): strictly periodic series are dropped,
    bursty ones keep a Fourier remainder, sparse ones fail sizetest and
    pass raw."""
    kinds = st.sampled_from(["periodic", "bursty", "uniform", "sparse"])
    return draw(st.lists(st.tuples(kinds, st.integers(0, 2**16)),
                         min_size=1, max_size=6))


def _series_rows(case) -> list[tuple]:
    rows = []
    for s, (kind, seed) in enumerate(case):
        r = np.random.default_rng(seed)
        if kind == "periodic":
            period = int(r.integers(60, 1800))
            off = np.arange(int(r.integers(0, period)), 86400, period)
        elif kind == "bursty":
            off = np.concatenate([r.uniform(c - 1800, c + 1800, 60)
                                  for c in r.uniform(3600, 82800, 3)])
        elif kind == "uniform":
            off = r.uniform(0, 86400, int(r.integers(20, 400)))
        else:
            off = r.uniform(0, 86400, int(r.integers(1, 5)))
        rows += [
            ("log_feature", f"h{s % 3}", str(s), "core", "g",
             T0 + timedelta(milliseconds=int(o * 1000)), 1.0)
            for o in off
        ]
    # another measure passes through untouched
    rows.append(("snmp", "h0", "if0", "core", "g", T0, 3.0))
    return rows


@PROP_KERNEL
@given(log_series())
def test_filter_series_rows_independent_of_partition_count(spark, case):
    from logdag_spark.config import PipelineConfig
    from logdag_spark.pipeline.series_filter import filter_series

    routed = spark.createDataFrame(_series_rows(case), SERIES_SCHEMA).cache()
    rng = (T0, T0 + timedelta(hours=24))
    for output in ("weighted", "events"):
        one, default, seven = _rows_at_partitions(
            spark, lambda: filter_series(routed, rng, PipelineConfig(), output=output)
        )
        assert one == default == seven, output
    routed.unpersist()


@st.composite
def pc_units(draw):
    """Units of chained Poisson series, with optional noedge pairs."""
    units = draw(st.lists(st.tuples(st.integers(2, 5), st.integers(0, 2**16)),
                          min_size=1, max_size=3))
    noedge = draw(st.lists(st.tuples(st.integers(0, len(units) - 1),
                                     st.integers(0, 4), st.integers(0, 4)),
                           max_size=3))
    return units, noedge


@PROP_KERNEL
@given(pc_units())
def test_pc_edges_rows_independent_of_partition_count(spark, case):
    from logdag_spark.pipeline.pc import pc_edges

    units, noedge_idx = case
    nb = 300
    rows = []
    for u, (p, seed) in enumerate(units):
        r = np.random.default_rng(seed)
        x = r.poisson(2, nb)
        for eid in range(p):
            rows += [(f"u{u}", eid, T0 + timedelta(minutes=b), float(x[b]))
                     for b in range(nb) if x[b] > 0]
            x = x + r.poisson(1, nb) if r.random() < 0.7 else r.poisson(2, nb)
    mdf = spark.createDataFrame(rows, "unit string, eid long, bin timestamp, cnt double")
    noedge = spark.createDataFrame(
        [(f"u{u}", a, b) for u, a, b in noedge_idx if a != b],
        "unit string, eid1 long, eid2 long",
    )
    meta = {f"u{u}": (T0, nb) for u in range(len(units))}
    for ne in (None, noedge):
        one, default, seven = _rows_at_partitions(
            spark, lambda: pc_edges(mdf, meta, timedelta(minutes=1), noedge=ne)
        )
        assert one == default == seven
