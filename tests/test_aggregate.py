"""Discretize semantics vs an independent pure-Python oracle.

The oracle reimplements the reference's bin definitions from the spec
(half-open [t0 + i*step, t0 + i*step + size) anchored at range start;
radius centers at t0 + slide/2 + i*slide — /root/reference/logdag/
dtutil.py:162-199) without using Spark, so the two paths share no code.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from logdag_spark.pipeline.aggregate import (
    binarize,
    discretize,
    fill_bins,
    n_bins,
    rebin,
)

T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
RANGE = (T0, T0 + timedelta(minutes=30))


def oracle_bins(dt_range, size, method, slide=None):
    t0, end = dt_range
    slide = slide or size
    out = []
    if method in ("sequential", "slide"):
        step = size if method == "sequential" else slide
        cur = t0
        while cur < end:
            out.append((cur, cur, cur + size))
            cur += step
    else:  # radius
        cur = t0 + slide / 2
        radius = size / 2
        while cur < end:
            out.append((cur, cur - radius, cur + radius))
            cur += slide
    return out


def oracle_counts(times, dt_range, size, method, slide=None):
    bins = oracle_bins(dt_range, size, method, slide)
    counts = {}
    for t in times:
        if not (dt_range[0] <= t < dt_range[1]):
            continue
        for label, lo, hi in bins:
            if lo <= t < hi:
                counts[label] = counts.get(label, 0) + 1
    return counts


@pytest.fixture(scope="module")
def events(spark):
    # awkward offsets incl. exact boundaries
    offsets = [0, 59.999, 60.0, 61, 125, 125, 300, 899.5, 900, 1799.999, 1800, -5, 30*60]
    rows = [
        ("m", "h", "k", T0 + timedelta(seconds=s), 1.0) for s in offsets
    ]
    return spark.createDataFrame(
        rows, "measure string, host string, key string, ts timestamp, val double"
    ).cache()


@pytest.mark.parametrize(
    "method,size,slide",
    [
        ("sequential", timedelta(minutes=1), None),
        ("sequential", timedelta(minutes=7), None),
        ("slide", timedelta(minutes=5), timedelta(minutes=2)),
        ("slide", timedelta(seconds=90), timedelta(seconds=60)),
        ("radius", timedelta(minutes=4), timedelta(minutes=2)),
        ("radius", timedelta(seconds=120), timedelta(seconds=45)),
    ],
)
def test_discretize_vs_oracle(spark, events, method, size, slide):
    got = {
        r["bin"].replace(tzinfo=timezone.utc): r["cnt"]
        for r in discretize(events, RANGE, size, method, slide).collect()
    }
    times = [r["ts"].replace(tzinfo=timezone.utc) for r in events.collect()]
    want = oracle_counts(times, RANGE, size, method, slide)
    assert got == {k: float(v) for k, v in want.items()}
    assert n_bins(RANGE, size, method, slide) == len(oracle_bins(RANGE, size, method, slide))


def test_fill_bins_and_binarize(spark, events):
    size = timedelta(minutes=5)
    b = discretize(events, RANGE, size)
    filled = fill_bins(b, RANGE, size)
    assert filled.count() == n_bins(RANGE, size)
    assert filled.where(F.col("cnt") == 0).count() > 0
    bz = binarize(filled)
    vals = {r["cnt"] for r in bz.select("cnt").distinct().collect()}
    assert vals <= {0.0, 1.0}


def test_rebin(spark, events):
    fine = discretize(events, RANGE, timedelta(minutes=1))
    coarse = rebin(fine, RANGE, timedelta(minutes=10))
    direct = discretize(events, RANGE, timedelta(minutes=10))
    got = {(r["bin"], r["cnt"]) for r in coarse.collect()}
    want = {(r["bin"], r["cnt"]) for r in direct.collect()}
    assert got == want


def test_bin_size_in_whole_ms_is_exact():
    """A whole-ms bin is used as written: ``int(1.001 * 1000)`` is 1000,
    which made 10 bins of 1.001 s count as 11."""
    from logdag_spark.config import PipelineConfig

    size = PipelineConfig(ci_bin_size="1.001s").bin_size
    assert n_bins((T0, T0 + 10 * size), size) == 10


def test_to_utc_ms_ignores_driver_local_timezone():
    """Naive datetimes are UTC by convention: the bin origin must not
    shift when the driver runs in a non-UTC timezone (review finding)."""
    import os
    import time as _time
    from datetime import datetime, timezone

    from logdag_spark.config import to_utc_ms

    naive = datetime(2024, 1, 1)
    aware = datetime(2024, 1, 1, tzinfo=timezone.utc)
    old = os.environ.get("TZ")
    os.environ["TZ"] = "Asia/Tokyo"
    _time.tzset()
    try:
        assert to_utc_ms(naive) == to_utc_ms(aware) == 1704067200000
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        _time.tzset()
