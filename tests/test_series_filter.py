"""Series-filter kernel tests: injected periodic/linear series must be
removed, Poisson-like series must survive (FIXTURES.md golden assertions;
stronger than the reference's edge_cnt > 0 smoke,
/root/reference/tests/test_load.py:86)."""

from __future__ import annotations

from datetime import timedelta

import numpy as np
import pytest
from pyspark.sql import functions as F

from logdag_spark import fixtures as fx
from logdag_spark.config import PipelineConfig
from logdag_spark.fixtures.generator import DEFAULT_T0, LINEAR_GID, PERIODIC_GIDS
from logdag_spark.pipeline import enrich, parse_tokens_arrow, route
from logdag_spark.pipeline.series_filter import (
    SeriesFilter,
    argrelmax,
    filter_series,
    fine_bin_ms,
    self_corr,
)
from series_filter_reference import filter_series_rows, fine_binned

TERM = timedelta(hours=24)
CFG = PipelineConfig()


def _chain(off, cnt=None, **kw):
    """``SeriesFilter.apply`` on the fine-binned series, in the raw
    chain's terms: None when dropped, the raw (off, cnt) when it passes
    raw, else the Fourier remainder."""
    cfg = PipelineConfig(**kw)
    cnt = np.ones(len(off)) if cnt is None else cnt
    verdict, payload = SeriesFilter(cfg, TERM).apply(
        *fine_binned(off, cnt, fine_bin_ms(cfg, TERM))
    )
    if verdict == "drop":
        return None
    return (off, cnt) if verdict == "raw" else payload


def test_argrelmax_basic():
    a = np.array([0, 1, 0, 2, 0, 3, 0], dtype=float)
    assert list(argrelmax(a, 1)) == [1, 3, 5]
    # order=2: a[1]=1 loses to a[3]=2, a[3]=2 loses to a[5]=3; only a[5]
    # beats everything within distance 2 (right edge clipped)
    assert list(argrelmax(a, 2)) == [5]


def test_periodic_series_detected_and_removed():
    off = np.arange(0, 86400, 60, dtype=float)  # strict 60s period
    assert _chain(off, filter_rules=("remove_periodic",)) is None


def test_bursty_series_survives():
    """Bursty (real-log-like) series survive the default chain.  Note the
    reference's Fourier test flags burst-envelope-dominated spectra as
    "periodic" when a single peak clears th_spec (period.py:58-69: one
    interval -> std/mean = 0 < th_eval), so the series may be SHAVED by
    filter_periodic — but never dropped unless the remainder is empty."""
    rng = np.random.default_rng(7)
    centers = rng.uniform(0, 86400, 4)
    off = np.sort(
        np.concatenate([rng.uniform(c - 3600, c + 3600, 100) for c in centers])
    )
    res = _chain(off)
    assert res is not None and res[1].sum() > 0


def test_bursty_untouched_without_fourier():
    rng = np.random.default_rng(7)
    centers = rng.uniform(0, 86400, 4)
    off = np.sort(
        np.concatenate([rng.uniform(c - 3600, c + 3600, 100) for c in centers])
    )
    res = _chain(off, filter_rules=("sizetest", "remove_corr", "remove_linear"))
    assert res is not None
    assert res[1].sum() == len(off)


def test_uniform_rate_series_removed_by_linear():
    rng = np.random.default_rng(7)
    off = np.sort(rng.uniform(0, 86400, 400))
    assert _chain(off, filter_rules=("remove_linear",)) is None


def test_linear_series_removed():
    off = np.linspace(0, 86400, 500, endpoint=False)
    assert _chain(off, filter_rules=("remove_linear",)) is None


def test_sizetest_keeps_raw():
    # perfectly linear but only 3 events -> sizetest fails -> keep raw
    off = np.array([0.0, 40000.0, 80000.0])
    res = _chain(off, filter_rules=("sizetest", "remove_linear"))
    assert res is not None and len(res[0]) == 3


def test_self_corr():
    x = np.tile([5.0, 0.0, 0.0, 0.0], 100)
    assert self_corr(x, 4) > 0.99
    assert self_corr(x, 3) < 0.0
    assert self_corr(np.ones(5), 10) == 0.0


def test_filter_periodic_remainder_keeps_burst():
    """A periodic carpet with one anomalous burst: the Fourier remainder
    must keep (most of) the burst while shaving the carpet."""
    off = np.arange(0, 86400, 60, dtype=float)
    cnt = np.ones(len(off))
    burst_idx = (off >= 43200) & (off < 43200 + 600)
    cnt[burst_idx] = 9.0
    res = _chain(off, cnt, filter_rules=("filter_periodic",))
    assert res is not None
    kept_off, kept_cnt = res
    assert kept_cnt.sum() < cnt.sum()  # periodic part removed
    in_burst = (kept_off >= 43200 - 600) & (kept_off < 43200 + 1200)
    assert kept_cnt[in_burst].sum() >= 0.5 * (9 - 1) * 10  # burst survives


@pytest.mark.slow
def test_pipeline_filters_injected_series(spark):
    tdim, hmeta = fx.template_dim(spark), fx.host_meta(spark)
    df = fx.gen_tokens(spark, scale=0.5)
    routed = route(enrich(parse_tokens_arrow(fx.contract(df), tdim), hmeta, tdim))
    dt_range = (DEFAULT_T0, DEFAULT_T0 + TERM)
    cfg = PipelineConfig()  # default chain: sizetest, filter_periodic, remove_linear
    out = filter_series(
        routed.where(F.col("measure") == "log_feature"), dt_range, cfg
    ).cache()
    kept = {int(r["key"]) for r in out.select("key").distinct().collect()}
    periodic_log = {g for g in PERIODIC_GIDS if g % 6 != 5}
    # strictly periodic series: filter_periodic's remainder is empty -> dropped
    assert not (kept & periodic_log), f"periodic gids survived: {kept & periodic_log}"
    # the linear stream is shaved by filter_periodic to a tiny residue (the
    # reference chain behaves identically: the residue is below linear_count
    # so remove_linear passes it through)
    in_cnt = (
        routed.where((F.col("measure") == "log_feature") & (F.col("key") == str(LINEAR_GID)))
        .count()
    )
    out_cnt = (
        out.where(F.col("key") == str(LINEAR_GID)).agg(F.sum("val")).collect()[0][0]
        or 0
    )
    assert out_cnt <= 0.1 * in_cnt, f"linear gid kept {out_cnt}/{in_cnt} events"
    assert {0, 1, 2} <= kept, "bursty heavy hitters were wrongly dropped"
    assert {20, 21} <= kept, "correlated pair events must survive filtering"


@pytest.fixture(scope="module")
def routed_log(spark):
    tdim, hmeta = fx.template_dim(spark), fx.host_meta(spark)
    df = fx.gen_tokens(spark, scale=0.3)
    routed = route(enrich(parse_tokens_arrow(fx.contract(df), tdim), hmeta, tdim))
    return routed.where(F.col("measure") != "unparsed").localCheckpoint(eager=True)


def test_binned_exchange_matches_raw_exchange(spark, routed_log):
    """The pre-binned fast path must be row-identical to the raw-exchange
    oracle (filter_series_rows) — raw-kept series keep raw timestamps,
    Fourier remainders land on the same bin starts, drops agree."""
    dt_range = (DEFAULT_T0, DEFAULT_T0 + TERM)
    fast = filter_series(routed_log, dt_range, CFG, output="events")
    slow = filter_series_rows(routed_log, dt_range, CFG)
    assert fast.exceptAll(slow).count() == 0
    assert slow.exceptAll(fast).count() == 0


def test_weighted_output_discretize_parity(spark, routed_log):
    """output="weighted" feeds discretize |series| x |fine bins| rows but
    must produce bit-identical binned aggregates."""
    from logdag_spark.pipeline.aggregate import discretize
    from logdag_spark.pipeline.series_filter import weighted_output_ok

    dt_range = (DEFAULT_T0, DEFAULT_T0 + TERM)
    assert weighted_output_ok(CFG, dt_range)
    w = filter_series(routed_log, dt_range, CFG, output="weighted")
    ref = filter_series_rows(routed_log, dt_range, CFG)
    got = discretize(w, dt_range, CFG.bin_size)
    want = discretize(ref, dt_range, CFG.bin_size)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_weighted_output_ok_gates():
    from logdag_spark.pipeline.series_filter import weighted_output_ok

    dt_range = (DEFAULT_T0, DEFAULT_T0 + TERM)
    assert fine_bin_ms(CFG, TERM) == 10_000  # gcd(10s fourier, 10s linear)
    # 15s discretize bin: 10s fine bin doesn't divide it -> not exact
    assert not weighted_output_ok(PipelineConfig(ci_bin_size="15s"), dt_range)
    assert weighted_output_ok(PipelineConfig(ci_bin_size="30s"), dt_range)
    # truncated fourier sample: boundary enters the gcd
    cfg = PipelineConfig(fourier_sample_rule=(("23h", "10s"),))
    assert fine_bin_ms(cfg, TERM) == math_gcd(3600_000, 10_000)


def math_gcd(a, b):
    import math

    return math.gcd(a, b)
