"""Stage 3.5 — per-series preprocessing filters (W9-W15).

Fresh implementations of the reference's log-event filters
(/root/reference/logdag/source/filter_log.py:81-201, numeric kernels in
/root/reference/logdag/source/period.py):

* ``sizetest``        — skip tiny/short series (filter_log.py:81-87);
  on failure the series keeps its RAW events and later rules are skipped.
* ``filter_periodic`` — Fourier test; if periodic, zero the low-spectrum
  frequencies, subtract the median-valued periodic component and keep the
  remainder (period.py:26-38, :72-93).
* ``remove_periodic`` — Fourier test only; drop series if periodic
  (period.py:16-23).
* ``remove_corr``     — autocorrelation at 1h/1d lags (period.py:104-136).
* ``remove_linear``   — drop series whose cumulative-count curve is close
  to a straight line (filter_log.py:162-185).

All rules for one series run inside a single ``applyInPandas`` grouped-map
kernel over (measure, host, key) — one shuffle total, numpy-vectorized
inside (scipy is absent; FFT via numpy.fft, ``argrelmax`` re-derived).
At 10^12 rows the group count is |series| x |chunks|, each group small and
independent — ideal executor parallelism, no driver involvement.

Series are represented as (offset_seconds, count) pairs: the reference
reverts the Fourier remainder to ``int(val)`` repeated timestamps at bin
starts (filter_log.py:105-114); we keep the multiplicity as a weight so
downstream rules and the final discretize see identical counts without
materializing repeats.

Known divergence from the reference (documented, intentional): filter_log
``_resize_input`` (filter_log.py:88-100) returns a list of *booleans* when
truncating the sample window — an upstream bug that is unreachable under
the default config (sample length == analysis term).  We implement the
evidently intended timestamp filter.
"""

from __future__ import annotations

import math
from datetime import datetime, timedelta
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logdag_spark.config import PipelineConfig, str2dur, to_utc_ms
from logdag_spark.session import kernel_groups


# ---------------------------------------------------------------- numerics


def argrelmax(a: np.ndarray, order: int) -> np.ndarray:
    """Indices of local maxima: a[i] > a[i±k] for all k=1..order, edges
    clipped (scipy.signal.argrelmax(mode='clip') semantics, used at
    period.py:50 — re-derived, scipy is not available)."""
    n = len(a)
    if n == 0:
        return np.array([], dtype=int)
    ok = np.ones(n, dtype=bool)
    for k in range(1, order + 1):
        plus = np.concatenate([a[k:], np.repeat(a[-1], min(k, n))])[:n]
        minus = np.concatenate([np.repeat(a[0], min(k, n)), a[:-k]])[:n]
        ok &= (a > plus) & (a > minus)
    return np.nonzero(ok)[0]


def fourier_test_periodic(
    data: np.ndarray,
    fdata: np.ndarray,
    binsize_s: float,
    th_spec: float,
    th_eval: float,
    peak_order: int,
) -> tuple[bool, float | None]:
    """Periodicity test on the FFT spectrum (period.py:41-69): collect
    relative-max peaks above ``th_spec * max_spec``, measure the spread
    (std/mean) of successive peak-frequency intervals; periodic when the
    spread < ``th_eval``.  Returns (is_periodic, interval_seconds)."""
    n = len(data)
    half = int(0.5 * n)
    if half <= 1:
        return False, None
    a_label = np.fft.fftfreq(n, d=binsize_s)[1:half]
    a_spec = np.abs(fdata)[1:half]
    if len(a_spec) == 0:
        return False, None
    max_spec = a_spec.max()
    peaks = argrelmax(a_spec, peak_order)

    intervals = []
    prev = 0.0
    for i in peaks:
        if a_spec[i] > th_spec * max_spec:
            intervals.append(a_label[i] - prev)
            prev = a_label[i]
    if not intervals:
        return False, None
    dist = np.array(intervals[:100])
    mean = dist.mean()
    if mean == 0:
        return False, None
    val = dist.std() / mean
    interval = float(int(1.0 / np.median(dist) + 0.5))
    return bool(val < th_eval), interval


def fourier_filtered_remainder(
    data: np.ndarray, fdata: np.ndarray, th_spec: float, th_restore: float
) -> np.ndarray:
    """Subtract the periodic component (period.py:72-93): zero frequencies
    with spectrum <= th_spec*max over the FULL spectrum (DC included in the
    max), ifft, then where the filtered signal clears ``th_restore * max``
    and the raw count is positive, subtract the median raw count."""
    a_spec = np.abs(fdata)
    fd = fdata.copy()
    fd[a_spec <= th_spec * a_spec.max()] = 0j
    data_filtered = np.real(np.fft.ifft(fd))
    thval = th_restore * data_filtered.max()
    periodic_time = (data > 0) & (data_filtered >= thval)
    if not periodic_time.any():
        return data.astype(float)
    periodic_cnt = np.median(data[periodic_time])
    data_periodic = np.zeros(len(data))
    data_periodic[periodic_time] = periodic_cnt
    return data - data_periodic


def self_corr(data: np.ndarray, diff_bin: int) -> float:
    """Autocorrelation at a lag of ``diff_bin`` bins (period.py:119-136)."""
    if len(data) <= diff_bin * 2:
        return 0.0
    d1, d2 = data[: len(data) - diff_bin], data[diff_bin:]
    if d1.std() == 0 or d2.std() == 0:
        return 0.0
    return float(np.corrcoef(d1, d2)[0, 1])


# ------------------------------------------------------------ the kernel


class SeriesFilter:
    """Configured filter chain over one series.

    A series is (off, cnt): float-second offsets from the analysis-range
    start plus per-offset multiplicities.  ``apply`` returns the surviving
    (off, cnt) or None to drop the series.
    """

    def __init__(self, cfg: PipelineConfig, term: timedelta):
        self.rules = cfg.filter_rules
        self.pre_count = cfg.pre_count
        self.pre_term_s = str2dur(cfg.pre_term).total_seconds()
        self.fourier_rules = [
            (str2dur(a).total_seconds(), str2dur(b).total_seconds())
            for a, b in cfg.fourier_sample_rule
        ]
        self.th_spec = cfg.fourier_th_spec
        self.th_eval = cfg.fourier_th_eval
        self.th_restore = cfg.fourier_th_restore
        self.peak_order = cfg.fourier_peak_order
        self.corr_th = cfg.corr_th
        self.corr_diff_s = (3600.0, 86400.0)
        self.linear_bin_s = str2dur(cfg.linear_sample_rule_bin).total_seconds()
        self.linear_th = cfg.linear_th
        self.linear_count = cfg.linear_count
        self.term_s = term.total_seconds()

    def _bin_counts(
        self, off: np.ndarray, cnt: np.ndarray, sample_len_s: float, bin_s: float
    ) -> np.ndarray:
        """Weighted sequential discretize of the (possibly truncated) sample."""
        if sample_len_s < self.term_s:
            keep = off >= self.term_s - sample_len_s
            off, cnt = off[keep], cnt[keep]
        nb = math.ceil(self.term_s / bin_s)
        idx = np.floor(off / bin_s).astype(int)
        ok = (idx >= 0) & (idx < nb)
        return np.bincount(idx[ok], weights=cnt[ok], minlength=nb).astype(float)

    def sizetest(self, off: np.ndarray, cnt: np.ndarray) -> bool:
        if len(off) == 0:
            return False
        return not (
            cnt.sum() < self.pre_count or (off.max() - off.min()) < self.pre_term_s
        )

    def filter_periodic(self, off: np.ndarray, cnt: np.ndarray):
        """None (not periodic) or the reverted (offsets, counts) remainder."""
        for sample_len, bin_s in self.fourier_rules:
            data = self._bin_counts(off, cnt, sample_len, bin_s)
            fdata = np.fft.fft(data)
            is_per, _ = fourier_test_periodic(
                data, fdata, bin_s, self.th_spec, self.th_eval, self.peak_order
            )
            if is_per:
                remain = fourier_filtered_remainder(
                    data, fdata, self.th_spec, self.th_restore
                ).astype(int)
                keep = np.nonzero(remain >= 1)[0]
                return keep * bin_s, remain[keep].astype(float)
        return None

    def remove_periodic(self, off: np.ndarray, cnt: np.ndarray) -> bool:
        for sample_len, bin_s in self.fourier_rules:
            data = self._bin_counts(off, cnt, sample_len, bin_s)
            is_per, _ = fourier_test_periodic(
                data, np.fft.fft(data), bin_s, self.th_spec, self.th_eval,
                self.peak_order,
            )
            if is_per:
                return True
        return False

    def remove_corr(self, off: np.ndarray, cnt: np.ndarray) -> bool:
        for sample_len, bin_s in self.fourier_rules:
            data = self._bin_counts(off, cnt, sample_len, bin_s)
            best = max(self_corr(data, int(d / bin_s)) for d in self.corr_diff_s)
            if best >= self.corr_th:
                return True
        return False

    def remove_linear(self, off: np.ndarray, cnt: np.ndarray) -> bool:
        total = cnt.sum()
        if total < self.linear_count:
            return False
        bins = math.ceil(self.term_s / self.linear_bin_s)
        idx = np.clip(np.floor(off / self.linear_bin_s).astype(int), 0, bins - 1)
        # cumulative count curve vs the straight line (filter_log.py:171-178)
        a_stat = np.cumsum(np.bincount(idx, weights=cnt, minlength=bins))
        a_linear = np.linspace(0, total, bins, endpoint=False)
        val = ((a_stat - a_linear) ** 2).sum() / (bins * total)
        return bool(val < self.linear_th)

    def apply(self, off: np.ndarray, cnt: np.ndarray | None = None):
        """Full chain (filter_log.py:187-201)."""
        order = np.argsort(off)
        off = off[order]
        cnt = np.ones(len(off)) if cnt is None else cnt[order]
        raw = (off, cnt)
        cur_off, cur_cnt = off, cnt
        for rule in self.rules:
            if rule == "sizetest":
                if not self.sizetest(cur_off, cur_cnt):
                    return raw  # sizetest failure keeps raw, skips the rest
            elif rule == "filter_periodic":
                res = self.filter_periodic(cur_off, cur_cnt)
                if res is not None:
                    cur_off, cur_cnt = res
                    if len(cur_off) == 0:
                        return None
            elif rule == "remove_periodic":
                if self.remove_periodic(cur_off, cur_cnt):
                    return None
            elif rule == "remove_corr":
                if self.remove_corr(cur_off, cur_cnt):
                    return None
            elif rule == "remove_linear":
                if self.remove_linear(cur_off, cur_cnt):
                    return None
            else:
                raise ValueError(f"unknown filter rule {rule!r}")
        return cur_off, cur_cnt

    def apply_binned(
        self,
        boff: np.ndarray,
        w: np.ndarray,
        raw_total: float,
        raw_span: float,
    ) -> tuple[str, tuple[np.ndarray, np.ndarray] | None]:
        """Chain over a fine-binned series; exact twin of :meth:`apply`.

        Input is the series pre-aggregated to fine bins whose size divides
        every rule's bin size and sample boundary (see
        :func:`fine_bin_ms`), plus the RAW total count and offset span —
        the only two statistics any rule reads at sub-bin resolution
        (``sizetest``).  Every other rule consumes ``_bin_counts`` output,
        which is bit-identical on fine-binned input because
        ``floor(floor(off/f)*f / B) == floor(off/B)`` when ``f | B`` and
        sample-truncation boundaries are multiples of ``f``.

        Returns (verdict, payload): ``("raw", None)`` — series passes with
        its raw events; ``("drop", None)``; ``("replace", (off, cnt))`` —
        the Fourier remainder replaced the series.
        """
        cur_off, cur_cnt = boff, w
        is_raw = True
        for rule in self.rules:
            if rule == "sizetest":
                if is_raw:
                    ok = not (raw_total < self.pre_count or raw_span < self.pre_term_s)
                else:
                    ok = self.sizetest(cur_off, cur_cnt)
                if not ok:
                    return "raw", None  # keep raw events, skip later rules
            elif rule == "filter_periodic":
                res = self.filter_periodic(cur_off, cur_cnt)
                if res is not None:
                    cur_off, cur_cnt = res
                    is_raw = False
                    if len(cur_off) == 0:
                        return "drop", None
            elif rule == "remove_periodic":
                if self.remove_periodic(cur_off, cur_cnt):
                    return "drop", None
            elif rule == "remove_corr":
                if self.remove_corr(cur_off, cur_cnt):
                    return "drop", None
            elif rule == "remove_linear":
                if self.remove_linear(cur_off, cur_cnt):
                    return "drop", None
            else:
                raise ValueError(f"unknown filter rule {rule!r}")
        if is_raw:
            return "raw", None
        return "replace", (cur_off, cur_cnt)


SERIES_COLS = ("measure", "host", "key", "area", "group")
_ROW_SCHEMA = (
    "measure string, host string, key string, area string, "
    "group string, ts timestamp, val double"
)
_VERDICT_SCHEMA = (
    "measure string, host string, key string, area string, "
    "group string, verdict string, ts timestamp, val double"
)


def _naive(t0: datetime) -> pd.Timestamp:
    ts = pd.Timestamp(t0)
    return ts.tz_localize(None) if ts.tzinfo else ts


def fine_bin_ms(cfg: PipelineConfig, term: timedelta) -> int | None:
    """Largest bin (ms) at which pre-aggregated input is EXACTLY
    equivalent to raw input for the configured filter chain: the gcd of
    every rule's bin size and every Fourier sample-truncation boundary.
    None when some duration isn't an integral number of milliseconds
    (never under the reference's config grammar)."""
    term_ms = int(term.total_seconds() * 1000)
    vals: list[float] = []
    rules = set(cfg.filter_rules)
    if rules & {"filter_periodic", "remove_periodic", "remove_corr"}:
        for sample, bin_s in cfg.fourier_sample_rule:
            vals.append(str2dur(bin_s).total_seconds() * 1000)
            boundary = term_ms - str2dur(sample).total_seconds() * 1000
            if boundary > 0:
                vals.append(boundary)
    if "remove_linear" in rules:
        vals.append(str2dur(cfg.linear_sample_rule_bin).total_seconds() * 1000)
    if not vals:
        return 1000
    ivals = [int(v) for v in vals]
    if any(i != v or i <= 0 for i, v in zip(ivals, vals)):
        return None
    g = 0
    for i in ivals:
        g = math.gcd(g, i)
    return g


def weighted_output_ok(
    cfg: PipelineConfig, dt_range: tuple[datetime, datetime]
) -> bool:
    """True when ``filter_series(..., output="weighted")`` is exactly
    equivalent to raw passthrough + discretize: the fine bin must divide
    the analysis term (so in-range at bin level == in-range at raw level)
    and every downstream bin boundary (t0-anchored, aggregate.discretize).
    """
    f = fine_bin_ms(cfg, dt_range[1] - dt_range[0])
    if f is None:
        return False
    term_ms = int((dt_range[1] - dt_range[0]).total_seconds() * 1000)
    size = int(cfg.bin_size.total_seconds() * 1000)
    slide = int(cfg.bin_diff.total_seconds() * 1000)
    if term_ms % f or size % f:
        return False
    if cfg.ci_bin_method == "sequential":
        return True
    if cfg.ci_bin_method == "slide":
        return slide % f == 0
    if cfg.ci_bin_method == "radius":
        return slide % f == 0 and (slide // 2) % f == 0 and (size // 2) % f == 0
    return False


def filter_series(
    routed: DataFrame,
    dt_range: tuple[datetime, datetime],
    cfg: PipelineConfig,
    measures: Iterable[str] = ("log_feature",),
    output: str = "events",
    catalog=None,
) -> DataFrame:
    """Apply the filter chain per (measure, host, key) series.

    Rows of other measures pass through untouched (the reference filters
    only log events, /root/reference/logdag/source/evgen_log.py:147; SNMP
    series go through the evpost feature functions instead —
    ``operators/windows.py``).

    Scale shape: the raw event stream NEVER crosses into Python.  Events
    are pre-aggregated JVM-side to the fine bin (:func:`fine_bin_ms`, 10 s
    under the default config) with map-side partial aggregation — one
    shuffle carrying at most |series| x |fine bins| rows — and the grouped
    kernel sees only those weighted bins plus exact raw (count, span)
    stats.  Equivalence to the raw-exchange form is exact (see
    :meth:`SeriesFilter.apply_binned`) and covered by tests against
    :func:`filter_series_rows`.

    ``output="events"``: surviving series keep their RAW rows (a broadcast
    semi-join of the tiny keep-list against the event stream); Fourier
    remainders come back as bin-start rows — byte-identical to the raw
    kernel.  ``output="weighted"``: ALL surviving series return as
    weighted fine-bin rows (ts at bin starts, val = bin count) — identical
    downstream *aggregates* whenever :func:`weighted_output_ok`; used by
    the pipeline so the post-filter stream entering discretize is
    |series| x |fine bins| instead of the raw event count.
    """
    if output not in ("events", "weighted"):
        raise ValueError(f"unknown output mode {output!r}")
    term = dt_range[1] - dt_range[0]
    fine = fine_bin_ms(cfg, term)
    if fine is None:
        if output != "events":
            raise ValueError("weighted output needs integral-ms rule bins")
        return filter_series_rows(routed, dt_range, cfg, measures)

    t0_ms = to_utc_ms(dt_range[0])
    term_s = term.total_seconds()
    sf = SeriesFilter(cfg, term)
    measures = list(measures)
    t0_naive = _naive(dt_range[0])
    weighted = output == "weighted"

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("boff")
        boff = pdf["boff"].to_numpy(dtype="int64") / 1000.0
        w = pdf["w"].to_numpy(dtype=float)
        verdict, repl = sf.apply_binned(
            boff, w, float(w.sum()), float(pdf["mx"].max() - pdf["mn"].min())
        )
        head = pdf.iloc[0]
        if verdict == "drop":
            out_off = out_cnt = np.array([])
        elif verdict == "raw":
            if not weighted:
                return pd.DataFrame(
                    {
                        "measure": [head["measure"]],
                        "host": [head["host"]],
                        "key": [head["key"]],
                        "area": [head["area"]],
                        "group": [head["group"]],
                        "verdict": ["raw"],
                        "ts": [pd.NaT],
                        "val": [np.nan],
                    }
                )
            keep = (boff >= 0) & (boff < term_s)
            out_off, out_cnt = boff[keep], w[keep]
        else:
            out_off, out_cnt = repl
        return pd.DataFrame(
            {
                "measure": head["measure"],
                "host": head["host"],
                "key": head["key"],
                "area": head["area"],
                "group": head["group"],
                "verdict": "replace",
                "ts": t0_naive + pd.to_timedelta(out_off, unit="s"),
                "val": out_cnt,
            }
        )

    target = routed.where(routed["measure"].isin(measures))
    rest = routed.where(~routed["measure"].isin(measures))
    off_ms = F.unix_millis(F.col("ts")) - F.lit(t0_ms)
    boff = (off_ms - F.pmod(off_ms, F.lit(fine))).alias("boff")
    pre = target.groupBy(*SERIES_COLS, boff).agg(
        F.sum("val").alias("w"),
        (F.min(off_ms) / 1000.0).alias("mn"),
        (F.max(off_ms) / 1000.0).alias("mx"),
    )
    out = kernel_groups(pre, *SERIES_COLS).applyInPandas(kernel, _VERDICT_SCHEMA)
    if weighted:
        return out.drop("verdict").unionByName(rest)
    # the verdict frame is consumed twice (raw keys + replaced rows) —
    # materialize once.  Through the catalog it lands on disk (heap
    # stays flat across repeated invocations); the cache fallback pins
    # executor memory until the session clears it, so long-lived
    # sessions calling events-mode repeatedly should pass a catalog.
    if catalog is not None:
        out = catalog.write(out, "series_verdicts", stage="series_verdicts")
    else:
        out = out.cache()  # tiny: one row per raw-kept series + remainder bins
    raw_keys = out.where(F.col("verdict") == "raw").select(*SERIES_COLS)
    kept_raw = target.join(F.broadcast(raw_keys), list(SERIES_COLS), "left_semi")
    replaced = out.where(F.col("verdict") == "replace").drop("verdict")
    return kept_raw.unionByName(replaced).unionByName(rest)


def filter_series_rows(
    routed: DataFrame,
    dt_range: tuple[datetime, datetime],
    cfg: PipelineConfig,
    measures: Iterable[str] = ("log_feature",),
) -> DataFrame:
    """Raw-exchange reference form: ship every event row of the target
    measures through Arrow into the per-series kernel.  Semantically the
    oracle for :func:`filter_series`; O(|events|) Python exchange, so the
    pipeline uses the pre-binned form instead."""
    t0 = dt_range[0]
    sf = SeriesFilter(cfg, dt_range[1] - dt_range[0])
    measures = list(measures)
    t0_naive = _naive(t0)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        off = (pdf["ts"] - t0_naive).dt.total_seconds().to_numpy()
        res = sf.apply(off, pdf["val"].to_numpy())
        if res is None:
            return pdf.iloc[0:0]
        new_off, new_cnt = res
        head = pdf.iloc[0]
        return pd.DataFrame(
            {
                "measure": head["measure"],
                "host": head["host"],
                "key": head["key"],
                "area": head["area"],
                "group": head["group"],
                "ts": t0_naive + pd.to_timedelta(new_off, unit="s"),
                "val": new_cnt,
            }
        )

    target = routed.where(routed["measure"].isin(measures))
    rest = routed.where(~routed["measure"].isin(measures))
    filtered = target.groupBy("measure", "host", "key").applyInPandas(
        kernel, _ROW_SCHEMA
    )
    return filtered.unionByName(rest)
