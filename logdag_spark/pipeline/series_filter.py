"""Stage 3.5 — per-series preprocessing filters (W9-W15).

Fresh implementations of the reference's log-event filters
(/root/reference/logdag/source/filter_log.py:81-201, numeric kernels in
/root/reference/logdag/source/period.py):

* ``sizetest``        — skip tiny/short series (filter_log.py:81-87);
  on failure the series keeps its RAW events and later rules are skipped.
* ``filter_periodic`` — Fourier test; if periodic, zero the low-spectrum
  frequencies, subtract the median-valued periodic component and keep the
  remainder (period.py:26-38, :72-93).
* ``remove_periodic`` — the same Fourier test; drop the series if periodic
  (period.py:16-23).
* ``remove_corr``     — autocorrelation at 1h/1d lags (period.py:104-136).
* ``remove_linear``   — drop series whose cumulative-count curve is close
  to a straight line (filter_log.py:162-185).

The program has one rule chain, :meth:`SeriesFilter.apply`, and one Spark
form of it, :func:`filter_series`.  Events are pre-aggregated JVM-side to
the fine bin (:func:`fine_bin_ms`), the rows are hash-partitioned by
series and sorted by (series, bin offset), and a ``mapInArrow`` kernel
walks each Arrow batch series by series, carrying a series that
straddles two batches over to the next — one shuffle total, one Python
call per batch rather than per series, numpy-vectorized inside (scipy is
absent; FFT via numpy.fft, ``argrelmax`` re-derived as an O(n) running
maximum).  The chain over raw events and the raw-exchange Spark form that
ships every event to Python are the oracles in
``tests/series_filter_reference.py``; the chain on fine bins reproduces
them exactly.

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
from functools import partial
from typing import Iterable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    DoubleType, StringType, StructField, StructType, TimestampType,
)

from logdag_spark.config import PipelineConfig, dur_ms, str2dur, to_utc_ms
from logdag_spark.session import kernel_partitions


# ---------------------------------------------------------------- numerics


def argrelmax(a: np.ndarray, order: int) -> np.ndarray:
    """Indices of local maxima: a[i] > a[i±k] for all k=1..order, edges
    clipped (scipy.signal.argrelmax(mode='clip') semantics, used at
    period.py:50 — re-derived, scipy is not available).

    Compares each point with the maxima of its left and right windows,
    taken by one O(n) running-maximum pass over the edge-padded array
    (van Herk / Gil-Werman).  A window wider than the array holds no more
    values than the whole clipped side, so ``order`` is capped at n; a
    NaN in a window propagates through the maximum and fails the test,
    as it fails every comparison."""
    n = len(a)
    if n == 0:
        return np.array([], dtype=int)
    if order < 1:
        return np.arange(n)
    w = min(order, n)
    padded = np.pad(a, w, mode="edge")
    wmax = _window_max(padded, w)
    # window of a[i-w .. i-1] starts at padded[i], of a[i+1 .. i+w] at i+w+1
    return np.nonzero((a > wmax[:n]) & (a > wmax[w + 1 : w + 1 + n]))[0]


def _window_max(x: np.ndarray, w: int) -> np.ndarray:
    """max(x[s : s + w]) for every start s: per block of w, the running
    maximum from the left and from the right; a window spans the tail of
    one block and the head of the next."""
    m = len(x)
    blocks = -(-m // w)
    x = np.pad(x, (0, blocks * w - m), mode="edge").reshape(blocks, w)
    head = np.maximum.accumulate(x, axis=1).ravel()
    tail = np.maximum.accumulate(x[:, ::-1], axis=1)[:, ::-1].ravel()
    return np.maximum(tail[: m - w + 1], head[w - 1 : m])


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
    start plus per-offset multiplicities.  :meth:`apply` runs the chain
    over a series summed into fine bins.
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

    def apply(
        self,
        boff: np.ndarray,
        w: np.ndarray,
        raw_total: float,
        raw_span: float,
    ) -> tuple[str, tuple[np.ndarray, np.ndarray] | None]:
        """The chain (filter_log.py:187-201) over one fine-binned series.

        Input is the series pre-aggregated to fine bins whose size divides
        every rule's bin size and sample boundary (see
        :func:`fine_bin_ms`), plus the RAW total count and offset span —
        the only two statistics any rule reads at sub-bin resolution
        (``sizetest``).  Every other rule consumes ``_bin_counts`` output,
        which is the same on fine-binned input as on raw events because
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
                if self.filter_periodic(cur_off, cur_cnt) is not None:
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
_VERDICT_SCHEMA = StructType(
    [StructField(c, StringType()) for c in (*SERIES_COLS, "verdict")]
    + [StructField("ts", TimestampType()), StructField("val", DoubleType())]
)
_VERDICT_ARROW = to_arrow_schema(_VERDICT_SCHEMA)


def series_verdicts(
    batches: Iterator[pa.RecordBatch],
    sf: SeriesFilter,
    t0_ms: int,
    term_s: float,
    weighted: bool,
) -> Iterator[pa.RecordBatch]:
    """The filter chain over one partition of fine-binned series rows
    (SERIES_COLS, boff, w, mn, mx), sorted by series and ``boff``; at
    most one verdict batch out per batch in.

    Every series but a batch's last is complete.  The last one's rows
    carry over to the next batch, so a series that straddles batches is
    judged whole, and only one series is ever held back."""
    carry = None
    for batch in batches:
        tab = pa.Table.from_batches([batch])
        if carry is not None:
            tab = pa.concat_tables([carry, tab])
        if tab.num_rows == 0:
            continue
        starts = _series_starts(tab)
        out = _verdict_batch(tab, starts[:-1], sf, t0_ms, term_s, weighted)
        carry = tab.slice(starts[-2])
        if out is not None:
            yield out
    if carry is not None:
        out = _verdict_batch(
            carry, [0, carry.num_rows], sf, t0_ms, term_s, weighted
        )
        if out is not None:
            yield out


def _series_starts(tab: pa.Table) -> np.ndarray:
    """Row index where each series of ``tab`` starts (null-aware key
    change), then ``num_rows``."""
    n = tab.num_rows
    new = np.zeros(n + 1, dtype=bool)
    new[0] = new[n] = True
    for c in SERIES_COLS:
        col = tab.column(c)
        a, b = col.slice(0, n - 1), col.slice(1)
        differs = pc.or_kleene(
            pc.not_equal(a, b), pc.xor(pc.is_null(a), pc.is_null(b))
        )
        new[1:n] |= pc.fill_null(differs, False).to_numpy(zero_copy_only=False)
    return np.nonzero(new)[0]


def _verdict_batch(
    tab: pa.Table,
    bounds: np.ndarray | list[int],
    sf: SeriesFilter,
    t0_ms: int,
    term_s: float,
    weighted: bool,
) -> pa.RecordBatch | None:
    """Verdict rows of the series ``tab[bounds[k]:bounds[k+1]]``: one
    ``raw`` row (events mode) or the series' ``replace`` rows, stamped at
    bin starts; None when every series is dropped."""
    boff_ms = tab.column("boff").to_numpy()
    w = tab.column("w").to_numpy()
    mn = tab.column("mn").to_numpy()
    mx = tab.column("mx").to_numpy()
    head, verdict, ms, val = [], [], [], []
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        boff, wk = boff_ms[lo:hi] / 1000.0, w[lo:hi]
        verdict_k, repl = sf.apply(
            boff, wk, float(wk.sum()), float(mx[lo:hi].max() - mn[lo:hi].min())
        )
        if verdict_k == "drop":
            continue
        if verdict_k == "raw" and not weighted:
            out_ms, out_val, kind = np.zeros(1, np.int64), np.zeros(1), "raw"
        elif verdict_k == "raw":
            keep = (boff >= 0) & (boff < term_s)
            out_ms, out_val, kind = boff_ms[lo:hi][keep], wk[keep], "replace"
        else:
            off, out_val = repl
            out_ms, kind = np.rint(off * 1000.0).astype(np.int64), "replace"
        head.append(np.full(len(out_ms), lo))
        verdict += [kind] * len(out_ms)
        ms.append(out_ms)
        val.append(out_val)
    if not head:
        return None
    null = np.array(verdict) == "raw"  # the raw verdict row has no ts, val
    keys = tab.select(list(SERIES_COLS)).take(pa.array(np.concatenate(head)))
    return pa.RecordBatch.from_arrays(
        [keys.column(c).combine_chunks().cast(pa.string()) for c in SERIES_COLS]
        + [
            pa.array(verdict, pa.string()),
            pa.array((t0_ms + np.concatenate(ms)) * 1000,
                     pa.timestamp("us", tz="UTC"), mask=null),
            pa.array(np.concatenate(val).astype(float), pa.float64(), mask=null),
        ],
        schema=_VERDICT_ARROW,
    )


def fine_bin_ms(cfg: PipelineConfig, term: timedelta) -> int:
    """Largest bin (ms) at which pre-aggregated input is EXACTLY
    equivalent to raw input for the configured filter chain: the gcd of
    every rule's bin size and every Fourier sample-truncation boundary
    (``PipelineConfig`` holds each to a positive whole number of ms)."""
    term_ms = dur_ms(term)
    vals: list[int] = []
    rules = set(cfg.filter_rules)
    if rules & {"filter_periodic", "remove_periodic", "remove_corr"}:
        for sample, bin_s in cfg.fourier_sample_rule:
            vals.append(dur_ms(str2dur(bin_s)))
            boundary = term_ms - dur_ms(str2dur(sample))
            if boundary > 0:
                vals.append(boundary)
    if "remove_linear" in rules:
        vals.append(dur_ms(str2dur(cfg.linear_sample_rule_bin)))
    return math.gcd(*vals) if vals else 1000


def weighted_output_ok(
    cfg: PipelineConfig, dt_range: tuple[datetime, datetime]
) -> bool:
    """True when ``filter_series(..., output="weighted")`` is exactly
    equivalent to raw passthrough + discretize: the fine bin must divide
    the analysis term (so in-range at bin level == in-range at raw level)
    and every downstream bin boundary (t0-anchored, aggregate.discretize).
    """
    f = fine_bin_ms(cfg, dt_range[1] - dt_range[0])
    term_ms = dur_ms(dt_range[1] - dt_range[0])
    size = dur_ms(cfg.bin_size)
    slide = dur_ms(cfg.bin_diff)
    if term_ms % f or size % f:
        return False
    if cfg.ci_bin_method == "sequential":
        return True
    if cfg.ci_bin_method == "slide":
        return slide % f == 0
    # radius
    return slide % f == 0 and (slide // 2) % f == 0 and (size // 2) % f == 0


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
    shuffle carrying at most |series| x |fine bins| rows, partitioned by
    series and sorted by (series, bin offset) — and the ``mapInArrow``
    kernel (:func:`series_verdicts`, one call per partition) sees only
    those weighted bins plus exact raw (count, span) stats.  Equivalence
    to shipping every raw event through the chain is exact (see
    :meth:`SeriesFilter.apply`) and covered by tests against the
    raw-exchange oracle in ``tests/series_filter_reference.py``.

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
    t0_ms = to_utc_ms(dt_range[0])
    kernel = partial(
        series_verdicts, sf=SeriesFilter(cfg, term), t0_ms=t0_ms,
        term_s=term.total_seconds(), weighted=output == "weighted",
    )
    measures = list(measures)

    target = routed.where(routed["measure"].isin(measures))
    rest = routed.where(~routed["measure"].isin(measures))
    off_ms = F.unix_millis(F.col("ts")) - F.lit(t0_ms)
    boff = (off_ms - F.pmod(off_ms, F.lit(fine))).alias("boff")
    pre = target.groupBy(*SERIES_COLS, boff).agg(
        F.sum("val").alias("w"),
        (F.min(off_ms) / 1000.0).alias("mn"),
        (F.max(off_ms) / 1000.0).alias("mx"),
    )
    out = (
        kernel_partitions(pre, *SERIES_COLS)
        .sortWithinPartitions(*SERIES_COLS, "boff")
        .mapInArrow(kernel, _VERDICT_SCHEMA)
    )
    if output == "weighted":
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

