"""Reference oracles for the series filter in ``pipeline/series_filter.py``:
the ``argrelmax`` loop with one shifted copy per distance; the rule chain
over raw events (:func:`apply_raw`) and the raw-exchange Spark form that
hands it every event of a series (:func:`filter_series_rows`); and the
grouped-map form of ``filter_series`` that hands the fine-bin chain one
pandas frame per series.  The running-maximum ``argrelmax``, the chain
on fine bins and the ``mapInArrow`` kernel must reproduce these exactly
(``tests/test_batched_kernels.py``, ``tests/test_series_filter.py``,
``tests/test_properties.py``)."""

from __future__ import annotations

import sys
from datetime import datetime
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logdag_spark.config import PipelineConfig, to_utc_ms
from logdag_spark.pipeline.series_filter import (
    SERIES_COLS,
    SeriesFilter,
    _VERDICT_SCHEMA,
    fine_bin_ms,
)
from logdag_spark.session import kernel_groups

# Spark pickles a function of an importable module by reference, and the
# Python workers cannot import this one (tests/ is not on their path), so
# ship the kernels' helpers by value
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def argrelmax_loop(a: np.ndarray, order: int) -> np.ndarray:
    """Indices i with a[i] > a[i±k] for all k=1..order, edges clipped."""
    n = len(a)
    if n == 0:
        return np.array([], dtype=int)
    ok = np.ones(n, dtype=bool)
    for k in range(1, order + 1):
        plus = np.concatenate([a[k:], np.repeat(a[-1], min(k, n))])[:n]
        minus = np.concatenate([np.repeat(a[0], min(k, n)), a[:-k]])[:n]
        ok &= (a > plus) & (a > minus)
    return np.nonzero(ok)[0]


def apply_raw(sf: SeriesFilter, off: np.ndarray, cnt: np.ndarray | None = None):
    """The chain (filter_log.py:187-201) over a raw series: the surviving
    (off, cnt), or None to drop the series."""
    order = np.argsort(off)
    off = off[order]
    cnt = np.ones(len(off)) if cnt is None else cnt[order]
    raw = (off, cnt)
    cur_off, cur_cnt = off, cnt
    for rule in sf.rules:
        if rule == "sizetest":
            if not sf.sizetest(cur_off, cur_cnt):
                return raw  # sizetest failure keeps raw, skips the rest
        elif rule == "filter_periodic":
            res = sf.filter_periodic(cur_off, cur_cnt)
            if res is not None:
                cur_off, cur_cnt = res
                if len(cur_off) == 0:
                    return None
        elif rule == "remove_periodic":
            if sf.filter_periodic(cur_off, cur_cnt) is not None:
                return None
        elif rule == "remove_corr":
            if sf.remove_corr(cur_off, cur_cnt):
                return None
        elif rule == "remove_linear":
            if sf.remove_linear(cur_off, cur_cnt):
                return None
        else:
            raise ValueError(f"unknown filter rule {rule!r}")
    return cur_off, cur_cnt


def fine_binned(off: np.ndarray, cnt: np.ndarray | None, fine_ms: int):
    """``SeriesFilter.apply``'s arguments for one raw series, formed as
    ``filter_series`` forms them: offsets rounded to whole ms, counts
    summed into ``fine_ms`` bins keyed by bin-start offset (s), plus the
    raw total count and offset span."""
    off_ms = np.rint(np.asarray(off, dtype=float) * 1000).astype(np.int64)
    cnt = np.ones(len(off_ms)) if cnt is None else np.asarray(cnt, dtype=float)
    boff_ms, inv = np.unique(off_ms - off_ms % fine_ms, return_inverse=True)
    w = np.bincount(inv, weights=cnt)
    return boff_ms / 1000.0, w, float(w.sum()), off_ms.max() / 1000.0 - off_ms.min() / 1000.0


def _naive(t0: datetime) -> pd.Timestamp:
    ts = pd.Timestamp(t0)
    return ts.tz_localize(None) if ts.tzinfo else ts


def filter_series_rows(
    routed: DataFrame,
    dt_range: tuple[datetime, datetime],
    cfg: PipelineConfig,
    measures: Iterable[str] = ("log_feature",),
) -> DataFrame:
    """Raw-exchange form of ``filter_series``: ship every event row of the
    target measures through Arrow into :func:`apply_raw`, one pandas frame
    per series."""
    sf = SeriesFilter(cfg, dt_range[1] - dt_range[0])
    measures = list(measures)
    t0_naive = _naive(dt_range[0])

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        off = (pdf["ts"] - t0_naive).dt.total_seconds().to_numpy()
        res = apply_raw(sf, off, pdf["val"].to_numpy())
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
        kernel,
        "measure string, host string, key string, area string, "
        "group string, ts timestamp, val double",
    )
    return filtered.unionByName(rest)


def filter_series_grouped(
    routed: DataFrame,
    dt_range: tuple[datetime, datetime],
    cfg: PipelineConfig,
    measures: Iterable[str] = ("log_feature",),
    output: str = "events",
) -> DataFrame:
    """``filter_series`` with an ``applyInPandas`` kernel per series (no
    catalog)."""
    term = dt_range[1] - dt_range[0]
    fine = fine_bin_ms(cfg, term)
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
        verdict, repl = sf.apply(
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
    out = out.cache()
    raw_keys = out.where(F.col("verdict") == "raw").select(*SERIES_COLS)
    kept_raw = target.join(F.broadcast(raw_keys), list(SERIES_COLS), "left_semi")
    replaced = out.where(F.col("verdict") == "replace").drop("verdict")
    return kept_raw.unionByName(replaced).unionByName(rest)
