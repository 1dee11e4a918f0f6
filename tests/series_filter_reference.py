"""Reference oracles for the series filter in ``pipeline/series_filter.py``:
the ``argrelmax`` loop with one shifted copy per distance, and the
grouped-map form of ``filter_series`` that hands the kernel one pandas
frame per series.  The running-maximum ``argrelmax`` and the
``mapInArrow`` kernel must reproduce these exactly
(``tests/test_batched_kernels.py``)."""

from __future__ import annotations

from datetime import datetime
from typing import Iterable

import numpy as np
import pandas as pd
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


def _naive(t0: datetime) -> pd.Timestamp:
    ts = pd.Timestamp(t0)
    return ts.tz_localize(None) if ts.tzinfo else ts


def filter_series_grouped(
    routed: DataFrame,
    dt_range: tuple[datetime, datetime],
    cfg: PipelineConfig,
    measures: Iterable[str] = ("log_feature",),
    output: str = "events",
) -> DataFrame:
    """``filter_series`` with an ``applyInPandas`` kernel per series (no
    catalog; integral-ms rule bins only)."""
    term = dt_range[1] - dt_range[0]
    fine = fine_bin_ms(cfg, term)
    assert fine is not None
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
    out = out.cache()
    raw_keys = out.where(F.col("verdict") == "raw").select(*SERIES_COLS)
    kept_raw = target.join(F.broadcast(raw_keys), list(SERIES_COLS), "left_semi")
    replaced = out.where(F.col("verdict") == "replace").drop("verdict")
    return kept_raw.unionByName(replaced).unionByName(rest)
