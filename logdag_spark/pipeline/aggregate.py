"""Stage 4 — discretize routed events into per-bin count series.

Reproduces the reference's three discretize methods
(/root/reference/logdag/dtutil.py:162-199) with exact boundary semantics:

* ``sequential`` — tumbling bins ``[t0 + i*size, t0 + (i+1)*size)``;
* ``slide``      — overlapping bins every ``bin_diff``, width ``bin_size``
  (a timestamp lands in ALL covering bins, dtutil.py:175-185);
* ``radius``     — bin centers at ``t0 + slide/2 + i*slide``, half-open
  width ±``size/2`` (dtutil.py:188-199).

Bins are anchored at the analysis range start, NOT at the epoch — so we
do not use Spark's epoch-anchored ``window()`` but explicit integer
millisecond arithmetic (``floordiv`` on ms offsets), which is also
cheaper: a pure projection + hash aggregate, fully codegen'd, with
automatic partial (map-side) aggregation before the shuffle.  Out-of-range
timestamps are dropped (dtutil.py:137-140 half-open ``[t0, end)``).

Scale note: the groupBy key is (measure, host, key, bin) — high
cardinality and Zipf-skewed on ``key``.  Partial aggregation collapses
heavy hitters map-side, so the shuffle carries at most
|distinct keys| x |bins| rows per partition regardless of input row
count; AQE handles residual skew.
"""

from __future__ import annotations

from datetime import datetime, timedelta
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logdag_spark.config import dur_ms, to_utc_ms

DEFAULT_KEYS = ("measure", "host", "key")


def _floordiv(a: Column, b: int) -> Column:
    """Exact floor division of a long column by a positive int literal."""
    return ((a - F.pmod(a, F.lit(b))) / F.lit(b)).cast("long")


def n_bins(dt_range: tuple[datetime, datetime], bin_size: timedelta,
           method: str = "sequential", bin_diff: timedelta | None = None) -> int:
    term = dur_ms(dt_range[1] - dt_range[0])
    size = dur_ms(bin_size)
    slide = dur_ms(bin_diff) if bin_diff else size
    if method in ("sequential", "slide"):
        step = size if method == "sequential" else slide
        return -(-term // step)  # ceil
    if method == "radius":
        half = slide // 2
        return max(0, -(-(term - half) // slide))
    raise ValueError(f"unknown discretize method {method!r}")


def bin_labels(
    spark_range_df: DataFrame | None,
    dt_range: tuple[datetime, datetime],
    bin_size: timedelta,
    method: str = "sequential",
    bin_diff: timedelta | None = None,
):
    """Column expression mapping bin index -> bin label timestamp (ms)."""
    t0 = to_utc_ms(dt_range[0])
    size = dur_ms(bin_size)
    slide = dur_ms(bin_diff) if bin_diff else size
    step = size if method == "sequential" else slide
    offset = slide // 2 if method == "radius" else 0
    return t0, step, offset


def discretize(
    df: DataFrame,
    dt_range: tuple[datetime, datetime],
    bin_size: timedelta,
    method: str = "sequential",
    bin_diff: timedelta | None = None,
    keys: Sequence[str] = DEFAULT_KEYS,
    ts_col: str = "ts",
    val_col: str = "val",
) -> DataFrame:
    """Aggregate events to ``(keys..., bin timestamp, cnt double)``.

    ``cnt`` is ``sum(val)`` (val=1.0 rows give plain counts, matching
    dtutil.discretize's default count mode).  Bins with no events are
    absent — use :func:`fill_bins` for the zero-filled spine.
    """
    t0_ms = to_utc_ms(dt_range[0])
    end_ms = to_utc_ms(dt_range[1])
    size = dur_ms(bin_size)
    slide = dur_ms(bin_diff) if bin_diff else size
    total = n_bins(dt_range, bin_size, method, bin_diff)

    ems = F.unix_millis(F.col(ts_col))
    in_range = (ems >= t0_ms) & (ems < end_ms)
    dtoff = ems - t0_ms

    if method == "sequential":
        idx = _floordiv(dtoff, size)
        binned = df.where(in_range).withColumn("_bin_idx", idx)
    elif method == "slide":
        i_max = F.least(_floordiv(dtoff, slide), F.lit(total - 1))
        i_min = F.greatest(_floordiv(dtoff - size, slide) + 1, F.lit(0))
        binned = (
            df.where(in_range)
            .withColumn("_bin_idx", F.explode(F.sequence(i_min, i_max)))
        )
    elif method == "radius":
        half = slide // 2
        radius = size // 2
        i_max = F.least(_floordiv(dtoff - half + radius, slide), F.lit(total - 1))
        i_min = F.greatest(_floordiv(dtoff - half - radius, slide) + 1, F.lit(0))
        binned = (
            df.where(in_range)
            .where(i_max >= i_min)
            .withColumn("_bin_idx", F.explode(F.sequence(i_min, i_max)))
        )
    else:
        raise ValueError(f"unknown discretize method {method!r}")

    t0c, step, offset = bin_labels(None, dt_range, bin_size, method, bin_diff)
    label = F.timestamp_millis(
        F.lit(t0c) + F.col("_bin_idx").cast("long") * F.lit(step).cast("long") + offset
    )
    return (
        binned.groupBy(*keys, label.alias("bin"))
        .agg(F.sum(val_col).alias("cnt"))
    )


def binarize(df: DataFrame, cnt_col: str = "cnt") -> DataFrame:
    """A5: x >= 1 -> 1 else 0 (/root/reference/logdag/pc_input.py:49-50)."""
    return df.withColumn(cnt_col, (F.col(cnt_col) >= 1).cast("double"))


def bin_spine(
    df_keys: DataFrame,
    dt_range: tuple[datetime, datetime],
    bin_size: timedelta,
    method: str = "sequential",
    bin_diff: timedelta | None = None,
) -> DataFrame:
    """Cross the distinct key set with the full bin-label sequence (J6).

    ``sequence()`` + ``explode`` generates the spine lazily per partition —
    no driver materialization.
    """
    total = n_bins(dt_range, bin_size, method, bin_diff)
    t0c, step, offset = bin_labels(None, dt_range, bin_size, method, bin_diff)
    label = F.timestamp_millis(
        F.lit(t0c) + F.col("_i").cast("long") * F.lit(step).cast("long") + offset
    )
    return (
        df_keys.withColumn("_i", F.explode(F.sequence(F.lit(0), F.lit(total - 1))))
        .withColumn("bin", label)
        .drop("_i")
    )


def fill_bins(
    binned: DataFrame,
    dt_range: tuple[datetime, datetime],
    bin_size: timedelta,
    method: str = "sequential",
    bin_diff: timedelta | None = None,
    keys: Sequence[str] = DEFAULT_KEYS,
    fill: float | None = 0.0,
) -> DataFrame:
    """Left-join the bin spine so every (key, bin) exists; missing -> fill,
    or null when ``fill`` is None.

    Mirrors the reference's reindex/fill(0)
    (/root/reference/logdag/source/convert.py:51-67, influx ``fill(0)``
    /root/reference/logdag/source/influx.py:113-118).
    """
    spine = bin_spine(
        binned.select(*keys).distinct(), dt_range, bin_size, method, bin_diff
    )
    filled = spine.join(binned, [*keys, "bin"], "left")
    if fill is None:
        return filled
    return filled.withColumn("cnt", F.coalesce("cnt", F.lit(fill)))


def rebin(
    binned: DataFrame,
    dt_range: tuple[datetime, datetime],
    new_bin: timedelta,
    keys: Sequence[str] = DEFAULT_KEYS,
) -> DataFrame:
    """A6: coarsen consecutive bins by summation
    (/root/reference/logdag/dtutil.py:586-598)."""
    t0_ms = to_utc_ms(dt_range[0])
    size = dur_ms(new_bin)
    idx = _floordiv(F.unix_millis(F.col("bin")) - t0_ms, size)
    label = F.timestamp_millis(F.lit(t0_ms) + idx * size)
    return binned.groupBy(*keys, label.alias("bin")).agg(F.sum("cnt").alias("cnt"))
