"""SNMP feature generation (J5 + evpost wiring).

Re-expression of the reference's SNMP branch
(/root/reference/logdag/source/evgen_snmp.py):

* **vsource hostsum** (evgen_snmp.py:222-247, 164-171): a virtual source
  whose per-host series is the NaN-as-0 sum of every series of the
  underlying source on that host, keyed ``key="all"`` (VSOURCE_KEY,
  evgen_snmp.py:19).
* **feature generation** (evgen_snmp.py:421-447, 452-472): each feature
  def ``{name, source, func_list}`` takes the source's per-(host, key)
  series, reindexed to the evdb bin spine (missing samples = NaN,
  evgen_snmp.py:458-460), applies the ``evpost`` function chain by name,
  and keeps only bins with value > 0 (evgen_snmp.py:440) as the feature
  measure.

Spark shape: one ``discretize`` + spine left-join per consumed source
measure (hash aggregate, map-side combined), then the evpost chain as
JVM window/column expressions (operators/windows.py) — no Python in the
path.  The whole stage is a pure DataFrame transform: routed events in,
routed-shaped feature events out.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from logdag_spark.config import PipelineConfig, str2dur
from logdag_spark.operators import windows as W
from logdag_spark.pipeline.aggregate import discretize, fill_bins

VSOURCE_KEY = "all"  # evgen_snmp.py:19

SERIES_KEYS = ("measure", "host", "key", "area", "group")


def hostsum(series: DataFrame, vsource_name: str) -> DataFrame:
    """J5: per-host sum across all series of one source measure.

    NaN/null samples count as 0 (the reference sums frames with
    ``fillna(0)`` / ``add(fill_value=0)``, evgen_snmp.py:243-246); the
    output series is keyed ``key="all"``.
    """
    v = F.coalesce(F.nanvl(F.col("val"), F.lit(None)), F.lit(0.0))
    return (
        series.groupBy("host", "area", "ts")
        .agg(F.sum(v).alias("val"))
        .select(
            F.lit(vsource_name).alias("measure"),
            "host",
            F.lit(VSOURCE_KEY).alias("key"),
            "area",
            F.lit(vsource_name).alias("group"),
            "ts",
            "val",
        )
    )


def _spine_series(
    series: DataFrame,
    dt_range: tuple[datetime, datetime],
    bin_size: timedelta,
) -> DataFrame:
    """Bin raw samples to the evdb spine; absent bins become null (the
    reference's NaN reindex, evgen_snmp.py:458-460)."""
    keys = list(SERIES_KEYS)
    binned = discretize(series, dt_range, bin_size, keys=keys)
    return fill_bins(binned, dt_range, bin_size, keys=keys, fill=None).select(
        *SERIES_KEYS, F.col("bin").alias("ts"), F.col("cnt").alias("val")
    )


_FILL_FUNCS = {"fillzero", "fillavg", "norm_fillavg"}


def apply_feature(
    series: DataFrame,
    feature_def: dict,
    dt_range: tuple[datetime, datetime],
    bin_size: timedelta,
) -> DataFrame:
    """Apply one feature def's evpost chain to spine-reindexed series.

    ``feature_def``: ``name`` (output measure), ``func_list`` (evpost
    names applied in order, evgen_snmp.py:466-472), optional
    ``convolve_radius`` / ``outlier_threshold`` parameters.
    """
    df = _spine_series(series, dt_range, bin_size)
    keys = list(SERIES_KEYS)
    # all-NaN series are dropped by the fill functions (evpost.py:9-20
    # return None); evaluated once on the ORIGINAL samples
    needs_valid = bool(_FILL_FUNCS & set(feature_def["func_list"]))
    if needs_valid:
        n_valid = F.count("val").over(Window.partitionBy(*keys))
        df = df.withColumn("_n_valid", n_valid)
    for fname in feature_def["func_list"]:
        if fname == "fillzero":
            col = W.fillzero()
        elif fname == "fillavg":
            col = W.fillavg(keys)
        elif fname == "norm_fillavg":
            col = W.norm_fillavg(keys)
        elif fname == "diff_abs":
            col = W.diff_abs(keys)
        elif fname == "root_square_diff":
            col = W.root_square_diff(keys)
        elif fname == "getnan":
            col = W.getnan()
        elif fname == "convolve":
            col = W.convolve(int(feature_def.get("convolve_radius", 2)), keys)
        elif fname == "outlier":
            col = W.outlier(float(feature_def.get("outlier_threshold", 2.0)), keys)
        elif fname == "outlier_median_absdev":
            df = W.outlier_mad(
                df, float(feature_def.get("outlier_threshold", 2.0)), keys
            ).withColumn("val", F.col("outlier")).drop("outlier")
            continue
        elif fname in ("anomaly_lof", "anomaly_if"):
            method = "lof" if fname == "anomaly_lof" else "iforest"
            df = W.anomaly_kernel(df, method, keys)
            continue
        else:
            raise ValueError(f"unknown evpost function {fname!r}")
        df = df.withColumn("val", col)
    if needs_valid:
        df = df.where(F.col("_n_valid") > 0).drop("_n_valid")
    # keep positive feature bins only (evgen_snmp.py:440)
    return df.where(F.col("val") > 0).withColumn(
        "measure", F.lit(feature_def["name"])
    )


def snmp_feature_stage(
    routed: DataFrame,
    dt_range: tuple[datetime, datetime],
    cfg: PipelineConfig,
) -> DataFrame:
    """Replace raw SNMP source measures with their configured features.

    ``cfg.snmp_vsources`` (name, source-measure) pairs add hostsum
    virtual sources first; ``cfg.snmp_features`` defs then consume source
    or vsource measures.  Measures not referenced by any def pass through
    untouched — with empty config this stage is the identity.
    """
    if not (cfg.snmp_features or cfg.snmp_vsources):
        return routed
    bin_size = str2dur(cfg.snmp_bin_size)
    sources: dict[str, DataFrame] = {}
    consumed = set()
    for name, src in cfg.snmp_vsources:
        sources[name] = hostsum(routed.where(F.col("measure") == src), name)
        consumed.add(src)
    outs = []
    for fdef in cfg.snmp_features:
        src = fdef["source"]
        series = sources.get(src)
        if series is None:
            series = routed.where(F.col("measure") == src)
            consumed.add(src)
        outs.append(apply_feature(series, fdef, dt_range, bin_size))
    rest = routed.where(~F.col("measure").isin(sorted(consumed)))
    out = rest
    for o in outs:
        out = out.unionByName(o)
    return out
