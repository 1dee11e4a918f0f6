"""Outside-in layer trace of one pipeline run (``run.py --trace 1``).

The trace times the calls into each layer's public functions from the
benchmark's own files; the program is not instrumented.  The traced
process writes an uncompressed Spark event log and, for the layered pass
only, turns on the PySpark UDF profiler (``spark.sql.pyspark.udf.profiler
=perf``): ``executorCpuTime`` does not include Python-worker CPU.

One traced run makes three pipeline passes in one session:

* ``cold``: the first pass of the process, a warm-up; its output is checked.
* ``run``: a plain ``run_pipeline`` pass, profiler off -> ``run.*``.
* the layered pass: the same stages called one by one, each materialized
  under its own job group.  Work that ``run_pipeline`` fuses into one job
  is split by noop-sink prefixes: scan, then + ``parse_tokens_arrow``,
  then + ``enrich``/``route``, then the ``Catalog.write`` of events_ts;
  the later stages are cached and counted.  Its output is checked too.

Each span reports ``<span>.self_s`` (driver wall; a prefix span minus the
prefix before it), and from the event log's ``SparkListenerStageCompleted``
records, summed over the span's stages: ``task_s`` (executor run time),
``cpu_s``, ``gc_s``, ``shuffle_mb`` (read + write), ``spill_mb`` (disk)
and ``jobs``.  Prefix spans subtract the previous prefix's sums.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections import defaultdict

import host
import workloads

SPANS = (
    "tokens.scan", "parse", "enrich_route", "catalog.events_ts",
    "series_filter", "aggregate.discretize", "correlate", "pc",
    "catalog.dag_edges",
)
# fused JVM stages, each measured as a prefix of the next
PREFIXES = SPANS[:4]
STAGE_METRICS = {
    # event-log accumulable -> (metric, scale to the metric's unit)
    "internal.metrics.executorRunTime": ("task_s", 1e-3),
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_mb", 2**-20),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_mb", 2**-20),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_mb", 2**-20),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 2**-20),
}
UNITS = {"task_s": "s", "cpu_s": "s", "gc_s": "s", "shuffle_mb": "MB",
         "spill_mb": "MB", "jobs": "count"}


def session_conf(eventlog_dir: str) -> dict[str, str]:
    os.makedirs(eventlog_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": eventlog_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """Runs each span under its own job group and records its driver wall
    time and the Python time the UDF profiler saw."""

    def __init__(self, spark):
        self.spark = spark
        self.wall: dict[str, float] = {}
        self.py_s: dict[str, float] = {}

    def group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def span(self, name: str, fn):
        self.spark.profile.clear()
        self.group(name)
        t0 = time.monotonic()
        out = fn()
        self.wall[name] = time.monotonic() - t0
        stats = self.spark._profiler_collector._perf_profile_results
        self.py_s[name] = sum(s.total_tt for s in stats.values())
        self.group("count")
        return out


def _noop(df):
    return lambda: df.write.format("noop").mode("overwrite").save()


def _du_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 2**20


def layered_pass(spark, inp, wl, warehouse: str, tr: Tracer) -> dict:
    """The stages of ``run_pipeline`` for the benchmark's configurations
    (filters on, no prior knowledge, no SNMP features), one span each.
    Returns the span counts and the dag_edges checkpoint."""
    from pyspark.sql import functions as F

    from logdag_spark.io.catalog import Catalog
    from logdag_spark.pipeline.aggregate import discretize
    from logdag_spark.pipeline.correlate import (
        UNIT_HOSTS_SCHEMA, assign_units, event_dim, fisherz_edges,
        pairwise_corr, unit_matrix, unit_nbins_rows, unit_specs,
    )
    from logdag_spark.pipeline.enrich import enrich
    from logdag_spark.pipeline.parse import parse_tokens_arrow
    from logdag_spark.pipeline.pc import orient_depth0_edges, pc_edges
    from logdag_spark.pipeline.route import route
    from logdag_spark.pipeline.series_filter import filter_series, weighted_output_ok

    cfg = workloads.pipeline_config(wl)
    rng = workloads.dt_range()
    bin_diff = cfg.bin_diff if cfg.ci_bin_method != "sequential" else None
    cat = Catalog(spark, warehouse, codec="lz4")

    tr.span("tokens.scan", _noop(inp.tokens))
    parsed = parse_tokens_arrow(inp.tokens, inp.template_specs)
    tr.span("parse", _noop(parsed))
    routed = route(enrich(parsed, inp.host_meta, inp.template_dim))
    tr.span("enrich_route", _noop(routed))
    events = tr.span("catalog.events_ts", lambda: cat.write(
        routed.withColumn("day", F.to_date("ts")), "events_ts",
        partition_by=["measure", "day"], stage="events_ts",
    )).drop("day")

    routed_in = events.where(F.col("measure") != "unparsed")
    mode = "weighted" if weighted_output_ok(cfg, rng) else "events"
    filtered = filter_series(
        routed_in, rng, cfg, output=mode,
        catalog=cat if mode == "events" else None,
    ).cache()
    tr.span("series_filter", filtered.count)
    binned = discretize(filtered, rng, cfg.bin_size, cfg.ci_bin_method, bin_diff).cache()
    binned_rows = tr.span("aggregate.discretize", binned.count)

    specs = unit_specs(rng, cfg, inp.hosts)
    long = assign_units(binned, spark.createDataFrame(specs, UNIT_HOSTS_SCHEMA))
    evdim = event_dim(long).cache()
    mat = unit_matrix(long, evdim).cache()
    nb_rows = unit_nbins_rows(specs, cfg.bin_size, cfg.ci_bin_method, bin_diff)
    pairs = skeleton = 0
    if cfg.cause_algorithm == "pc-corr" and cfg.ci_func == "fisherz":
        pair_df = pairwise_corr(
            mat, spark.createDataFrame(nb_rows, "unit string, n long")).cache()
        skel_df = fisherz_edges(pair_df, cfg.skeleton_threshold).cache()
        _, _, pairs, skeleton = tr.span("correlate", lambda: (
            evdim.count(), mat.count(), pair_df.count(), skel_df.count()))
        edges = orient_depth0_edges(skel_df)
    elif cfg.cause_algorithm == "pc":
        tr.span("correlate", lambda: (evdim.count(), mat.count()))
        nmap = dict(nb_rows)
        unit_meta = {u: (dts, int(nmap[u])) for u, _h, _a, dts, _dte in specs}
        edges = pc_edges(
            mat, unit_meta, cfg.bin_size, ci_func=cfg.ci_func,
            alpha=cfg.skeleton_threshold, max_depth=cfg.skeleton_depth,
            binarize=cfg.binarize or None, method=cfg.ci_bin_method,
            bin_diff=bin_diff,
        )
    else:
        raise ValueError(f"no layer trace for {cfg.cause_algorithm}/{cfg.ci_func}")
    edges = edges.cache()
    n_edges = tr.span("pc", edges.count)
    out = tr.span("catalog.dag_edges", lambda: cat.write(edges, "dag_edges"))

    def key_count(df) -> int:
        return df.select("measure", "host", "key").distinct().count()

    return {
        "edges_df": out,
        "counts": {
            "parse.unparsed_rows": events.where(F.col("measure") == "unparsed").count(),
            "catalog.events_ts.rows": cat.rows_written["events_ts"],
            "catalog.events_ts.mb": _du_mb(cat.path("events_ts")),
            "series_filter.series_in": key_count(routed_in),
            "series_filter.series_out": key_count(filtered),
            "aggregate.discretize.binned_rows": binned_rows,
            "correlate.pairs": pairs,
            "correlate.edges": skeleton,
            "pc.units": mat.select("unit").distinct().count(),
            "pc.edges": n_edges,
            "catalog.dag_edges.mb": _du_mb(cat.path("dag_edges")),
        },
    }


def trace_run(spark, inp, wl, warehouse: str, log) -> dict:
    tr = Tracer(spark)
    failed = 0

    def check(edges_df) -> None:
        nonlocal failed
        tr.group("check")
        failed += not workloads.check_edges(wl, workloads.edges_digest(edges_df), log)
        spark.catalog.clearCache()

    walls = {}
    for group in ("cold", "run"):
        tr.group(group)
        walls[group], edges = workloads.run_pass(spark, inp, wl, warehouse)
        log(f"{group} pass: {walls[group]} s")
        check(edges)
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    shutil.rmtree(warehouse, ignore_errors=True)
    t0 = time.monotonic()
    layered = layered_pass(spark, inp, wl, warehouse, tr)
    traced_wall = sum(tr.wall.values())
    log(f"layered pass: {time.monotonic() - t0} s")
    check(layered["edges_df"])
    spark.conf.unset("spark.sql.pyspark.udf.profiler")

    metrics = {name: (float(v), "MB" if name.endswith(".mb") else "count")
               for name, v in layered["counts"].items()}
    for name in ("parse", "series_filter", "pc"):
        metrics[f"{name}.py_s"] = (tr.py_s[name], "s")
    jvm_mb, workers_mb = host.peak_rss_mb()
    log(f"VmHWM: JVM {jvm_mb:.0f} MB, Python workers {workers_mb:.0f} MB")
    metrics["run.peak_rss_mb"] = (jvm_mb + workers_mb, "MB")
    metrics["run.wall_s"] = (walls["run"], "s")
    metrics["trace.overhead_s"] = (traced_wall - walls["run"], "s")
    return {"attempted": 3, "failed": failed, "metrics": metrics,
            "spans": dict(tr.wall)}


def _read_eventlog(eventlog_dir: str) -> tuple[dict, dict]:
    """Per job group: job count, and stage metric sums."""
    jobs: dict[str, int] = defaultdict(int)
    sums: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[tuple[int, int], str] = {}
    for name in sorted(os.listdir(eventlog_dir)):
        if name.startswith("."):
            continue
        with open(os.path.join(eventlog_dir, name)) as f:
            for line in f:
                if line.startswith('{"Event":"SparkListenerTask'):
                    continue  # task events: the stage records carry the sums
                e = json.loads(line)
                ev = e["Event"]
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                if ev == "SparkListenerJobStart":
                    jobs[group] += 1
                elif ev == "SparkListenerStageSubmitted":
                    si = e["Stage Info"]
                    stage_group[si["Stage ID"], si["Stage Attempt ID"]] = group
                elif ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    g = stage_group.get((si["Stage ID"], si["Stage Attempt ID"]))
                    for acc in si.get("Accumulables", []):
                        m = STAGE_METRICS.get(acc.get("Name"))
                        if m:
                            sums[g][m[0]] += float(acc["Value"]) * m[1]
    return jobs, sums


def eventlog_metrics(eventlog_dir: str, spans: dict[str, float]) -> dict:
    """Per-span stage metrics and ``run.*`` totals from the event log."""
    jobs, sums = _read_eventlog(eventlog_dir)
    out = {}
    for i, name in enumerate(SPANS):
        vals = {m: sums[name][m] for m in UNITS if m != "jobs"}
        self_s = spans[name]
        if 0 < i < len(PREFIXES):
            prev = SPANS[i - 1]
            vals = {m: v - sums[prev][m] for m, v in vals.items()}
            self_s -= spans[prev]
        out[f"{name}.self_s"] = (self_s, "s")
        out[f"{name}.jobs"] = (float(jobs[name]), "count")
        for m, v in vals.items():
            out[f"{name}.{m}"] = (v, UNITS[m])
    out["run.jobs"] = (float(jobs["run"]), "count")
    out["run.gc_s"] = (sums["run"]["gc_s"], "s")
    out["run.spill_mb"] = (sums["run"]["spill_mb"], "MB")
    return out
