"""End-to-end pipeline orchestration.

parse -> enrich -> route -> [filter_series] -> aggregate -> units ->
correlate (pc-corr: one sparse pair-statistics plan, Fisher-z or G-square
skeleton, depth-0 orientation) | PC kernel (pc) | LiNGAM kernels
(lingam, lingam-corr) -> dag_edges + event_dim.

Mirrors the reference's two entry points in one lazy plan chain:
``make-evdb-log-all`` (/root/reference/logdag/source/__main__.py:27-43)
and ``make-dag`` (/root/reference/logdag/__main__.py:45-68).  With a
Catalog, every stage checkpoints (resume + lineage); without one the
whole pipeline is a single Catalyst plan.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logdag_spark.config import PipelineConfig
from logdag_spark.io.catalog import Catalog
from logdag_spark.pipeline.aggregate import discretize
from logdag_spark.pipeline.correlate import (
    UNIT_HOSTS_SCHEMA,
    assign_units,
    event_dim,
    fisherz_edges,
    gsq_edges,
    merge_syncevents,
    pairwise_corr,
    unit_matrix,
    unit_nbins_rows,
    unit_specs,
)
from logdag_spark.pipeline.enrich import enrich
from logdag_spark.pipeline.parse import parse_tokens_arrow
from logdag_spark.pipeline.pc import orient_depth0_edges, pc_edges
from logdag_spark.pipeline.pknowledge import (
    build_noedge,
    candidate_pairs,
    host_allow_pairs,
)
from logdag_spark.pipeline.route import route
from logdag_spark.pipeline.series_filter import filter_series, weighted_output_ok
from logdag_spark.session import local_frame


@dataclass
class PipelineResult:
    routed: DataFrame
    binned: DataFrame
    evdim: DataFrame
    matrix: DataFrame
    edges: DataFrame

    def sink_counts(self) -> DataFrame:
        """Per-sink aggregate counts — a required parity metric
        (BASELINE.json; reference get_count /root/reference/logdag/source/sqlts.py:298-300)."""
        return (
            self.routed.groupBy("measure")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("val").alias("total_val"),
                F.countDistinct("host", "key").alias("n_series"),
            )
            .orderBy("measure")
        )


def run_pipeline(
    spark: SparkSession,
    tokens: DataFrame,
    host_meta: DataFrame,
    template_dim: DataFrame,
    dt_range: tuple[datetime, datetime],
    cfg: PipelineConfig | None = None,
    catalog: Catalog | None = None,
    apply_filters: bool = True,
    pk_context: dict | None = None,
    checkpoint_stages: tuple[str, ...] = (
        "events_ts", "binned", "event_dim", "unit_matrix", "dag_edges",
    ),
    units: list[str] | None = None,
    hosts: list[tuple[str, str]] | None = None,
    template_specs: list[tuple[int, list[int]]] | None = None,
) -> PipelineResult:
    """``hosts`` / ``template_specs``: optional driver-resident copies of
    the two dimension tables ((host, area) pairs / (gid, pattern) pairs).
    Dimension metadata is configuration — the reference loads area
    definitions and the template dictionary into memory at startup
    (log2event.py:226-252, src_amulog.py:44-66) — so callers that run
    many chunks (chunked make-dag, the bench harness) pass them once
    instead of paying two pure-serial collect jobs per run.  When absent
    they are collected from the DataFrames (the dims are tiny)."""
    cfg = cfg or PipelineConfig()
    def ck(df: DataFrame, name: str, partition_by=None) -> DataFrame:
        if catalog is None or name not in checkpoint_stages:
            return df
        return catalog.write(df, name, partition_by=partition_by, stage=name)

    def ck_or_cache(df: DataFrame, name: str) -> DataFrame:
        """Checkpoint when configured, otherwise cache — either way the
        stage is materialized once, never recomputed by downstream
        branches."""
        if catalog is not None and name in checkpoint_stages:
            return catalog.write(df, name, stage=name)
        return df.cache()

    parsed = parse_tokens_arrow(
        tokens, template_specs if template_specs is not None else template_dim
    )
    enriched = enrich(parsed, host_meta, template_dim)
    routed = route(enriched)
    if catalog and "events_ts" in checkpoint_stages:
        routed = ck(routed.withColumn("day", F.to_date("ts")), "events_ts",
                    partition_by=["measure", "day"]).drop("day")
    # No in-memory barrier otherwise: the series filter pre-aggregates to
    # fine bins behind a shuffle, so the JVM parse stage and the Python
    # kernel stage are already separated by a stage boundary.  (An earlier
    # localCheckpoint barrier here pinned the full routed stage in
    # executor heap; across repeated runs those blocks accumulate and GC
    # degrades wall time 3-6x — the round-1 bench scaling failure.)
    # SNMP feature generation (J5 + evpost chain): replaces raw SNMP
    # source measures with configured feature measures before filtering
    # (the reference's make-evdb writes features, not raw samples —
    # evgen_snmp.py:421-447); identity when unconfigured
    if cfg.snmp_features or cfg.snmp_vsources:
        from logdag_spark.pipeline.snmp_features import snmp_feature_stage

        routed_in = snmp_feature_stage(
            routed.where(F.col("measure") != "unparsed"), dt_range, cfg
        )
    else:
        routed_in = routed.where(F.col("measure") != "unparsed")

    if apply_filters and cfg.filter_rules:
        # weighted output: surviving series leave the filter as fine-bin
        # (ts, weight) rows — exact downstream aggregates (the only
        # consumer is discretize) with |series| x |fine bins| rows instead
        # of the raw event count entering the next shuffle
        mode = "weighted" if weighted_output_ok(cfg, dt_range) else "events"
        filtered = filter_series(
            routed_in, dt_range, cfg, output=mode,
            catalog=catalog if mode == "events" else None,
        )
    else:
        filtered = routed_in

    binned = discretize(
        filtered, dt_range, cfg.bin_size, cfg.ci_bin_method,
        cfg.bin_diff if cfg.ci_bin_method != "sequential" else None,
    )
    # the aggregation boundary is the natural materialization point: binned
    # is |series| x |bins| — orders of magnitude smaller than the input.
    # With a catalog the checkpoint write/read cuts the lineage; without
    # one, cache so event_dim / unit_matrix / edges don't recompute the
    # whole parse->filter->aggregate tree once each.
    binned = ck_or_cache(binned, "binned")

    # unit bookkeeping is driver-side python (|windows| x |hosts| rows):
    # nbins and the grouped-kernel unit meta derive from the same specs
    # with zero extra Spark jobs
    if hosts is None:
        hosts = [
            (r["host"], r["area"])
            for r in host_meta.select("host", "area").collect()
        ]
    specs = unit_specs(dt_range, cfg, hosts)
    if units is not None:
        # make-dag-stdin style unit restriction (reference
        # __main__.py:517-519 processes only the units named on stdin)
        want = set(units)
        specs = [s for s in specs if s[0] in want]
        missing = want - {s[0] for s in specs}
        if missing:
            raise ValueError(
                f"unknown unit(s) {sorted(missing)}; "
                f"unit names look like all_YYYYMMDD / <host>_YYYYMMDD"
            )
    uh = local_frame(spark, specs, UNIT_HOSTS_SCHEMA)
    long = assign_units(binned, uh)
    evdim = event_dim(long)
    mat = unit_matrix(long, evdim)
    if cfg.merge_syncevent:
        mat, evdim = merge_syncevents(mat, evdim)
    evdim = ck_or_cache(evdim, "event_dim")
    mat = ck_or_cache(mat, "unit_matrix")

    nb_rows = unit_nbins_rows(
        specs, cfg.bin_size, cfg.ci_bin_method,
        cfg.bin_diff if cfg.ci_bin_method != "sequential" else None,
    )
    nb = local_frame(spark, nb_rows, "unit string, n long")

    # prior-knowledge pruning (G7): the reference applies the configured
    # rule set to every unit before every algorithm
    # (/root/reference/logdag/makedag.py:44-45).  The noedge frame shrinks
    # the CI-test space — pc gets it as the initial adjacency, pc-corr as
    # an anti-join on the pair frame, lingam as zeroed coefficients.
    noedge = None
    allowed_hosts = None
    ev_hosts = None
    if cfg.pk_rules:
        tcols = template_dim.columns
        sel = [F.col("gid").cast("string").alias("key")]
        for c in ("group", "source"):
            if c in tcols:
                sel.append(c)
        pk_dim = evdim.join(F.broadcast(template_dim.select(*sel)), "key", "left")
        if "source" in tcols:
            # series whose key matches no log template gid are the
            # SNMP-derived features/vsources: without this coalesce their
            # NULL source made the additional-source rule silently match
            # nothing on mixed log+snmp runs
            pk_dim = pk_dim.withColumn(
                "source", F.coalesce("source", F.lit("snmp"))
            )
        noedge = build_noedge(candidate_pairs(pk_dim), cfg.pk_rules, pk_context or {})
        # host-level allow set pushed into the sparse paths' co-occurrence
        # self-join (prune compute, not just output — pknowledge.py:82-91)
        allowed_hosts = host_allow_pairs(cfg.pk_rules, pk_context or {})
        if allowed_hosts is not None:
            ev_hosts = evdim.select("unit", "eid", "host")

    bin_diff = cfg.bin_diff if cfg.ci_bin_method != "sequential" else None

    def _unit_meta():
        # naive datetimes are UTC by convention (config.to_utc_ms handles both)
        nmap = dict(nb_rows)
        return {
            unit: (dts, int(nmap[unit])) for unit, _h, _a, dts, _dte in specs
        }

    if cfg.cause_algorithm == "pc-corr":
        # reference pc-corr = full PC at depth 0 with the configured
        # ci_func + CPDAG orientation (makedag.py:116-122).  At depth 0
        # both CI tests are functions of the per-pair sufficient
        # statistics, so one sparse plan (no dense matrices, one shuffle)
        # discovers the skeleton — Fisher-z on r, or G-square on the
        # contingency counts of the binarized series, weighted by phi
        # (= np.corrcoef on the binarized matrix) — and a tiny per-unit
        # kernel adds orientation.  Binarization is the dense kernel's
        # rule (cnt >= 1), on by default for gsq (pc_input.py:19-27).
        if cfg.binarize or cfg.ci_func == "gsq":
            mat_in = mat.withColumn("cnt", (F.col("cnt") >= 1).cast("double"))
        else:
            mat_in = mat
        # fresh attribute ids: the noedge frame derives from evdim too
        ne = (
            noedge.select("unit", "eid1", "eid2").toDF("unit", "eid1", "eid2")
            if noedge is not None
            else None
        )
        pk = dict(noedge=ne, ev_hosts=ev_hosts, allowed_hosts=allowed_hosts)
        if cfg.ci_func == "gsq":
            skel = gsq_edges(
                mat_in, nb, alpha=cfg.skeleton_threshold, **pk
            ).select(
                "unit",
                F.col("eid1").alias("src_eid"),
                F.col("eid2").alias("dst_eid"),
                F.lit(False).alias("directed"),
                F.col("r").alias("weight"),
            )
        else:
            skel = fisherz_edges(
                pairwise_corr(mat_in, nb, **pk), cfg.skeleton_threshold
            )
        edges = orient_depth0_edges(skel)
    elif cfg.cause_algorithm == "lingam":
        from logdag_spark.pipeline.lingam import lingam_edges

        edges = lingam_edges(
            mat, _unit_meta(), cfg.bin_size, th=cfg.lingam_lower_limit,
            noedge=noedge, method=cfg.ci_bin_method, bin_diff=bin_diff,
            algorithm=cfg.lingam_algorithm,
        )
    elif cfg.cause_algorithm == "lingam-corr":
        from logdag_spark.pipeline.lingam import lingam_corr_edges

        edges = lingam_corr_edges(
            mat, _unit_meta(), cfg.bin_size,
            lower_limit=cfg.lingam_lower_limit, noedge=noedge,
            method=cfg.ci_bin_method, bin_diff=bin_diff,
            algorithm=cfg.lingam_algorithm,
        )
    else:  # "pc"
        edges = pc_edges(
            mat, _unit_meta(), cfg.bin_size,
            ci_func=cfg.ci_func, alpha=cfg.skeleton_threshold,
            max_depth=cfg.skeleton_depth, binarize=cfg.binarize or None,
            noedge=noedge, method=cfg.ci_bin_method, bin_diff=bin_diff,
        )
    edges = ck(edges, "dag_edges")
    return PipelineResult(routed=routed, binned=binned, evdim=evdim, matrix=mat, edges=edges)
