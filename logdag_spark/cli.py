"""Thin CLI mirroring the reference's command surface
(/root/reference/logdag/__main__.py:510-603, source/__main__.py:181-209).

    python -m logdag_spark make-evdb    --scale 1 --warehouse WH
    python -m logdag_spark make-dag     --scale 1 --warehouse WH \
        [--algorithm pc|pc-corr|lingam|lingam-corr] [--lingam-algorithm direct|ica]
    python -m logdag_spark show-stats   --warehouse WH
    python -m logdag_spark show-edges   --warehouse WH [--unit U]
    python -m logdag_spark show-list    --warehouse WH
    python -m logdag_spark show-node-list --warehouse WH
    python -m logdag_spark dump-events  --warehouse WH
    python -m logdag_spark show-group-stats --warehouse WH
    python -m logdag_spark show-subgraphs --warehouse WH
    python -m logdag_spark show-netsize --warehouse WH
    python -m logdag_spark show-netsize-list --warehouse WH
    python -m logdag_spark show-node-ts --warehouse WH --node-ids N...
    python -m logdag_spark show-full-config / show-default-config
    python -m logdag_spark show-stats-by-threshold --warehouse WH
    python -m logdag_spark update-event-label --warehouse WH
    python -m logdag_spark plot-dag     --warehouse WH [--out DOT_DIR]
    python -m logdag_spark plot-node-ts --warehouse WH --node-ids N... [--out CSV]
    python -m logdag_spark make-args / show-args --warehouse WH
    python -m logdag_spark make-dag-stdin --warehouse WH  (unit names on stdin)
    python -m logdag_spark show-edge    --warehouse WH --conditions node=N gid=K host=H
    python -m logdag_spark add-trouble  --warehouse WH --date D --group G --title T
    python -m logdag_spark add-lids     --warehouse WH --tid N --identifiers I...
    python -m logdag_spark add-lids-stdin --warehouse WH --tid N  (lids on stdin)
    python -m logdag_spark label-trouble --warehouse WH --tid N --group G
    python -m logdag_spark list-trouble / list-group / list-trouble-stat --warehouse WH
    python -m logdag_spark show-lids / show-trouble --warehouse WH --tid N
    python -m logdag_spark search-trouble --warehouse WH --identifiers SUBSTR...
    python -m logdag_spark show-match   --warehouse WH --tid N [--rule both]
    python -m logdag_spark show-match-all / show-match-info --warehouse WH
    python -m logdag_spark search-gid   --warehouse WH --gid K
    python -m logdag_spark show-major-edges / show-minor-edges --warehouse WH
        [--edge-score tfidf|idf|count] [--count N] [--ate-threshold T]
    python -m logdag_spark show-edges-temporal-sort --warehouse WH
        --timestr YYYYMMDD[_HHMMSS] [--reverse]
    python -m logdag_spark show-dag-anomaly-score --warehouse WH [--reverse]
    python -m logdag_spark search-similar-dag --warehouse WH --unit U [--k N]
    python -m logdag_spark show-clusters --warehouse WH
        [--n-clusters K] [--feature edge|evpair|node] [--score-weight none|idf]
    python -m logdag_spark show-diff-info / show-diff-edges --warehouse WH --warehouse2 WH2
    python -m logdag_spark show-graph-common-edges / show-graph-lor-edges
        / show-graph-diff-direction / show-graph-diff-lts --warehouse WH --warehouse2 WH2
    python -m logdag_spark show-graph-diff-search --warehouse WH --warehouse2 WH2 --gid K
    python -m logdag_spark draw-graph-common / draw-graph-diff
        --warehouse WH --warehouse2 WH2 [--out DOT_DIR]
    python -m logdag_spark list-trouble-label --warehouse WH
    python -m logdag_spark show-trouble-info --warehouse WH --tid N
    python -m logdag_spark show-match-diff --warehouse WH --warehouse2 WH2 [--rule all]
    python -m logdag_spark reload-area  --warehouse WH
    python -m logdag_spark show-snmp-stats --warehouse WH
    python -m logdag_spark drop-features --warehouse WH
    python -m logdag_spark dump-input   --warehouse WH --out CSV_DIR
    python -m logdag_spark lineage      --warehouse WH
    python -m logdag_spark dedup-docs   --input DOCS_PARQUET [--method exact|minhash]
    python -m logdag_spark ann-topk     --input EMB_PARQUET [--method ivf|lsh|brute]
                                        [--k 10] [--queries Q_PARQUET]
    python -m logdag_spark pca-embeddings --input EMB_PARQUET [--k 16]
    python -m logdag_spark sample-docs  --input DOCS_PARQUET [--method split|sample] [--rate 0.1]
    python -m logdag_spark pack-docs    --input DOCS_PARQUET [--capacity 512]
    python -m logdag_spark vocab        --input DOCS_PARQUET [--k 100]
    python -m logdag_spark curate-docs  --input PARQUET
        [--method decontaminate|repetition|redact|semantic|dedup-spans|
                  gopher|dedup-canonical]
        [--benchmark EVAL_PARQUET] [--threshold 0.9] [--cluster-col label]
    python -m logdag_spark chunk-docs   --input DOCS_PARQUET [--capacity 512] [--overlap 0]
    python -m logdag_spark budget-docs  --input DOCS_PARQUET --budget N
    python -m logdag_spark mix-docs     --input DOCS_PARQUET --budget N --weights src=w,src=w

Every document command also accepts ``--checkpoint-table NAME`` to
commit its result through the --warehouse Catalog (manifest-gated,
lineage-recorded, resumable) instead of a bare ``--out`` parquet dump.

Designed for ``spark-submit --py-files logdag_spark.zip`` on a cluster;
locally it builds its own session.
"""

from __future__ import annotations

import argparse
import os
import sys
from datetime import timedelta

from logdag_spark.config import PipelineConfig
from logdag_spark.session import get_spark


def _bin_size(s: str) -> str:
    """``--bin-size``: the duration check ``PipelineConfig`` runs on
    ``ci_bin_size``, at parse time."""
    try:
        PipelineConfig(ci_bin_size=s)
    except ValueError as e:
        raise argparse.ArgumentTypeError(str(e)) from None
    return s


def _common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--warehouse", default="/tmp/logdag_spark_warehouse")
    p.add_argument("--scale", type=float, default=1.0)
    p.add_argument("--cores", type=int, default=None)
    p.add_argument("--bin-size", type=_bin_size, default="1m")
    p.add_argument(
        "--algorithm", default="pc-corr",
        choices=["pc", "pc-corr", "lingam", "lingam-corr"],
    )
    p.add_argument(
        "--lingam-algorithm", default="direct", choices=["direct", "ica"],
        help="lingam estimator (reference [lingam] algorithm)",
    )
    p.add_argument("--ci-func", default="fisherz", choices=["fisherz", "gsq"])
    p.add_argument("--no-filters", action="store_true")
    p.add_argument("--out", default=None, help="output dir (dump-input CSV)")
    p.add_argument("--input", default=None, help="input parquet (dedup-docs / ann-topk)")
    p.add_argument(
        "--method", default=None,
        help="dedup-docs: exact|minhash; ann-topk: ivf|lsh|brute; "
             "sample-docs: split|sample",
    )
    p.add_argument(
        "--k", type=int, default=None,
        help="ann-topk neighbors per query (default 10) / vocab size (default 100)",
    )
    p.add_argument("--rate", type=float, default=0.1, help="sample-docs keep rate")
    p.add_argument(
        "--queries", default=None,
        help="ann-topk: parquet of query vectors (vec_id, embedding); "
             "defaults to the first 20 corpus vectors as a demo",
    )
    p.add_argument("--trouble-path", default=None,
                   help="trouble store dir (default <warehouse>/troubles)")
    p.add_argument("--date", default=None, help="add-trouble date (yyyymmdd)")
    p.add_argument("--group", default=None, help="add-trouble group label")
    p.add_argument("--title", default=None, help="add-trouble title")
    p.add_argument("--tid", type=int, default=None, help="add-lids ticket id")
    p.add_argument("--node-ids", nargs="*", type=int, default=None,
                   help="plot-node-ts event ids (eids)")
    p.add_argument(
        "--iceberg-catalog", default=None,
        help="name of a configured Iceberg Spark SQL catalog; checkpoints "
             "become Iceberg tables <name>.logdag.<table> (requires the "
             "iceberg-spark-runtime jar, e.g. via spark-submit --packages)",
    )
    p.add_argument("--identifiers", nargs="*", default=None,
                   help="add-lids event identifiers")
    p.add_argument("--capacity", type=int, default=512, help="pack-docs tokens per bin")
    p.add_argument("--benchmark", default=None,
                   help="curate-docs decontaminate: eval-suite docs parquet")
    p.add_argument("--threshold", type=float, default=0.9,
                   help="curate-docs semantic: cosine dup threshold")
    p.add_argument("--cluster-col", default="label",
                   help="curate-docs semantic: cluster column bounding the pair join")
    p.add_argument("--ngram", type=int, default=4,
                   help="curate-docs decontaminate: token n-gram size")
    p.add_argument("--overlap", type=int, default=0,
                   help="chunk-docs tokens shared between consecutive chunks")
    p.add_argument("--budget", type=int, default=None,
                   help="budget-docs per-source token budget; mix-docs "
                        "total token budget")
    p.add_argument("--weights", default=None,
                   help="mix-docs source weights as src=w,src=w "
                        "(e.g. 'web=7,code=3')")
    p.add_argument("--checkpoint-table", default=None,
                   help="document commands: checkpoint the result into the "
                        "--warehouse Catalog under this table name "
                        "(manifest-gated commit + lineage) instead of a "
                        "bare parquet dump")
    p.add_argument(
        "--conditions", nargs="*", default=[],
        help="show-edge search conditions: node=EID gid=KEY host=SUBSTR "
             "(reference __main__.py:153-165 grammar)",
    )
    p.add_argument(
        "--rule", default="both", choices=["all", "both", "either", "log-snmp"],
        help="show-match edge-match rule (reference eval/match_edge.py)",
    )
    p.add_argument(
        "--warehouse2", default=None,
        help="second DAG-set warehouse for the comparison commands "
             "(reference passes a second config file)",
    )
    p.add_argument("--gid", default=None,
                   help="search-gid / show-graph-diff-search: event key to search")
    p.add_argument("--unit", default=None, help="search-similar-dag: query unit")
    p.add_argument(
        "--feature", default="edge", choices=["edge", "evpair", "node"],
        help="DAG vector space (show-clusters / search-similar-dag)",
    )
    p.add_argument("--score-weight", default="idf", choices=["none", "idf"],
                   help="DAG vector weighting (show-clusters)")
    p.add_argument(
        "--edge-score", default="tfidf", choices=["tfidf", "idf", "count"],
        help="show-major/minor-edges ranking column (reference --score)",
    )
    p.add_argument("--count", type=int, default=20,
                   help="rows shown by the edge-ranking commands")
    p.add_argument("--n-clusters", type=int, default=None,
                   help="show-clusters k (default: floor(sqrt(n_units)))")
    p.add_argument("--timestr", default=None,
                   help="show-edges-temporal-sort %%Y%%m%%d(_%%H%%M%%S) query time")
    p.add_argument("--reverse", action="store_true", help="reverse the sort")
    p.add_argument(
        "--ate-threshold", type=float, default=None,
        help="optional ate_prune filter before edge ranking "
             "(reference OPT_THRESHOLD)",
    )


_DOC_CMDS = frozenset({
    "dedup-docs", "ann-topk", "pca-embeddings", "sample-docs", "pack-docs", "vocab",
    "curate-docs", "chunk-docs", "budget-docs", "mix-docs",
})


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="logdag_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    for cmd in (
        "make-evdb", "make-dag", "make-dag-stdin", "make-args", "show-args",
        "show-edge", "show-edge-list",
        "show-stats", "show-edges", "show-list",
        "show-node-list", "dump-events", "show-group-stats", "show-subgraphs",
        "show-netsize", "show-netsize-list", "show-node-ts",
        "show-full-config", "show-default-config",
        "show-stats-by-threshold", "update-event-label", "plot-dag",
        "plot-node-ts", "add-trouble", "add-lids", "label-trouble",
        "list-trouble",
        "add-lids-stdin", "show-lids", "list-group", "list-trouble-stat",
        "search-trouble", "show-trouble", "show-match", "show-match-all",
        "show-match-info", "show-snmp-stats", "drop-features",
        "search-gid", "show-major-edges", "show-minor-edges",
        "show-edges-temporal-sort", "show-dag-anomaly-score",
        "search-similar-dag", "show-clusters",
        "show-diff-info", "show-diff-edges", "show-graph-common-edges",
        "show-graph-lor-edges", "show-graph-diff-direction",
        "show-graph-diff-lts", "show-graph-diff-search",
        "draw-graph-common", "draw-graph-diff",
        "list-trouble-label", "show-trouble-info", "show-match-diff",
        "reload-area",
        "dump-input", "lineage", "dedup-docs", "ann-topk", "pca-embeddings",
        "sample-docs", "pack-docs", "vocab", "curate-docs",
        "chunk-docs", "budget-docs", "mix-docs",
    ):
        _common(sub.add_parser(cmd))
    args = ap.parse_args(argv)

    # config introspection (reference __main__.py:353-360) is pure
    # dataclass printing: no reason to pay a JVM session launch
    if args.cmd in ("show-full-config", "show-default-config"):
        import dataclasses

        if args.cmd == "show-default-config":
            cfg = PipelineConfig()
        else:
            cfg = PipelineConfig(
                cause_algorithm=args.algorithm, ci_func=args.ci_func,
                ci_bin_size=args.bin_size, warehouse=args.warehouse,
                lingam_algorithm=args.lingam_algorithm,
            )
        for f in dataclasses.fields(cfg):
            print(f"{f.name} = {getattr(cfg, f.name)!r}")
        return 0

    # pure file-side ticket CRUD: no reason to pay a JVM session launch
    # for a command that appends a few bytes of JSON
    if args.cmd in (
        "add-trouble", "add-lids", "add-lids-stdin", "label-trouble",
        "show-lids", "list-group", "list-trouble-stat", "search-trouble",
    ):
        import json

        from logdag_spark.operators import dagio

        tpath = args.trouble_path or os.path.join(args.warehouse, "troubles")

        def _tickets() -> list[dict]:
            out = []
            if os.path.isdir(tpath):
                for name in sorted(os.listdir(tpath)):
                    if name.endswith(".json"):
                        with open(os.path.join(tpath, name)) as f:
                            out.append(json.load(f))
            return out

        if args.cmd == "add-lids-stdin":
            # reference eval/__main__.py:443-445: identifiers one per line
            if args.tid is None:
                ap.error("add-lids-stdin needs --tid")
            idents = [x for x in sys.stdin.read().split() if x]
            if not idents:
                ap.error("add-lids-stdin expects identifiers on stdin")
            try:
                dagio.add_trouble_identifiers(tpath, args.tid, idents)
            except FileNotFoundError:
                ap.error(f"no trouble ticket {args.tid} in {tpath}")
            return 0
        if args.cmd == "show-lids":
            if args.tid is None:
                ap.error("show-lids needs --tid")
            hit = [t for t in _tickets() if int(t["tid"]) == args.tid]
            if not hit:
                ap.error(f"no trouble ticket {args.tid} in {tpath}")
            for ident in hit[0].get("identifiers", []):
                print(ident)
            return 0
        if args.cmd == "list-group":
            # reference eval/__main__.py:452-454: tickets per group
            from collections import Counter

            for g, n in sorted(
                Counter(t.get("group") for t in _tickets()).items(),
                key=lambda kv: (kv[0] is None, kv[0]),
            ):
                print(f"{g}\t{n}")
            return 0
        if args.cmd == "list-trouble-stat":
            # reference eval/__main__.py:455-457: message counts per ticket
            for t in _tickets():
                print(
                    f"{str(t['tid']).zfill(4)}\t{t.get('group')}\t"
                    f"{len(t.get('identifiers', []))}"
                )
            return 0
        if args.cmd == "search-trouble":
            # reference eval/__main__.py:470-472: tickets whose messages
            # match the given identifier substrings
            if not args.identifiers:
                ap.error("search-trouble needs --identifiers SUBSTR...")
            for t in _tickets():
                idents = t.get("identifiers", [])
                if any(s in i for s in args.identifiers for i in idents):
                    print(f"{str(t['tid']).zfill(4)}\t{t.get('group')}\t"
                          f"{t.get('title')}")
            return 0
        if args.cmd == "add-trouble":
            if not (args.date and args.group and args.title):
                ap.error("add-trouble needs --date --group --title")
            print(dagio.add_trouble(tpath, args.date, args.group, args.title))
        elif args.cmd == "add-lids":
            if args.tid is None or not args.identifiers:
                ap.error("add-lids needs --tid and --identifiers")
            try:
                dagio.add_trouble_identifiers(tpath, args.tid, args.identifiers)
            except FileNotFoundError:
                ap.error(f"no trouble ticket {args.tid} in {tpath}")
        else:
            # reference eval/__main__.py:49-55: relabel a ticket's group
            if args.tid is None or not args.group:
                ap.error("label-trouble needs --tid and --group")
            try:
                dagio.update_trouble(tpath, args.tid, group=args.group)
            except FileNotFoundError:
                ap.error(f"no trouble ticket {args.tid} in {tpath}")
        return 0

    spark = get_spark(app_name=f"logdag_{args.cmd}", cores=args.cores)
    from logdag_spark import fixtures as fx
    from logdag_spark.fixtures.generator import DEFAULT_T0
    from logdag_spark.io.catalog import Catalog

    cat = Catalog(spark, args.warehouse, iceberg_catalog=args.iceberg_catalog)
    cfg = PipelineConfig(
        cause_algorithm=args.algorithm, ci_func=args.ci_func,
        ci_bin_size=args.bin_size, warehouse=args.warehouse,
        lingam_algorithm=args.lingam_algorithm,
    )
    dt_range = (DEFAULT_T0, DEFAULT_T0 + timedelta(hours=24))

    if args.cmd in ("make-evdb", "make-dag", "make-dag-stdin"):
        from logdag_spark.pipeline.runner import run_pipeline

        units = None
        run_cat = cat
        if args.cmd == "make-dag-stdin":
            # reference __main__.py:517-519: unit names arrive one per
            # line on stdin (pipeline-processing interface).  Each unit
            # batch checkpoints under its own warehouse subtree — the
            # reference keys output files by argument name the same way;
            # sharing the full-run tables would make the manifest-gated
            # resume return the UNRESTRICTED edges
            units = sorted({u for u in sys.stdin.read().split() if u})
            if not units:
                ap.error("make-dag-stdin expects unit names on stdin")
            sub = os.path.join(args.warehouse, "stdin", "_".join(units)[:128])
            run_cat = Catalog(spark, sub, iceberg_catalog=args.iceberg_catalog)
        tokens = fx.contract(fx.gen_tokens(spark, scale=args.scale))
        res = run_pipeline(
            spark, tokens, fx.host_meta(spark), fx.template_dim(spark),
            dt_range, cfg, catalog=run_cat, apply_filters=not args.no_filters,
            units=units,
            # dims are driver-resident configuration: skip the two
            # per-run collect jobs (pure serial; matters for chunked
            # make-dag-stdin batches that each call run_pipeline)
            hosts=fx.host_rows(),
            template_specs=[
                (s["gid"], s["pattern"]) for s in fx.template_specs()
            ],
        )
        if args.cmd == "make-evdb":
            res.sink_counts().show(truncate=False)
        else:
            res.edges.groupBy("unit").count().show(truncate=False)
    elif args.cmd == "make-args":
        # reference __main__.py:511-513: materialize the per-unit argument
        # list so later per-unit commands (and show-args) can read it
        from logdag_spark.pipeline.correlate import make_unit_hosts

        uh = make_unit_hosts(spark, dt_range, cfg, fx.host_meta(spark))
        cat.write(uh, "unit_args", stage="make-args")
        print(f"{uh.select('unit').distinct().count()} units")
    elif args.cmd == "show-args":
        # reference __main__.py:141-150: exits cleanly when make-args has
        # not run yet
        from pyspark.sql import functions as F

        try:
            uh = cat.read("unit_args")
        except Exception:
            ap.error("argument table not found — run make-args first")
        uh.groupBy("unit").agg(
            F.count("*").alias("n_hosts"),
            F.min("dts").alias("dts"), F.max("dte").alias("dte"),
        ).orderBy("unit").show(200, truncate=False)
    elif args.cmd == "show-stats":
        from logdag_spark.operators.graphops import dag_stats

        dag_stats(cat.read("dag_edges"), cat.read("event_dim")).show(truncate=False)
    elif args.cmd in ("show-edges", "show-edge-list", "show-edge"):
        from pyspark.sql import functions as F

        from logdag_spark.operators.graphops import edges_with_nodes, f_edge_search

        e = edges_with_nodes(cat.read("dag_edges"), cat.read("event_dim"))
        if args.cmd == "show-edge":
            # reference __main__.py:153-185: node= / gid= / host= filters;
            # host is a substring match, gid matches either endpoint
            cond: dict[str, str] = {}
            for c in args.conditions:
                if "=" not in c:
                    ap.error(f"bad condition {c!r} (want key=value)")
                k, _, v = c.partition("=")
                if k not in ("node", "gid", "host"):
                    ap.error(f"unknown condition key {k!r} (node|gid|host)")
                cond[k] = v
            if not cond:
                ap.error("show-edge needs --conditions (node=|gid=|host=)")
            e = f_edge_search(e, gid=cond.get("gid"), host_substr=cond.get("host"))
            if "node" in cond:
                eid = int(cond["node"])
                e = e.where((F.col("src_eid") == eid) | (F.col("dst_eid") == eid))
        e.select(
            "unit", "src_id", "dst_id", "directed", "weight"
        ).show(200, truncate=False)
    elif args.cmd == "show-list":
        # reference __main__.py:230-240: abstracted per-DAG node/edge counts
        from logdag_spark.operators.graphops import dag_stats

        dag_stats(cat.read("dag_edges"), cat.read("event_dim")).select(
            "unit", "n_nodes", "n_edges"
        ).orderBy("unit").show(200, truncate=False)
    elif args.cmd == "show-node-list":
        # reference __main__.py:242-250: "eid: node description" per unit
        cat.read("event_dim").select(
            "unit", "eid", "identifier"
        ).orderBy("unit", "eid").show(500, truncate=False)
    elif args.cmd == "dump-events":
        # reference __main__.py:124-140: event definitions with source
        # information — the full event dim, one row per (unit, eid)
        cat.read("event_dim").orderBy("unit", "eid").show(500, truncate=False)
    elif args.cmd == "show-group-stats":
        # reference __main__.py:300-323: per-group node / edge-endpoint /
        # log-count table.  Edges count once per ENDPOINT group (the
        # reference increments d_edge for both src and dst); logs are the
        # series totals the event dim already carries.
        from pyspark.sql import functions as F

        evdim = cat.read("event_dim")
        if "group" not in evdim.columns:
            gid_groups = fx.template_dim(spark).select(
                F.col("gid").cast("string").alias("key"), "group"
            )
            evdim = evdim.join(F.broadcast(gid_groups), "key", "left").withColumn(
                "group", F.coalesce("group", F.lit("snmp"))
            )
        nodes = evdim.groupBy("group").agg(
            F.count("*").alias("nodes"), F.sum("total").alias("logs")
        )
        ev_g = evdim.select("unit", "eid", "group")
        edges = cat.read("dag_edges")
        endpoints = edges.select(
            "unit", F.col("src_eid").alias("eid")
        ).unionAll(edges.select("unit", F.col("dst_eid").alias("eid")))
        edge_g = endpoints.join(ev_g, ["unit", "eid"]).groupBy("group").agg(
            F.count("*").alias("edges")
        )
        nodes.join(edge_g, "group", "left").na.fill(0).orderBy("group").show(
            truncate=False
        )
    elif args.cmd == "show-subgraphs":
        # reference __main__.py:549-552: the edges inside each connected
        # subgraph (the size DISTRIBUTION is show-netsize)
        from pyspark.sql import functions as F

        from logdag_spark.operators.graphops import connected_components

        comp = connected_components(cat.read("dag_edges"), cat.read("event_dim"))
        src_c = comp.select(
            "unit", F.col("eid").alias("src_eid"), "component"
        )
        cat.read("dag_edges").join(src_c, ["unit", "src_eid"]).select(
            "unit", "component", "src_eid", "dst_eid", "weight"
        ).orderBy("unit", "component", "src_eid", "dst_eid").show(
            200, truncate=False
        )
    elif args.cmd in ("show-netsize", "show-netsize-list"):
        # reference __main__.py:339-351: component-size distribution /
        # per-unit component sizes
        from pyspark.sql import functions as F

        from logdag_spark.operators.graphops import (
            connected_components,
            netsize_distribution,
        )

        comp = connected_components(cat.read("dag_edges"), cat.read("event_dim"))
        if args.cmd == "show-netsize":
            netsize_distribution(comp).show(truncate=False)
        else:
            comp.groupBy("unit", "component").agg(
                F.count("*").alias("size")
            ).orderBy("unit", F.desc("size"), "component").show(
                200, truncate=False
            )
    elif args.cmd == "show-node-ts":
        # reference __main__.py:325-336: node time-series as CSV on stdout
        from pyspark.sql import functions as F

        if not args.node_ids:
            ap.error("show-node-ts needs --node-ids")
        rows = (
            cat.read("unit_matrix")
            .where(F.col("eid").isin(args.node_ids))
            .orderBy("unit", "eid", "bin")
            .collect()
        )
        print("unit,eid,bin,cnt")
        for r in rows:
            print(f"{r['unit']},{r['eid']},{r['bin']},{r['cnt']}")
    elif args.cmd == "plot-dag":
        # reference __main__.py:364-378 renders via graphviz; here the
        # DOT source itself is the artifact (render-free runtime)
        from logdag_spark.operators.dagio import export_dot

        out_dir = args.out or os.path.join(args.warehouse, "dot")
        paths = export_dot(cat.read("dag_edges"), cat.read("event_dim"), out_dir)
        for p in paths:
            print(p)
    elif args.cmd == "plot-node-ts":
        # reference __main__.py:381-390 renders the node series via
        # matplotlib; the series data itself is the render-free artifact
        from pyspark.sql import functions as F

        if not args.node_ids:
            ap.error("plot-node-ts needs --node-ids")
        ts = (
            cat.read("unit_matrix")
            .where(F.col("eid").isin(args.node_ids))
            .orderBy("unit", "eid", "bin")
        )
        if args.out:
            ts.write.mode("overwrite").option("header", "true").csv(args.out)
            print(f"wrote {args.out}")
        else:
            ts.show(200, truncate=False)
    elif args.cmd == "list-trouble":
        from logdag_spark.operators import dagio

        tpath = args.trouble_path or os.path.join(args.warehouse, "troubles")
        dagio.list_troubles(spark, tpath).show(200, truncate=False)
    elif args.cmd == "show-stats-by-threshold":
        # reference __main__.py:289-297: surviving-edge totals for each
        # ate_prune threshold 0.0 .. 0.9
        from logdag_spark.operators.graphops import stats_by_threshold

        stats_by_threshold(cat.read("dag_edges")).show(truncate=False)
    elif args.cmd == "update-event-label":
        # reference __main__.py:87-110: reload the gid->group mapping and
        # rewrite the evmap's group tags (unmapped keys keep theirs)
        from pyspark.sql import functions as F

        from logdag_spark.operators.graphops import update_event_labels

        gid_groups = fx.template_dim(spark).select(
            F.col("gid").cast("string").alias("gid"), "group"
        )
        updated = update_event_labels(cat.read("event_dim"), gid_groups)
        # materialize before the overwrite: the plan otherwise reads the
        # very files the write is replacing (event_dim is a small dim)
        cat.write(
            updated.localCheckpoint(eager=True), "event_dim",
            stage="update-event-label",
        )
        cat.read("event_dim").groupBy("group").count().show(truncate=False)
    elif args.cmd == "show-trouble":
        # reference eval/__main__.py:464-466: the raw messages behind a
        # ticket — events whose host:key identifier is in the ticket set
        from pyspark.sql import functions as F

        from logdag_spark.operators.dagio import load_trouble_tickets

        if args.tid is None:
            ap.error("show-trouble needs --tid")
        tpath = args.trouble_path or os.path.join(args.warehouse, "troubles")
        t = load_trouble_tickets(spark, tpath).where(
            F.col("tid") == str(args.tid).zfill(4)
        )
        ev = cat.read("events_ts").withColumn(
            "identifier", F.concat_ws(":", "host", "key")
        )
        ev.join(F.broadcast(t), "identifier").select(
            "tid", "ts", "host", "key", "measure", "val"
        ).orderBy("ts").show(200, truncate=False)
    elif args.cmd in ("show-match", "show-match-all", "show-match-info"):
        # reference eval/__main__.py:473-494: ticket<->edge matching via
        # the J8 operator; -info abstracts to per-ticket counts
        from pyspark.sql import functions as F

        from logdag_spark.operators.dagio import load_trouble_tickets
        from logdag_spark.operators.graphops import match_trouble_edges

        tpath = args.trouble_path or os.path.join(args.warehouse, "troubles")
        trouble = load_trouble_tickets(spark, tpath)
        if args.cmd == "show-match":
            if args.tid is None:
                ap.error("show-match needs --tid")
            trouble = trouble.where(F.col("tid") == str(args.tid).zfill(4))
        matched = match_trouble_edges(
            cat.read("dag_edges"), cat.read("event_dim"), trouble,
            rule=args.rule,
        )
        if args.cmd == "show-match-info":
            matched.groupBy("tid").agg(
                F.count("*").alias("n_matched_edges"),
                F.countDistinct("unit").alias("n_units"),
            ).orderBy("tid").show(200, truncate=False)
        else:
            matched.orderBy("tid", "unit", "src_eid", "dst_eid").show(
                200, truncate=False
            )
    elif args.cmd == "search-gid":
        # reference visual/__main__.py:21-28: list DAG edges touching a gid
        from logdag_spark.operators.graphops import edges_with_nodes, f_edge_search

        if args.gid is None:
            ap.error("search-gid needs --gid")
        e = edges_with_nodes(cat.read("dag_edges"), cat.read("event_dim"))
        f_edge_search(e, gid=args.gid).select(
            "unit", "src_id", "dst_id", "directed", "weight"
        ).orderBy("unit", "src_id", "dst_id").show(200, truncate=False)
    elif args.cmd in ("show-major-edges", "show-minor-edges"):
        # reference visual/__main__.py:31-91 (edge_search.show_sorted_edges):
        # edges ranked by tfidf/idf/count, major = descending, minor =
        # ascending; optional ate_prune filter first
        from pyspark.sql import functions as F

        from logdag_spark.operators.graphops import edge_tfidf, f_ate_prune

        edges = cat.read("dag_edges")
        if args.ate_threshold is not None:
            edges = f_ate_prune(edges, args.ate_threshold)
        t = edge_tfidf(edges, cat.read("event_dim"))
        col = {"tfidf": "tfidf", "idf": "idf", "count": "cnt"}[args.edge_score]
        order = F.asc(col) if args.cmd == "show-minor-edges" else F.desc(col)
        t.orderBy(order, "unit", "pair_key").show(args.count, truncate=False)
    elif args.cmd == "show-edges-temporal-sort":
        # reference visual/__main__.py:93-129: edges sorted by the
        # count-weighted mean distance of their endpoints from a query time
        from datetime import datetime

        from pyspark.sql import functions as F

        from logdag_spark.operators.graphops import temporal_edge_sort

        if not args.timestr:
            ap.error("show-edges-temporal-sort needs --timestr")
        fmt = "%Y%m%d_%H%M%S" if "_" in args.timestr else "%Y%m%d"
        qts = datetime.strptime(args.timestr, fmt)
        out = temporal_edge_sort(
            cat.read("dag_edges"), cat.read("event_dim"),
            cat.read("unit_matrix"), qts,
        )
        if args.reverse:
            out = out.orderBy(F.desc("score"))
        out.show(args.count, truncate=False)
    elif args.cmd == "show-dag-anomaly-score":
        # reference visual/__main__.py:132-148: per-unit sum of edge scores
        from pyspark.sql import functions as F

        from logdag_spark.operators.graphops import anomaly_score, edge_tfidf

        s = anomaly_score(
            edge_tfidf(cat.read("dag_edges"), cat.read("event_dim"))
        )
        s.orderBy(
            F.asc("score") if args.reverse else F.desc("score"), "unit"
        ).show(200, truncate=False)
    elif args.cmd == "search-similar-dag":
        # reference visual/__main__.py:151-162: top-n units by edge-set cosine
        from logdag_spark.operators.graphops import similar_dags_topn

        if not args.unit:
            ap.error("search-similar-dag needs --unit")
        similar_dags_topn(
            cat.read("dag_edges"), cat.read("event_dim"), args.unit,
            n=args.k if args.k is not None else 10,
        ).show(truncate=False)
    elif args.cmd == "show-clusters":
        # reference visual/__main__.py:165-172 (edge_search.show_clusters):
        # kmeans over unit DAG vectors + the common components (top gmean
        # features) of every multi-member cluster
        from pyspark.sql import functions as F

        from logdag_spark.operators.graphops import (
            cluster_common_components,
            dag_vectors,
            kmeans_units,
        )

        vec = dag_vectors(
            cat.read("dag_edges"), cat.read("event_dim"),
            space=args.feature, weight=args.score_weight,
        ).persist()
        n_units = vec.select("unit").distinct().count()
        if n_units == 0:
            ap.error("no DAG units in the warehouse — run make-dag first")
        k = args.n_clusters or max(1, int(n_units ** 0.5))
        assign = kmeans_units(vec, k=k)
        assign.orderBy("cluster", "unit").show(200, truncate=False)
        # bounded driver loop: one row per unit (days), not corpus-scale
        by_cluster: dict[int, list[str]] = {}
        for r in assign.collect():
            by_cluster.setdefault(r["cluster"], []).append(r["unit"])
        for cid in sorted(by_cluster):
            members = sorted(by_cluster[cid])
            print(f"cluster {cid}: {members}")
            if len(members) >= 2:
                top = cluster_common_components(vec, members).limit(10).collect()
                for t in top:
                    print(f"  {t['feat']}\t{t['gmean']:.6f}")
        vec.unpersist()
    elif args.cmd in (
        "show-diff-info", "show-diff-edges", "show-graph-common-edges",
        "show-graph-lor-edges", "show-graph-diff-direction",
        "show-graph-diff-lts", "show-graph-diff-search",
        "draw-graph-common", "draw-graph-diff", "show-match-diff",
    ):
        # reference visual/__main__.py:218-394 / eval/__main__.py:242-288:
        # two-DAG-set comparisons; the second config file becomes a second
        # warehouse
        from pyspark.sql import functions as F

        from logdag_spark.operators.graphops import (
            direction_diff,
            edge_pair_key,
            edges_common,
            edges_diff,
            edges_lor,
            edges_with_nodes,
        )

        if not args.warehouse2:
            ap.error(f"{args.cmd} needs --warehouse2")
        cat2 = Catalog(spark, args.warehouse2, iceberg_catalog=args.iceberg_catalog)
        ev1, ev2 = cat.read("event_dim"), cat2.read("event_dim")
        raw1, raw2 = cat.read("dag_edges"), cat2.read("dag_edges")
        e1 = edges_with_nodes(raw1, ev1)
        e2 = edges_with_nodes(raw2, ev2)
        if args.cmd == "show-match-diff":
            # eval/__main__.py:242-288: per-ticket match counts under both
            # configs; print details only where the counts differ
            from logdag_spark.operators.dagio import load_trouble_tickets
            from logdag_spark.operators.graphops import match_trouble_edges

            tpath = args.trouble_path or os.path.join(args.warehouse, "troubles")
            if not os.path.isdir(tpath):
                ap.error(f"no trouble store at {tpath}")
            trouble = load_trouble_tickets(spark, tpath)
            m1 = match_trouble_edges(raw1, ev1, trouble, rule=args.rule)
            m2 = match_trouble_edges(raw2, ev2, trouble, rule=args.rule)
            c1 = m1.groupBy("tid").agg(F.count("*").alias("n_1"))
            c2 = m2.groupBy("tid").agg(F.count("*").alias("n_2"))
            diff = (
                c1.join(c2, "tid", "full_outer")
                .na.fill(0, ["n_1", "n_2"])
                .where(F.col("n_1") != F.col("n_2"))
                .orderBy("tid")
            )
            diff.show(200, truncate=False)
            tids = [r["tid"] for r in diff.select("tid").collect()]
            if tids:
                print(f"-- edges under {args.warehouse}")
                m1.where(F.col("tid").isin(tids)).orderBy(
                    "tid", "unit", "src_eid", "dst_eid"
                ).show(200, truncate=False)
                print(f"-- edges under {args.warehouse2}")
                m2.where(F.col("tid").isin(tids)).orderBy(
                    "tid", "unit", "src_eid", "dst_eid"
                ).show(200, truncate=False)
        elif args.cmd == "show-diff-info":
            # visual/__main__.py:218-247: lor/common/diff1/diff2 totals
            n_common = edges_common(e1, e2).count()
            n_lor = edges_lor(e1, e2).count()
            n_d1 = edges_diff(e1, e2).count()
            n_d2 = edges_diff(e2, e1).count()
            print(f"Logical OR edges: {n_lor}")
            print(f"Common edges: {n_common}")
            print(f"Edges only found in {args.warehouse}: {n_d1}")
            print(f"Edges only found in {args.warehouse2}: {n_d2}")
        elif args.cmd == "show-diff-edges":
            # visual/__main__.py:249-278: per-unit listing of edges in
            # set 1 but not set 2
            edges_diff(e1, e2).orderBy("unit", "pair_key").show(
                500, truncate=False
            )
        elif args.cmd in ("show-graph-common-edges", "show-graph-lor-edges"):
            # visual/__main__.py:281-325: total + per-unit counts
            op = edges_common if args.cmd == "show-graph-common-edges" else edges_lor
            tag = "common" if args.cmd == "show-graph-common-edges" else \
                "logical disjunction"
            res = op(e1, e2).persist()
            print(f"{tag} edge num: {res.count()}")
            res.groupBy("unit").count().orderBy("unit").show(200, truncate=False)
            res.unpersist()
        elif args.cmd == "show-graph-diff-direction":
            # visual/__main__.py:360-394: common pairs with differing
            # orientation, plus the total
            d = direction_diff(e1, e2)
            if args.unit:
                d = d.where(F.col("unit") == args.unit)
            d = d.orderBy("unit", "pair_key").persist()
            d.show(200, truncate=False)
            print(d.count())
            d.unpersist()
        elif args.cmd in ("show-graph-diff-lts", "show-graph-diff-search"):
            # visual/__main__.py:327-357: gids behind the diff edges —
            # per-gid unit counts (-lts) or the units for one gid (-search)
            diff = edges_diff(e1, e2)
            keyed = edge_pair_key(e1).join(diff, ["unit", "pair_key"], "left_semi")
            gids = keyed.select(
                "unit", F.explode(F.array("src_key", "dst_key")).alias("gid")
            ).distinct()
            if args.cmd == "show-graph-diff-search":
                if args.gid is None:
                    ap.error("show-graph-diff-search needs --gid")
                gids.where(F.col("gid") == args.gid).orderBy("unit").show(
                    200, truncate=False
                )
            else:
                gids.groupBy("gid").agg(
                    F.count("*").alias("n_units"),
                    F.sort_array(F.collect_set("unit")).alias("units"),
                ).orderBy(F.desc("n_units"), "gid").show(200, truncate=False)
        else:  # draw-graph-common / draw-graph-diff
            # visual/__main__.py:176-215 render via matplotlib; the DOT
            # source is the render-free artifact (same as plot-dag)
            from logdag_spark.operators.dagio import export_dot

            op = edges_common if args.cmd == "draw-graph-common" else edges_diff
            subset = op(e1, e2)
            kept = edge_pair_key(e1).join(
                subset, ["unit", "pair_key"], "left_semi"
            ).select(raw1.columns)
            sub = "dot_common" if args.cmd == "draw-graph-common" else "dot_diff"
            out_dir = args.out or os.path.join(args.warehouse, sub)
            for p in export_dot(kept, ev1, out_dir):
                print(p)
    elif args.cmd in ("list-trouble-label", "show-trouble-info"):
        # reference eval/__main__.py:117-167: ticket event stats — related
        # events/hosts/templates and the per-group message breakdown
        from pyspark.sql import functions as F

        from logdag_spark.operators.dagio import list_troubles, load_trouble_tickets

        tpath = args.trouble_path or os.path.join(args.warehouse, "troubles")
        if not os.path.isdir(tpath):
            ap.error(f"no trouble store at {tpath}")
        trouble = load_trouble_tickets(spark, tpath)
        tickets = list_troubles(spark, tpath)
        evdim = cat.read("event_dim")
        if "group" not in evdim.columns:
            gid_groups = fx.template_dim(spark).select(
                F.col("gid").cast("string").alias("key"), "group"
            )
            evdim = evdim.join(F.broadcast(gid_groups), "key", "left").withColumn(
                "group", F.coalesce("group", F.lit("snmp"))
            )
        # identifier-level event stats (units collapse: the reference
        # counts one event per (host, gid) across the whole period)
        ev = evdim.groupBy("identifier").agg(
            F.first("host").alias("host"),
            F.first("key").alias("key"),
            F.first("group").alias("ev_group"),
            F.sum("total").alias("msgs"),
        )
        hit = trouble.join(ev, "identifier")
        if args.cmd == "list-trouble-label":
            per_group = (
                hit.groupBy("tid", "ev_group")
                .agg(
                    F.countDistinct("key").alias("n_templates"),
                    F.sum("msgs").alias("n_msgs"),
                )
                .join(tickets.select("tid", "group"), "tid", "left")
                .select("tid", "group", "ev_group", "n_templates", "n_msgs")
                .orderBy("tid", F.desc("n_templates"), "ev_group")
            )
            per_group.show(200, truncate=False)
        else:
            if args.tid is None:
                ap.error("show-trouble-info needs --tid")
            tid = str(args.tid).zfill(4)
            trow = [t for t in tickets.collect() if t["tid"] == tid]
            if not trow:
                ap.error(f"no trouble ticket {args.tid} in {tpath}")
            t = trow[0]
            print(
                f"ticket {t['tid']} date={t['date']} group={t['group']} "
                f"title={t['title']!r}"
            )
            mine = hit.where(F.col("tid") == tid).persist()
            n_ev = mine.count()
            hosts = sorted(
                r["host"] for r in mine.select("host").distinct().collect()
            )
            keys = sorted(
                r["key"] for r in mine.select("key").distinct().collect()
            )
            print(f"{n_ev} related events")
            print(f"{len(hosts)} related hosts: {hosts}")
            print(f"{len(keys)} related templates: {keys}")
            for g in (
                mine.groupBy("ev_group")
                .agg(
                    F.sum("msgs").alias("msgs"),
                    F.sort_array(F.collect_set("key")).alias("keys"),
                )
                .orderBy("ev_group")
                .collect()
            ):
                print(
                    f"  group {g['ev_group']}: {g['msgs']} messages, "
                    f"{len(g['keys'])} templates {list(g['keys'])}"
                )
            mine.unpersist()
    elif args.cmd == "reload-area":
        # reference __main__.py:30-33 (tsdb.reload_area): re-read the area
        # definition into the stored arguments
        from logdag_spark.pipeline.correlate import make_unit_hosts

        uh = make_unit_hosts(spark, dt_range, cfg, fx.host_meta(spark))
        # materialize before overwrite: the plan must not read the files
        # the write replaces (same pattern as update-event-label)
        cat.write(
            uh.localCheckpoint(eager=True), "unit_args", stage="reload-area"
        )
        print(f"{cat.read('unit_args').select('unit').distinct().count()} units")
    elif args.cmd == "show-snmp-stats":
        # reference source/__main__.py:199-201: event counts per
        # telemetry feature measure (everything routed off the log sink)
        from pyspark.sql import functions as F

        cat.read("events_ts").where(
            ~F.col("measure").isin("log_feature", "unparsed")
        ).groupBy("measure").agg(
            F.count("*").alias("n_rows"),
            F.sum("val").alias("total_val"),
            F.countDistinct("host", "key").alias("n_series"),
        ).orderBy("measure").show(truncate=False)
    elif args.cmd == "drop-features":
        # reference source/__main__.py:202-205: drop derived feature
        # data, keep original data — here the derived stage checkpoints
        # downstream of the raw events_ts table
        for t in ("binned", "event_dim", "unit_matrix", "dag_edges"):
            print(f"{t}: {'dropped' if cat.drop(t) else 'absent'}")
    elif args.cmd == "dump-input":
        # S9: write the per-unit input matrix as CSV (reference
        # __main__.py:111-121 dumps TSV); without --out, preview
        mat = cat.read("unit_matrix").orderBy("unit", "eid", "bin")
        if args.out:
            mat.write.mode("overwrite").option("header", "true").csv(args.out)
            print(f"wrote {args.out}")
        else:
            mat.show(100)
    elif args.cmd == "lineage":
        cat.stage_metrics().show(truncate=False)
    elif args.cmd == "dedup-docs":
        from logdag_spark.operators import dedup

        method = args.method or "exact"
        if method not in ("exact", "minhash"):
            ap.error(f"dedup-docs --method must be exact|minhash, got {method!r}")
        docs = spark.read.parquet(args.input)
        if method == "exact":
            out = dedup.exact_dup_groups(docs)
        else:
            out = dedup.minhash_lsh_candidates(docs)
        out.show(100, truncate=False)
        if args.out:
            out.write.mode("overwrite").parquet(args.out)
            print(f"wrote {args.out}")
    elif args.cmd == "pca-embeddings":
        from logdag_spark.operators.similarity import pca_project

        k = args.k if args.k is not None else 16
        emb = spark.read.parquet(args.input)
        out, W, evals = pca_project(emb, k=k)
        print("explained variances:", [round(float(v), 6) for v in evals])
        out.show(10, truncate=False)
        if args.out:
            out.write.mode("overwrite").parquet(args.out)
            print(f"wrote {args.out}")
    elif args.cmd == "ann-topk":
        from pyspark.sql import functions as F

        from logdag_spark.operators import similarity

        emb = spark.read.parquet(args.input)
        dim = len(emb.select("embedding").first()["embedding"])
        if args.queries:
            q = spark.read.parquet(args.queries)
            qdim = len(q.select("embedding").first()["embedding"])
            if qdim != dim:
                ap.error(
                    f"query dim {qdim} != corpus dim {dim} "
                    f"({args.queries} vs {args.input})"
                )
        else:
            q = emb.where(F.col("vec_id") < 20)
        # external query files have their own id space: an id collision
        # with a corpus vec_id must NOT drop that corpus neighbor
        excl = args.queries is None
        method = args.method or "ivf"
        k = args.k if args.k is not None else 10
        if method == "ivf":
            out = similarity.ivf_topk(emb, q, dim=dim, k=k, exclude_self=excl)
        elif method == "lsh":
            out = similarity.lsh_topk(emb, q, dim=dim, k=k, exclude_self=excl)
        elif method == "brute":
            out = similarity.brute_force_topk(emb, q, k=k, exclude_self=excl)
        else:
            ap.error(f"ann-topk --method must be ivf|lsh|brute, got {method!r}")
        out.orderBy("query_id", "rank").show(100, truncate=False)
        if args.out:
            out.write.mode("overwrite").parquet(args.out)
            print(f"wrote {args.out}")
    elif args.cmd == "sample-docs":
        from logdag_spark.operators import sampling

        method = args.method or "split"
        if method not in ("split", "sample"):
            ap.error(f"sample-docs --method must be split|sample, got {method!r}")
        docs = spark.read.parquet(args.input)
        if method == "split":
            out = sampling.hash_split(docs)
        else:
            try:
                out = sampling.hash_sample(docs, args.rate)
            except ValueError as e:
                ap.error(f"sample-docs --rate: {e}")
        out.groupBy(*(["split"] if "split" in out.columns else [])).count().show()
        if args.out:
            out.write.mode("overwrite").parquet(args.out)
            print(f"wrote {args.out}")
    elif args.cmd == "pack-docs":
        from logdag_spark.operators.text import pack_sequences

        docs = spark.read.parquet(args.input)
        out = pack_sequences(docs, capacity=args.capacity)
        out.select(
            "doc_id", "source", "n_tok", "pack_shard", "pack_bin", "bin_offset"
        ).show(50)
        if args.out:
            out.write.mode("overwrite").parquet(args.out)
            print(f"wrote {args.out}")
    elif args.cmd == "vocab":
        from logdag_spark.operators.text import vocab_topk

        k = args.k if args.k is not None else 100
        docs = spark.read.parquet(args.input)
        out = vocab_topk(docs, k=k)
        out.show(k, truncate=False)
        if args.out:
            out.write.mode("overwrite").parquet(args.out)
            print(f"wrote {args.out}")
    elif args.cmd == "curate-docs":
        from logdag_spark.operators import curation

        method = args.method or "repetition"
        if method not in (
            "decontaminate", "repetition", "redact", "semantic",
            "dedup-spans", "gopher", "dedup-canonical",
        ):
            ap.error(
                "curate-docs --method must be "
                f"decontaminate|repetition|redact|semantic|dedup-spans|"
                f"gopher|dedup-canonical, got {method!r}"
            )
        data = spark.read.parquet(args.input)
        if method == "decontaminate":
            if not args.benchmark:
                ap.error("curate-docs --method decontaminate requires --benchmark")
            bench = spark.read.parquet(args.benchmark)
            out = curation.decontaminate(data, bench, n=args.ngram)
        elif method == "repetition":
            out = curation.repetition_filter(data)
        elif method == "redact":
            out = curation.pii_redact(data)
        elif method == "dedup-spans":
            out = curation.remove_dup_spans(data, n=args.ngram)
        elif method == "gopher":
            out = curation.gopher_quality(data)
        elif method == "dedup-canonical":
            # production near-dup chain -> corpus-wide keep/drop verdict:
            # LSH candidates, exact-Jaccard verification at --threshold,
            # component closure, keep the longest member per group
            from pyspark.sql import functions as F

            from logdag_spark.operators import dedup as dd

            cand = dd.minhash_lsh_candidates(data)
            verified = dd.ngram_jaccard_pairs(data, cand).where(
                F.col("jaccard") >= args.threshold
            )
            groups = dd.near_dup_groups(
                verified.select("id1", "id2")
            ).select("doc_id", "group_id")
            score = "n_chars" if "n_chars" in data.columns else None
            if score is None:
                from logdag_spark.operators.text import token_count

                data = data.withColumn("_score", token_count("text"))
                score = "_score"
            out = dd.dedup_keep_canonical(data, groups, score_col=score)
        else:  # semantic — input is an embeddings parquet
            out = curation.semantic_dedup(
                data, threshold=args.threshold, cluster_col=args.cluster_col
            )
        out.show(100, truncate=False)
        if args.out:
            out.write.mode("overwrite").parquet(args.out)
            print(f"wrote {args.out}")
    elif args.cmd == "chunk-docs":
        from logdag_spark.operators.text import chunk_documents

        if args.capacity <= 0 or not 0 <= args.overlap < args.capacity:
            ap.error(
                f"chunk-docs needs --capacity > 0 and 0 <= --overlap < capacity "
                f"(got capacity={args.capacity}, overlap={args.overlap})"
            )
        docs = spark.read.parquet(args.input)
        out = chunk_documents(docs, chunk_tokens=args.capacity, overlap=args.overlap)
        out.show(20, truncate=False)
        if args.out:
            out.write.mode("overwrite").parquet(args.out)
            print(f"wrote {args.out}")
    elif args.cmd == "budget-docs":
        from logdag_spark.operators.scan import token_budget_filter

        if args.budget is None:
            ap.error("budget-docs requires --budget")
        docs = spark.read.parquet(args.input)
        out = token_budget_filter(docs, budget=args.budget)
        out.show(20, truncate=False)
        if args.out:
            out.write.mode("overwrite").parquet(args.out)
            print(f"wrote {args.out}")
    elif args.cmd == "mix-docs":
        from logdag_spark.operators.sampling import budget_mix

        if args.budget is None or not args.weights:
            ap.error("mix-docs requires --budget and --weights src=w,src=w")
        try:
            weights = {
                k.strip(): float(v)
                for k, v in (pair.split("=", 1) for pair in args.weights.split(","))
            }
        except ValueError:
            ap.error(f"cannot parse --weights {args.weights!r} as src=w,src=w")
        docs = spark.read.parquet(args.input)
        out = budget_mix(docs, total_budget=args.budget, weights=weights)
        out.orderBy("epoch_rank").show(20, truncate=False)
        if args.out:
            out.write.mode("overwrite").parquet(args.out)
            print(f"wrote {args.out}")
    # document-pipeline commands can checkpoint their result through the
    # Catalog — the same manifest-gated commit + per-partition lineage
    # the log pipeline's stages get, so a curation run is resumable and
    # auditable (`lineage` shows it) instead of a bare parquet dump
    if args.checkpoint_table and args.cmd in _DOC_CMDS:
        from logdag_spark.io.catalog import Catalog

        cat = Catalog(spark, args.warehouse, iceberg_catalog=args.iceberg_catalog)
        cat.write(out, args.checkpoint_table, stage=args.cmd)
        print(f"checkpointed {args.checkpoint_table} in {args.warehouse}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
