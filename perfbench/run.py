#!/usr/bin/env python3
"""Benchmark for the tokens -> DAG pipeline: one workload, one process.

    python3 perfbench/run.py --workload pipeline_fisherz --seed 1 \
        --seconds 10 --trace 0

Run from the root of a source checkout (the directory that holds
``logdag_spark/``).  One run:

1. starts a SparkSession on ``local[CORES]``, pinned to that many CPUs
   (it refuses to run on fewer), and registers the seeded token table and
   the dimension tables -> ``setup_s``;
2. ``--trace 0``: times the first pipeline pass of the fresh process
   (``cold_wall_s``), then ``STEADY_PASSES`` passes, more if the steady
   phase has not yet lasted ``--seconds``, and reports their median
   (``wall_s``, ``seq_per_s``);
   ``--trace 1``: runs the outside-in layer trace of ``layers.py``;
3. checks every pass's ``dag_edges`` output (row count and content hash)
   against the values recorded in ``workloads.WORKLOADS``: a pass that
   raises or returns other edges is a failed operation.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
Progress goes to stderr.  Inputs are generated once per (scale, seed) into
``.perfbench/`` at the checkout root and are not part of ``setup_s``.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()  # setup_s counts from here: before any import

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

import host  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
# timed passes after the cold one.  Fixed, so that their median sits at the
# same place on the warm-up curve in every run; more do not fit the run
# budget (BASELINE.md).
STEADY_PASSES = 2


def log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - T_PROCESS:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


# ---------------------------------------------------------------- passes


def measure(spark, inp, wl, warehouse: str, seconds: float) -> dict:
    """Cold pass, then ``STEADY_PASSES`` steady passes, continued until
    the steady phase has lasted at least ``seconds``."""
    walls, attempted, failed = [], 0, 0
    cold = None
    t_steady = None
    while True:
        attempted += 1
        try:
            wall, edges = workloads.run_pass(spark, inp, wl, warehouse)
            ok = workloads.check_edges(wl, workloads.edges_digest(edges), log)
            spark.catalog.clearCache()
        except Exception as e:  # a crashed pass is a failed operation
            log(f"pass {attempted} failed: {type(e).__name__}: {e}")
            wall, ok = None, False
        failed += not ok
        log(f"pass {attempted}: {wall} s")
        if attempted == 1:
            cold = wall if ok else None
            t_steady = time.monotonic()
        elif ok:
            walls.append(wall)
        # two failures end the run: the session may be gone (OOM kill)
        if failed >= 2 or (len(walls) >= STEADY_PASSES
                           and time.monotonic() - t_steady >= seconds):
            break
    metrics = {}
    if cold is not None:
        metrics["cold_wall_s"] = (cold, "s")
    if walls:
        wall = statistics.median(walls)
        metrics["wall_s"] = (wall, "s")
        metrics["seq_per_s"] = (inp.rows / wall, "1/s")
    return {"attempted": attempted, "failed": failed, "metrics": metrics}


# ------------------------------------------------------------------ main


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=host.CORES,
                   help="task slots; the process is pinned to this many CPUs "
                   "(default: the declared CORES)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.exists(os.path.join(ROOT, "logdag_spark", "__init__.py")):
        log(f"no logdag_spark package under {ROOT}: run from a source checkout")
        return 2
    if host.usable_cpus() < args.cores:
        log(f"{host.usable_cpus()} CPUs usable, {args.cores} declared: refusing to run")
        return 2
    wl = workloads.WORKLOADS[args.workload]
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    steal0 = host.steal_s()
    try:
        return bench(args, wl, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        log(f"host steal during the run: {host.steal_s() - steal0:.2f} CPU-s")


def bench(args, wl, scratch: str) -> int:
    host.configure(args.cores, ROOT, scratch)
    sys.path.insert(0, ROOT)
    # input generation is excluded from setup_s; the base table is made by
    # a session of its own, so the timed JVM starts cold on every run
    t_gen = time.monotonic()
    if not workloads.base_ready(WORK):
        log(f"generating base tokens at scale {workloads.SCALE:g}")
        gen = host.start_spark(args.cores)
        try:
            workloads.generate_base(gen, WORK)
        finally:
            host.stop_spark(gen)
    path = workloads.seeded_inputs(args.seed, WORK)
    gen_s = time.monotonic() - t_gen

    warehouse = os.path.join(scratch, "warehouse")
    eventlog = os.path.join(scratch, "eventlog")
    spark = host.start_spark(args.cores, layers.session_conf(eventlog) if args.trace else {})
    try:
        inp = workloads.register_inputs(spark, path)
        setup_s = time.monotonic() - T_PROCESS - gen_s
        log(f"setup {setup_s:.3f} s (inputs {gen_s:.3f} s, excluded)")
        if args.trace:
            out = layers.trace_run(spark, inp, wl, warehouse, log)
        else:
            out = measure(spark, inp, wl, warehouse, args.seconds)
            out["metrics"]["setup_s"] = (setup_s, "s")
    finally:
        host.stop_spark(spark)
    if args.trace:
        out["metrics"].update(layers.eventlog_metrics(eventlog, out.pop("spans")))
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in sorted(out["metrics"].items())},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
