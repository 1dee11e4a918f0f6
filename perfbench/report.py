#!/usr/bin/env python3
"""Summary over repeated benchmark runs: the one command that prints every
metric with its unit, median, quartiles and sample count.

    python3 perfbench/report.py --runs 10            # end-to-end metrics
    python3 perfbench/report.py --runs 2 --trace 1   # per-layer metrics
    python3 perfbench/report.py --scaling            # N -> 4N efficiency

Each run is ``run.py`` in a fresh process, seeds ``--seed0`` onwards, with
``run_seconds`` from BENCHMARK.json.  For each workload and metric the
table gives the median, the quartiles from ``statistics.quantiles(n=4)``,
n, the spread (IQR / median) and the metric's bound.  Failed operations
are summed per workload.  With ``--trace 1`` every count-valued metric must
repeat exactly across runs; one that does not is flagged.  ``--out``
appends every run's result as a JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(workload: str, seed: int, seconds: int, trace: int,
             cores: int | None = None) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if cores is not None:
        cmd += ["--cores", str(cores)]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                          timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}")
    return {**json.loads(lines[-1]), "elapsed_s": time.monotonic() - t0}


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def summarize(workload: str, results: list[dict], bounds: dict) -> None:
    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    elapsed = statistics.mean(r["elapsed_s"] for r in results)
    print(f"\n{workload}: {len(results)} runs of {elapsed:.1f} s on average, "
          f"{failed} of {attempted} operations failed")
    print(f"  {'metric':38s} {'unit':6s} {'median':>12s} {'q1':>12s} "
          f"{'q3':>12s} {'n':>3s} {'spread':>7s} {'bound':>6s}")
    names = sorted({k for r in results for k in r["metrics"]})
    for name in names:
        vals = [r["metrics"][name]["value"] for r in results if name in r["metrics"]]
        unit = next(r["metrics"][name]["unit"] for r in results if name in r["metrics"])
        q1, med, q3 = quartiles(vals)
        spread = (q3 - q1) / med if med else float("nan")
        bound = bounds.get(name)
        flag = ""
        if unit == "count" and len(set(vals)) > 1:
            flag = "  DIFFERS"
        print(f"  {name:38s} {unit:6s} {med:12.4f} {q1:12.4f} {q3:12.4f} "
              f"{len(vals):3d} {spread:7.3f} "
              f"{'' if bound is None else f'{bound:.2f}':>6s}{flag}")


def scaling(workload: str, seed: int, seconds: int) -> None:
    """N -> 4N scaling efficiency on one workload, with the pair taken from
    this process's CPU affinity; refused when 4N CPUs are not there."""
    cpus = len(os.sched_getaffinity(0))
    low = cpus // 4
    if low < 1:
        print(f"scaling: {cpus} CPUs usable, a 1 -> 4 pair needs 4: not reported")
        return
    walls = {}
    for cores in (low, 4 * low):
        r = run_once(workload, seed, seconds, 0, cores)
        walls[cores] = r["metrics"]["wall_s"]["value"]
        print(f"scaling: local[{cores}] wall_s {walls[cores]:.3f} s "
              f"({r['failed']} failed)")
    eff = walls[low] / walls[4 * low] / 4
    print(f"scaling.eff_{low}_{4 * low} = {eff:.3f}")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed0", type=int, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--workloads", nargs="*")
    p.add_argument("--scaling", action="store_true")
    p.add_argument("--out", help="append each run's JSON result to this file")
    args = p.parse_args(argv)
    spec = bench_spec()
    seconds = spec["run_seconds"]
    if args.scaling:
        scaling((args.workloads or [spec["workloads"][0]["name"]])[0],
                args.seed0, seconds)
        return 0
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for workload in args.workloads or [w["name"] for w in spec["workloads"]]:
        results = []
        for seed in range(args.seed0, args.seed0 + args.runs):
            r = run_once(workload, seed, seconds, args.trace)
            results.append(r)
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps({"workload": workload, "seed": seed,
                                        "trace": args.trace, **r}) + "\n")
        summarize(workload, results, bounds)
    return 0


if __name__ == "__main__":
    sys.exit(main())
