#!/usr/bin/env python
"""Benchmark harness for the headline numbers.

Measures (1) the flagship tokens->DAG pipeline end to end (sequences/sec)
on the scale-``SPARK_GRAFT_BENCH_SCALE`` token table, (2) the headline
operator queries at ``$SPARK_GRAFT_SF_DIR``, and (3) N -> 4N scaling
efficiency on the same job and input, with N = CPUs // 4 taken from this
process's CPU affinity, as ``perfbench/report.py --scaling`` does (no
pair below 4 CPUs: ``scaling`` is null).

Built on the benchmark's modules: ``perfbench/host.py`` pins the CPUs,
sizes the driver heap and starts and stops every session,
``perfbench/workloads.run_pass`` is the pipeline pass (workload
``pipeline_fisherz``), and ``perfbench/report.quartiles`` the quartiles.
Each parallelism level runs in a fresh subprocess (own JVM): one untimed
warm-up pass, then TRIALS timed passes.  Every timing is reported as the
median of its trials; stderr gives the quartiles and n beside each median.
Each query's row count is checked against the value recorded for its sf
in ``QUERY_ROWS``: a mismatch fails the query, and the run exits 1.

Prints ONE JSON line:
  {"metric": ..., "value": <sum of medians, sec>, "unit": "sec",
   "queries": {name: median sec, ...}, "sf": ...,
   "pipeline": {rows, seq_per_sec, edges, cores, walls},
   "scaling": {cores_low, cores_high, rate_low, rate_high, efficiency}}

Env knobs: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default: the CPUs this process may run on; refused
above them), SPARK_GRAFT_BENCH_SCALE (default 2000),
SPARK_GRAFT_SCALING (default 1), SPARK_GRAFT_BENCH_TRIALS (default 4).
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import host  # noqa: E402
import report  # noqa: E402
import workloads  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", host.usable_cpus()))
# scale 2000 = 31.4M sequences: sized so the parallel work dominates the
# per-run fixed cost (driver scheduling, commit protocol, small
# result-side jobs).  Larger is NOT better: the generator scales series
# count with rows, and the pairwise co-occurrence cross term grows
# quadratically in surviving series (scale 3000 ran ~6x longer a pass).
BENCH_SCALE = float(os.environ.get("SPARK_GRAFT_BENCH_SCALE", "2000"))
RUN_SCALING = os.environ.get("SPARK_GRAFT_SCALING", "1") == "1"
TRIALS = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "4"))
TOKENS_PATH = f"/tmp/logdag_bench_tokens_{BENCH_SCALE}"
WORKLOAD = workloads.WORKLOADS["pipeline_fisherz"]

HEADLINE = [
    "tumbling_count_1m",
    "sliding_count_10m_5m",
    "pairwise_corr_1h",
    "daily_edges",
    "pricing_summary",
    "revenue_by_nation",
    "topk_customers",
    "token_stats",
    "minhash_lsh_candidates",
    "simhash_near_dups",
    "cosine_topk",
    "ivf_topk",
    "gsq_edges_1h",
]

# row count of each headline query, in HEADLINE order, per testdata scale factor
QUERY_ROWS: dict[float, dict[str, int]] = {
    0.001: dict(zip(HEADLINE, (1000, 1950, 10, 7, 6, 25, 75, 500, 35, 990, 100, 100, 10))),
    0.01: dict(zip(HEADLINE, (9788, 16040, 10, 6, 6, 25, 75, 500, 33, 964, 100, 100, 10))),
    0.1: dict(zip(HEADLINE, (80020, 42758, 10, 2, 6, 25, 75, 5000, 1251, 91845, 100, 100, 10))),
}


def scaling_pair(cpus: int) -> tuple[int, int] | None:
    """(N, 4N) with N = cpus // 4, or None when 4 CPUs are not there."""
    low = cpus // 4
    return (low, 4 * low) if low >= 1 else None


def materialize_tokens(spark) -> int:
    """Input materialization (untimed): the pipeline reads parquet like it
    would read the Iceberg token table."""
    from logdag_spark import fixtures as fx

    if not os.path.exists(os.path.join(TOKENS_PATH, "_SUCCESS")):
        fx.contract(fx.gen_tokens(spark, scale=BENCH_SCALE)).write.mode(
            "overwrite"
        ).parquet(TOKENS_PATH)
    return spark.read.parquet(TOKENS_PATH).count()


def pipeline_worker(cores: int, rows: int) -> None:
    """Subprocess entry: on ``cores`` pinned CPUs, one warm-up pass and
    TRIALS timed passes of ``pipeline_fisherz``; JSON to stdout."""
    scratch = tempfile.mkdtemp(prefix="logdag_bench_")
    try:
        host.configure(cores, ROOT, scratch)
        spark = host.start_spark(cores)
        try:
            inp = dataclasses.replace(
                workloads.register_inputs(spark, TOKENS_PATH), rows=rows)
            wh = os.path.join(scratch, "warehouse")
            walls = []
            # the first pass warms up the JIT, codegen and Python workers
            for trial in range(TRIALS + 1):
                wall, edges = workloads.run_pass(spark, inp, WORKLOAD, wh)
                n_edges = edges.count()
                spark.catalog.clearCache()
                if trial:
                    walls.append(round(wall, 3))
        finally:
            host.stop_spark(spark)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps({"cores": cores, "walls": walls, "rows": rows, "edges": n_edges}))


def _run_worker(cores: int, rows: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--pipeline-worker",
         str(cores), str(rows)],
        stdout=subprocess.PIPE, text=True, check=True,
    )
    res = json.loads(out.stdout.strip().splitlines()[-1])
    return {**res, **_stats(f"pipeline local[{cores}]", res["walls"])}


def _stats(name: str, walls: list[float], note: str = "") -> dict:
    """Median, quartiles and n of ``walls``, also printed to stderr."""
    q1, med, q3 = report.quartiles(walls)
    print(f"[bench] {name:28s} median {med:9.3f} s  q1 {q1:9.3f}  q3 {q3:9.3f}"
          f"  n {len(walls)}{note}", file=sys.stderr, flush=True)
    return {"median": med, "q1": q1, "q3": q3, "n": len(walls)}


def time_queries(spark, sf_dir: str, names: list[str], trials: int,
                 rows: dict[str, int]) -> dict[str, dict]:
    """Each query run once untimed (JIT and codegen warm-up), then timed
    ``trials`` times, cache cleared after every run.  A query fails when
    the row count of a run (its ``.count()``) differs from ``rows[name]``,
    or across runs where none is recorded."""
    from logdag_spark.entry_queries import QUERIES

    out = {}
    for name in names:
        fn, _ = QUERIES[name]
        walls, counts = [], set()
        for trial in range(trials + 1):
            t0 = time.monotonic()
            counts.add(fn(spark, sf_dir).count())
            if trial:
                walls.append(round(time.monotonic() - t0, 3))
            # operators that persist a self-join input must re-compute it
            # each trial: a cross-trial cache hit would time only the join
            spark.catalog.clearCache()
        want = {rows[name]} if name in rows else counts
        ok = len(counts) == 1 and counts == want
        note = f"  rows {sorted(counts)}" + ("" if ok else f" FAILED, recorded {sorted(want)}")
        out[name] = {**_stats(name, walls, note), "rows": sorted(counts), "ok": ok}
    return out


def main() -> int:
    if len(sys.argv) >= 4 and sys.argv[1] == "--pipeline-worker":
        pipeline_worker(int(sys.argv[2]), int(sys.argv[3]))
        return 0
    if CPUS > host.usable_cpus():
        print(f"bench: {host.usable_cpus()} CPUs usable, SPARK_GRAFT_CPUS={CPUS}: "
              "refusing to run", file=sys.stderr)
        return 2
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
    scratch = tempfile.mkdtemp(prefix="logdag_bench_")
    try:
        host.configure(CPUS, ROOT, scratch)
        # materialize the token input once (untimed) before workers run
        spark = host.start_spark(CPUS)
        try:
            rows = materialize_tokens(spark)
        finally:
            host.stop_spark(spark)

        pair = scaling_pair(len(os.sched_getaffinity(0)))
        high = _run_worker(pair[1] if pair else CPUS, rows)
        scaling = None
        if RUN_SCALING and pair:
            low = _run_worker(pair[0], rows)
            rate_low, rate_high = rows / low["median"], rows / high["median"]
            scaling = {
                "cores_low": pair[0],
                "cores_high": pair[1],
                "rate_low": round(rate_low, 1),
                "rate_high": round(rate_high, 1),
                "efficiency": round(rate_high / rate_low / 4, 3),
            }

        spark = host.start_spark(CPUS)
        try:
            stats = time_queries(spark, SF_DIR, HEADLINE, TRIALS, QUERY_ROWS.get(sf, {}))
        finally:
            host.stop_spark(spark)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    q_times = {"pipeline_e2e": round(high["median"], 3)}
    q_times.update({name: round(s["median"], 3) for name, s in stats.items()})
    print(json.dumps({
        "metric": "tokens_to_dag_e2e_plus_headline_queries",
        "value": round(sum(q_times.values()), 3),
        "unit": "sec",
        "queries": q_times,
        "sf": sf,
        "pipeline": {
            "rows": rows,
            "seq_per_sec": round(rows / high["median"], 1),
            "edges": high["edges"],
            "cores": high["cores"],
            "walls": high["walls"],
        },
        "scaling": scaling,
    }), flush=True)
    failed = [name for name, s in stats.items() if not s["ok"]]
    if failed:
        print(f"bench: wrong row count from {', '.join(failed)}", file=sys.stderr)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
