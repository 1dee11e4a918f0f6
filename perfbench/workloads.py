"""Workloads of the benchmark: seeded inputs, one pipeline pass, and the
output check.  Imported by ``run.py`` (timed passes) and ``layers.py``
(the layer trace)."""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass
from datetime import timedelta

TOKEN_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"

# Both workloads read one token table: gen_tokens at this scale (24 h term).
# Small, because each run pays a JVM start and a cold pass, and a steady
# pass is mostly per-job overhead at any scale (BASELINE.md).
SCALE = 1.5
INPUT_ROWS = 38208


@dataclass(frozen=True)
class Workload:
    cfg: dict
    # recorded dag_edges output, identical for every seed
    edges: int
    edges_sha256: str


WORKLOADS = {
    # the flagship pc-corr/fisherz run: sparse correlation, depth-0 orientation
    "pipeline_fisherz": Workload(
        cfg=dict(cause_algorithm="pc-corr", ci_bin_size="1m"),
        edges=1133,
        edges_sha256="6ff9d3773b2a274547997f6b602bcd73e802ab1fff5b8d4a3cb2ea0151616cb5",
    ),
    # full-depth PC on binarized data: the Python grouped-map kernels
    "pc_gsq_kernel": Workload(
        cfg=dict(
            cause_algorithm="pc", ci_func="gsq", binarize=True, area="all",
            unit_term="6h", unit_diff="6h",
        ),
        edges=36,
        edges_sha256="4b8088a5dfc73bfa354d9b108b24b70baee2a7b0aa1a0f56bc1be0cd83ca6758",
    ),
}


def dt_range():
    from logdag_spark.fixtures.generator import DEFAULT_T0

    return (DEFAULT_T0, DEFAULT_T0 + timedelta(hours=24))


def pipeline_config(wl: Workload):
    from logdag_spark.config import PipelineConfig

    return PipelineConfig(**wl.cfg)


# ---------------------------------------------------------------- inputs


def input_path(work: str, seed: int | None) -> str:
    tag = "base" if seed is None else f"seed{seed}"
    return os.path.join(work, "inputs", f"tokens_s{SCALE:g}", tag)


def base_ready(work: str) -> bool:
    return os.path.exists(os.path.join(input_path(work, None), "_SUCCESS"))


def generate_base(spark, work: str) -> None:
    """``gen_tokens`` at ``SCALE``, once per checkout."""
    from logdag_spark import fixtures as fx

    fx.contract(fx.gen_tokens(spark, scale=SCALE)).write.mode(
        "overwrite").parquet(input_path(work, None))


def seeded_inputs(seed: int, work: str) -> str:
    """Seeded token table, made once per seed from the base table.

    ``gen_tokens`` has no seed, so the seed permutes the rows of the base
    table and splits them into 8 files.  Row order and file layout change
    with the seed; the DAG must not, which every pass checks.  Plain
    pyarrow, so the timed JVM starts cold whether or not the table was
    cached.
    """
    import numpy as np
    import pyarrow.parquet as pq

    path = input_path(work, seed)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        table = pq.read_table(input_path(work, None))
        table = table.take(np.random.default_rng(seed).permutation(table.num_rows))
        tmp = f"{path}.tmp-{os.getpid()}"
        os.makedirs(tmp)
        bounds = np.linspace(0, table.num_rows, 9).astype(int)
        for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
            pq.write_table(table.slice(lo, hi - lo), os.path.join(tmp, f"part-{i:05d}.parquet"))
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    n = sum(pq.read_metadata(os.path.join(path, f)).num_rows
            for f in os.listdir(path) if f.endswith(".parquet"))
    if n != INPUT_ROWS:
        raise RuntimeError(f"{path}: {n} rows, expected {INPUT_ROWS}")
    return path


@dataclass
class Inputs:
    tokens: object
    host_meta: object
    template_dim: object
    hosts: list
    template_specs: list
    rows: int


def register_inputs(spark, path: str) -> Inputs:
    from logdag_spark import fixtures as fx

    return Inputs(
        tokens=spark.read.schema(TOKEN_SCHEMA).parquet(path),
        host_meta=fx.host_meta(spark),
        template_dim=fx.template_dim(spark),
        hosts=fx.host_rows(),
        template_specs=[(s["gid"], s["pattern"]) for s in fx.template_specs()],
        rows=INPUT_ROWS,
    )


# ---------------------------------------------------------------- passes


def run_pass(spark, inp: Inputs, wl: Workload, warehouse: str):
    """One flagship-style pipeline pass, as ``bench.py`` runs it:
    checkpoints events_ts and dag_edges (lz4), caches the small
    intermediate tables.  Returns the wall time to the committed
    dag_edges checkpoint and the re-read checkpoint."""
    from logdag_spark.io.catalog import Catalog
    from logdag_spark.pipeline.runner import run_pipeline

    shutil.rmtree(warehouse, ignore_errors=True)
    cat = Catalog(spark, warehouse, codec="lz4")
    t0 = time.monotonic()
    res = run_pipeline(
        spark, inp.tokens, inp.host_meta, inp.template_dim, dt_range(),
        pipeline_config(wl), catalog=cat, apply_filters=True,
        hosts=inp.hosts, template_specs=inp.template_specs,
        checkpoint_stages=("events_ts", "dag_edges"),
    )
    return time.monotonic() - t0, res.edges


def edges_digest(edges_df) -> tuple[int, str]:
    """Row count and content hash of a dag_edges table: sorted
    unit/src/dst/directed rows with the weight rounded to 6 places."""
    rows = sorted(
        f"{r['unit']}|{r['src_eid']}|{r['dst_eid']}|{int(r['directed'])}|"
        f"{round(float(r['weight']), 6):.6f}"
        for r in edges_df.select(
            "unit", "src_eid", "dst_eid", "directed", "weight").collect()
    )
    return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()


def check_edges(wl: Workload, digest: tuple[int, str], log) -> bool:
    n, sha = digest
    ok = (n, sha) == (wl.edges, wl.edges_sha256)
    if not ok:
        log(f"WRONG dag_edges: {n} rows sha256 {sha}, expected "
            f"{wl.edges} rows sha256 {wl.edges_sha256}")
    return ok
