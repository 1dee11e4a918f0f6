"""Deterministic synthetic token-table generator.

Produces the BASELINE.json ``input_hint`` table
``(doc_id string, tokens array<int32>, n_tok int32, source string)`` plus
the enrichment dimension tables and a ground-truth causal edge list.

Models the reference's seeded test generator
(/root/reference/tests/test_load.py:43-50 uses
``amulog.testutil.TestLogGenerator(seed=3)``; random event models at
/root/reference/logdag/dtutil.py:601-646):

* K=24 log templates (tutorial anchor: 23 templates,
  /root/reference/tutorial/readme.md:44), Zipf-skewed frequency so the
  heavy-hitter/salting path is exercised;
* H=9 hosts in 3 areas (mirrors /root/reference/logdag/data/area_def.txt.sample);
* per-(host, gid) event-time processes: Poisson (uniform times conditioned
  on count — exactly a Poisson process given N), strictly periodic
  (must be removed by the Fourier filter, period.py:16-69), constant-rate
  "linear" (must be removed by filter_log.py:162-185), and lag-correlated
  pairs (must surface as DAG edges).

Everything is a pure function of (host, gid, idx) through ``xxhash64`` —
no RNG, no driver-side loops over rows — so generation is distributed,
reproducible, and identical at any parallelism level.  The only
driver-side object is the ~200-row stream-spec table.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logdag_spark.config import to_utc_ms
from logdag_spark.session import local_frame

DEFAULT_T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
N_HOSTS = 9
N_TEMPLATES = 24
AREAS = ["areaA", "areaB", "areaC"]
GROUPS = ["system", "network", "auth"]
# token-id spaces: constants in [2000, 2800), variables in [3000, 50000)
_CONST_BASE = 2000
_VAR_BASE = 3000
_VAR_SPAN = 47000

# causal ground truth: (gid_cause, gid_effect, lag_seconds)
CORRELATED_PAIRS = [(20, 21, 30), (22, 23, 90)]
PERIODIC_GIDS = {16: 60, 17: 300, 18: 120}  # gid -> period seconds
LINEAR_GID = 19


def _hosts() -> list[str]:
    return [f"host{i:02d}" for i in range(N_HOSTS)]


def template_specs() -> list[dict]:
    """Static template definitions.

    Template ``gid`` has length ``5 + gid % 8``; position ``p`` is constant
    iff ``p == 0`` or ``(7 * p + gid) % 3 != 0``; the constant token value is
    ``2000 + 31 * gid + p`` (head tokens therefore distinct per template).
    Variable positions are ``-1`` in the pattern.
    """
    specs = []
    for gid in range(N_TEMPLATES):
        length = 5 + gid % 8
        pattern = [
            (_CONST_BASE + 31 * gid + p) if (p == 0 or (7 * p + gid) % 3 != 0) else -1
            for p in range(length)
        ]
        specs.append(
            {
                "gid": gid,
                "length": length,
                "pattern": pattern,
                "group": GROUPS[gid % 3],
                "source": "snmp" if gid % 6 == 5 else "log",
            }
        )
    return specs


def host_rows() -> list[tuple[str, str]]:
    """Driver-resident (host, area) pairs — the list behind ``host_meta``.
    Callers that run the pipeline repeatedly pass this to
    ``run_pipeline(hosts=...)`` to skip the per-run collect job."""
    return [(h, AREAS[i // 3]) for i, h in enumerate(_hosts())]


def host_meta(spark: SparkSession) -> DataFrame:
    """Dimension table ``host_meta(host, area)``.

    Area membership per the reference's area-definition file format
    (/root/reference/logdag/data/area_def.txt.sample; membership test at
    /root/reference/logdag/log2event.py:226-252).
    """
    return local_frame(spark, host_rows(), "host string, area string")


def template_dim(spark: SparkSession) -> DataFrame:
    """Dimension table ``template_dim(gid, length, pattern, group, source)``.

    The gid->group lookup mirrors /root/reference/logdag/source/src_amulog.py:115-120.
    """
    pdf = pd.DataFrame(template_specs())
    sdf = spark.createDataFrame(pdf)
    return sdf.select(
        F.col("gid").cast("int"),
        F.col("length").cast("int"),
        F.col("pattern").cast("array<int>"),
        "group",
        "source",
    )


def stream_specs(scale: float = 1.0, term: timedelta = timedelta(hours=24)) -> pd.DataFrame:
    """Driver-side stream table: one row per (host, gid) event process.

    ``kind`` in {poisson, periodic, linear, corr_b}.  ``n_events`` carries
    the Zipf skew (gid 0 is the heavy hitter).  corr_b streams replay their
    cause stream's times shifted by ``lag_s``.
    """
    term_s = int(term.total_seconds())
    n_base = max(4, int(400 * scale))
    tmpl = {t["gid"]: t for t in template_specs()}
    rows = []
    for h_idx, host in enumerate(_hosts()):
        for gid in range(N_TEMPLATES):
            # every host runs gids 0..7; higher gids on ~2/3 of hosts,
            # pair presence decided by the cause gid so pairs stay intact
            anchor = gid
            for a, b, _ in CORRELATED_PAIRS:
                if gid == b:
                    anchor = a
            if anchor >= 8 and (anchor * 13 + h_idx) % 3 == 0:
                continue
            spec = {
                "host": host,
                "gid": gid,
                "source": tmpl[gid]["source"],
                "kind": "poisson",
                "n_events": max(2, round(n_base / (gid + 1) ** 0.9)),
                "period_s": 0.0,
                "jitter_s": 0.0,
                "lag_s": 0.0,
                "gid_cause": -1,
            }
            if gid in PERIODIC_GIDS:
                period = PERIODIC_GIDS[gid]
                spec.update(
                    kind="periodic",
                    n_events=term_s // period,
                    period_s=float(period),
                    jitter_s=1.0,
                )
            elif gid == LINEAR_GID:
                n = max(20, int(100 * scale))
                spec.update(
                    kind="linear",
                    n_events=n,
                    period_s=term_s / n,
                    jitter_s=0.5,
                )
            else:
                for a, b, lag in CORRELATED_PAIRS:
                    if gid == a:
                        spec.update(n_events=max(4, n_base // 4))
                    elif gid == b:
                        spec.update(
                            kind="corr_b",
                            n_events=max(4, n_base // 4),
                            lag_s=float(lag),
                            gid_cause=a,
                        )
            rows.append(spec)
    return pd.DataFrame(rows)


def gen_tokens(
    spark: SparkSession,
    scale: float = 1.0,
    t0: datetime = DEFAULT_T0,
    term: timedelta = timedelta(hours=24),
) -> DataFrame:
    """Generate the labeled token table.

    Returns columns ``(doc_id, tokens, n_tok, source, true_gid, host, ts)``
    — the last three are generator labels for tests; ``contract(df)``
    projects the BASELINE.json input shape.  ``doc_id`` encodes
    ``{epoch_ms:013d}-{host}-{seq:08d}`` so time/host are recoverable by the
    enrichment stage (FIXTURES.md §1).
    """
    term_s = term.total_seconds()
    t0_ms = to_utc_ms(t0)
    specs = spark.createDataFrame(stream_specs(scale, term))

    # two-level explode: chunk the per-stream index space so no single
    # sequence() array exceeds 64k elements (heavy-hitter streams at large
    # scale would otherwise materialize multi-MB rows), and repartition so
    # generation parallelizes across executors rather than per-stream rows
    chunk = 65536
    events = (
        specs.withColumn(
            "chunk",
            F.explode(F.sequence(F.lit(0), ((F.col("n_events") - 1) / chunk).cast("long"))),
        )
        .repartition(max(spark.sparkContext.defaultParallelism, 8))
        .withColumn(
            "idx",
            F.explode(
                F.sequence(
                    F.col("chunk") * chunk,
                    F.least(F.col("chunk") * chunk + chunk - 1, F.col("n_events") - 1),
                )
            ),
        )
        .drop("chunk")
    )

    def uniform(*cols) -> F.Column:
        return F.pmod(F.xxhash64(*cols), F.lit(1_000_000_000)) / 1e9

    # "poisson" streams are BURSTY: events cluster around a few burst
    # centers per stream.  Real syslog is bursty, and the reference's
    # remove_linear filter (filter_log.py:162-185) is designed to drop
    # constant-rate events — a homogeneous process would (correctly) be
    # filtered out, taking the injected causal pairs with it.
    n_bursts, burst_w = 4, 7200.0  # 4 clusters, ±1h spread
    gid_eff = F.when(F.col("kind") == "corr_b", F.col("gid_cause")).otherwise(
        F.col("gid")
    )
    b = F.pmod(F.xxhash64(F.lit("burst"), "host", gid_eff, "idx"), F.lit(n_bursts))
    center = uniform(F.lit("bc"), "host", gid_eff, b) * term_s
    jitter_off = (uniform(F.lit("bo"), "host", gid_eff, "idx") - 0.5) * burst_w
    bursty = F.least(F.greatest(center + jitter_off, F.lit(0.0)), F.lit(term_s - 1.0))

    u_own = uniform(F.lit("ts"), "host", "gid", "idx")
    off_s = (
        F.when(F.col("kind") == "poisson", bursty)
        .when(F.col("kind") == "corr_b", bursty + F.col("lag_s"))
        .otherwise(
            F.col("idx") * F.col("period_s") + (u_own - 0.5) * 2 * F.col("jitter_s")
        )
    )
    events = events.withColumn(
        "epoch_ms",
        F.least(
            F.greatest(
                (F.lit(t0_ms) + (off_s * 1000).cast("long")), F.lit(t0_ms)
            ),
            F.lit(t0_ms + int(term_s * 1000) - 1),
        ),
    ).withColumn("seq", F.pmod(F.xxhash64(F.lit("seq"), "host", "gid", "idx"), F.lit(100_000_000)))

    tdim = template_dim(spark).select("gid", "pattern")
    events = events.join(F.broadcast(tdim), "gid")

    doc_id = F.format_string("%013d-%s-%08d", "epoch_ms", "host", "seq")
    tokens = F.transform(
        "pattern",
        lambda tok, p: F.when(tok >= 0, tok).otherwise(
            (F.pmod(F.xxhash64(F.lit("var"), doc_id, p), F.lit(_VAR_SPAN)) + _VAR_BASE).cast(
                "int"
            )
        ),
    )
    return events.select(
        doc_id.alias("doc_id"),
        tokens.alias("tokens"),
        F.size(tokens).cast("int").alias("n_tok"),
        "source",
        F.col("gid").alias("true_gid"),
        "host",
        F.timestamp_millis(F.col("epoch_ms")).alias("ts"),
    )


def contract(df: DataFrame) -> DataFrame:
    """Project the BASELINE.json input_hint shape (drop generator labels)."""
    return df.select("doc_id", "tokens", "n_tok", "source")


def ground_truth_edges(spark: SparkSession, scale: float = 1.0) -> DataFrame:
    """Injected causal pairs per host: ``(host, gid_cause, gid_effect)``."""
    specs = stream_specs(scale)
    b = specs[specs.kind == "corr_b"][["host", "gid_cause", "gid"]].rename(
        columns={"gid": "gid_effect"}
    )
    return spark.createDataFrame(b.reset_index(drop=True)).select(
        "host",
        F.col("gid_cause").cast("int"),
        F.col("gid_effect").cast("int"),
    )
