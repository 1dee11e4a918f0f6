"""Stage 5 — analysis units + pairwise correlation (depth-0 causal pruning).

The reference builds, per (time-window x area) unit, a dense bins x events
pandas matrix (/root/reference/logdag/log2event.py:440-462) and feeds it to
PC.  Its ``pc-corr`` mode (/root/reference/logdag/makedag.py:116-122) keeps
only pairwise (depth-0) correlation edges.

Spark-first design:

* Units are a tiny driver-built dim ``unit_hosts(unit, host, area, dts,
  dte)`` (windows generated by sliding ``unit_term`` by ``unit_diff``,
  /root/reference/logdag/arguments.py:301-314; jobname format
  ``{area}_{yyyymmdd}`` :90-100) — broadcast-joined onto the binned fact
  table.  The reference's multiprocessing.Pool over units becomes plain
  partition parallelism.
* Both depth-0 CI tests are functions of one set of SPARSE per-pair
  sufficient statistics (n, Sx, Sxx, Sy, Syy, Sxy), built by ONE plan
  (:func:`_pair_stats`): with N = total bins per unit fixed, absent bins
  are zeros and contribute nothing to any sum, so the per-event
  aggregates plus an inner self-join on (unit, bin) for the cross term
  are all either test needs.  The dense spine (|events| x |bins| rows)
  is never materialized — at 10^12 input rows this is the difference
  between a shuffle of co-occurring rows only and an explosion of
  mostly-zero rows.
* The sums are exact in the caller's number type: every sum, and the
  centred terms N*Sxy - Sx*Sy, N*Sxx - Sx^2 and N*Syy - Sy^2, stay in
  the type of ``cnt``; each centred term is cast to double on its own
  only for the square root and the division.  The pipeline passes
  double counts, exact while each sum stays <= 2^53; the query surface
  passes ``decimal(38,0)`` counts, exact at any count a bin reaches.
* Fisher-z test (/root/reference/logdag/pc_input.py:23-25) on
      r = (N*Sxy - Sx*Sy) / sqrt((N*Sxx - Sx^2) * (N*Syy - Sy^2)):
  an edge survives iff |atanh(r)| * sqrt(N - 3) > Phi^-1(1 - alpha/2) —
  the critical value is a driver-side constant (stdlib NormalDist), the
  statistic (:func:`fisherz_stat`) is pure column math inside
  whole-stage codegen.
* G-square test on a 0/1 matrix: Sx is an event's presence count and Sxy
  the pair's co-presence count, which fill the 2x2 contingency table;
  its edge weight is the same r (the phi coefficient).
"""

from __future__ import annotations

from datetime import datetime, timedelta
from statistics import NormalDist

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from logdag_spark.config import PipelineConfig
from logdag_spark.pipeline.aggregate import n_bins
from logdag_spark.session import local_frame


UNIT_HOSTS_SCHEMA = (
    "unit string, host string, area string, dts timestamp, dte timestamp"
)


def unit_specs(
    dt_range: tuple[datetime, datetime],
    cfg: PipelineConfig,
    hosts: list[tuple[str, str]],
) -> list[tuple[str, str, str, datetime, datetime]]:
    """Driver-side (unit, host, area, dts, dte) expansion.

    Window generation slides ``unit_term`` by ``unit_diff`` over the whole
    term (/root/reference/logdag/arguments.py:301-314).  ``area`` rules
    (log2event.py:226-252): ``all`` -> one unit spanning all hosts;
    ``each`` -> one unit per host; otherwise one unit per named area.
    Pure Python (|windows| x |hosts| is tiny) so unit bookkeeping — nbins,
    per-unit meta for the grouped kernels — derives from it with ZERO
    Spark jobs; the DataFrame form is :func:`make_unit_hosts`.
    """
    windows = []
    top, end = dt_range
    term, diff = cfg.unit_term_td, cfg.unit_diff_td
    cur = top
    while cur < end:
        windows.append((cur, min(cur + term, end)))
        cur += diff
    rows = []
    for dts, dte in windows:
        day = dts.strftime("%Y%m%d")
        for host, area in hosts:
            if cfg.area == "all":
                rows.append((f"all_{day}", host, "all", dts, dte))
            elif cfg.area == "each":
                rows.append((f"{host}_{day}", host, host, dts, dte))
            elif area == cfg.area:
                rows.append((f"{area}_{day}", host, area, dts, dte))
    return rows


def make_unit_hosts(
    spark: SparkSession,
    dt_range: tuple[datetime, datetime],
    cfg: PipelineConfig,
    host_meta: DataFrame,
) -> DataFrame:
    """DataFrame form of :func:`unit_specs` (one tiny collect of
    host_meta)."""
    hosts = [
        (r["host"], r["area"]) for r in host_meta.select("host", "area").collect()
    ]
    return local_frame(spark, unit_specs(dt_range, cfg, hosts), UNIT_HOSTS_SCHEMA)


def assign_units(binned: DataFrame, unit_hosts: DataFrame) -> DataFrame:
    """Tag binned rows with their unit(s): broadcast range-join on host.

    Overlapping unit windows (unit_term > unit_diff) duplicate rows into
    each covering unit, matching the reference's per-unit reload.
    Output: ``(unit, identifier, host, key, bin, cnt, dts, dte)``.
    """
    uh = F.broadcast(unit_hosts)
    return (
        binned.join(uh, "host")
        .where((F.col("bin") >= F.col("dts")) & (F.col("bin") < F.col("dte")))
        .withColumn("identifier", F.concat_ws(":", "host", "key"))
    )


def event_dim(unit_long: DataFrame) -> DataFrame:
    """Per-unit eid assignment: dense ids ordered by identifier.

    The reference assigns eids in iteration order
    (/root/reference/logdag/log2event.py:444-447) which is nondeterministic
    under parallelism; we define the stable order sort-by-identifier
    (SURVEY.md §1.3) via ``row_number`` — deterministic at any
    partitioning, unlike ``monotonically_increasing_id``.
    Empty series never appear in the sparse table, so the empty-event drop
    (log2event.py:333-335) is implicit.
    """
    w = Window.partitionBy("unit").orderBy("identifier")
    return (
        unit_long.groupBy("unit", "identifier", "host", "key")
        .agg(F.sum("cnt").alias("total"))
        .where(F.col("total") > 0)
        .withColumn("eid", F.row_number().over(w) - 1)
        .select("unit", "eid", "identifier", "host", "key", "total")
    )


def unit_matrix(unit_long: DataFrame, evdim: DataFrame) -> DataFrame:
    """Long-form input matrix ``(unit, eid, bin, cnt)``
    (sparse analogue of /root/reference/logdag/log2event.py:440-462)."""
    return unit_long.join(
        evdim.select("unit", "identifier", "eid"), ["unit", "identifier"]
    ).select("unit", "eid", "bin", "cnt")


def _host_pruned_sides(
    a: DataFrame,
    b: DataFrame,
    ev_hosts: DataFrame | None,
    allowed_hosts: DataFrame | None,
):
    """Tag the two sides of a pair join, ``a(unit, eid1, ...)`` and
    ``b(unit, eid2, ...)``, with their event's host (broadcast join on the
    tiny per-unit event dim) and return the pair predicate for
    host-level prior-knowledge rules: a cross-host pair survives only if
    its (host1, host2) is in ``allowed_hosts`` (symmetric, both orders);
    same-host pairs always survive (every host-level reference rule allows
    them, pknowledge.py:229-241, 309-313)."""
    if ev_hosts is None or allowed_hosts is None:
        return a, b, None
    h1 = ev_hosts.select(
        "unit", F.col("eid").alias("eid1"), F.col("host").alias("_h1")
    )
    h2 = ev_hosts.select(
        "unit", F.col("eid").alias("eid2"), F.col("host").alias("_h2")
    )
    a = a.join(F.broadcast(h1), ["unit", "eid1"])
    b = b.join(F.broadcast(h2), ["unit", "eid2"])
    ok = allowed_hosts.select(
        F.col("host1").alias("_h1"), F.col("host2").alias("_h2"),
        F.lit(1).alias("_host_ok"),
    ).distinct()
    return a, b, ok


def _apply_host_filter(cross_pairs: DataFrame, ok: DataFrame | None) -> DataFrame:
    if ok is None:
        return cross_pairs
    return (
        cross_pairs.join(F.broadcast(ok), ["_h1", "_h2"], "left")
        .where((F.col("_h1") == F.col("_h2")) | F.col("_host_ok").isNotNull())
        .drop("_h1", "_h2", "_host_ok")
    )


def _pair_stats(
    matrix: DataFrame,
    unit_nbins: DataFrame,
    noedge: DataFrame | None = None,
    ev_hosts: DataFrame | None = None,
    allowed_hosts: DataFrame | None = None,
) -> DataFrame:
    """Per-pair sparse sufficient statistics of ``matrix(unit, eid, bin,
    cnt)``: ``(unit, eid1, eid2, n, sx1, sxx1, sx2, sxx2, sxy)`` for every
    pair eid1 < eid2 of a unit's events.

    ``unit_nbins(unit, n)`` supplies the zero-filled length N per unit.
    Plan: one hash-agg for per-event moments, one shuffle self-join on
    (unit, bin) for co-occurrence cross terms (J7's pair space), one
    hash-agg, then a broadcast-joined pair frame.  Pairs that never
    co-occur get Sxy = 0 via the left join + coalesce.  The sums keep
    the type of ``cnt`` (double or decimal alike).

    Prior-knowledge pushdown (G7): the reference prunes BEFORE the CI
    tests to shrink the test space (pknowledge.py:82-91), so pruning here
    must cut compute, not just output.  ``noedge(unit, eid1, eid2)``
    anti-joins the pair frame before the cross terms are attached, and
    host-level rules push an ``allowed_hosts(host1, host2)`` filter (with
    ``ev_hosts(unit, eid, host)``) into the co-occurrence self-join itself
    — at 100x scale that join is where the quadratic bill lands — and
    into the pair frame, so a host-pruned pair is absent from the output
    rather than present without its cross term.
    """
    stats = (
        matrix.groupBy("unit", "eid")
        .agg(F.sum("cnt").alias("sx"), F.sum(F.col("cnt") * F.col("cnt")).alias("sxx"))
    )
    a = matrix.select("unit", F.col("eid").alias("eid1"), "bin", F.col("cnt").alias("c1"))
    b = matrix.select("unit", F.col("eid").alias("eid2"), "bin", F.col("cnt").alias("c2"))
    a, b, host_ok = _host_pruned_sides(a, b, ev_hosts, allowed_hosts)
    cross = _apply_host_filter(
        a.join(b, ["unit", "bin"]).where(F.col("eid1") < F.col("eid2")), host_ok
    ).groupBy("unit", "eid1", "eid2").agg(
        F.sum(F.col("c1") * F.col("c2")).alias("sxy")
    )
    s1 = stats.select(
        "unit",
        F.col("eid").alias("eid1"),
        F.col("sx").alias("sx1"),
        F.col("sxx").alias("sxx1"),
    )
    s2 = stats.select(
        "unit",
        F.col("eid").alias("eid2"),
        F.col("sx").alias("sx2"),
        F.col("sxx").alias("sxx2"),
    )
    s1, s2, _ = _host_pruned_sides(s1, s2, ev_hosts, allowed_hosts)
    pairs = _apply_host_filter(
        s1.join(s2, "unit").where(F.col("eid1") < F.col("eid2")), host_ok
    )
    if noedge is not None:
        ne = noedge.select("unit", "eid1", "eid2")
        pairs = pairs.join(ne, ["unit", "eid1", "eid2"], "left_anti")
    return (
        pairs.join(cross, ["unit", "eid1", "eid2"], "left")
        .join(F.broadcast(unit_nbins), "unit")
        # an integer literal: 0.0 would turn decimal sums into doubles
        .withColumn("sxy", F.coalesce("sxy", F.lit(0)))
    )


def _centred() -> tuple[F.Column, F.Column, F.Column]:
    """``(n·Sxy − Sx1·Sx2, n·Sxx1 − Sx1², n·Sxx2 − Sx2²)`` of a
    :func:`_pair_stats` row, in the type of its sums."""
    n = F.col("n")
    return (
        n * F.col("sxy") - F.col("sx1") * F.col("sx2"),
        n * F.col("sxx1") - F.col("sx1") * F.col("sx1"),
        n * F.col("sxx2") - F.col("sx2") * F.col("sx2"),
    )


def _both_vary() -> F.Column:
    """True where neither series of a :func:`_pair_stats` row is
    constant."""
    _, v1, v2 = _centred()
    return (v1 > 0) & (v2 > 0)


def _pearson_r() -> F.Column:
    """Pearson r of a :func:`_pair_stats` row, 0 where a series is
    constant, clamped to [-1, 1].  Each centred term is cast to double
    on its own: their product can overflow ``decimal(38,0)``."""
    cov, v1, v2 = (c.cast("double") for c in _centred())
    r = F.when(_both_vary(), cov / F.sqrt(v1 * v2)).otherwise(F.lit(0.0))
    return F.least(F.greatest(r, F.lit(-1.0)), F.lit(1.0))


def pairwise_corr(
    matrix: DataFrame,
    unit_nbins: DataFrame,
    noedge: DataFrame | None = None,
    ev_hosts: DataFrame | None = None,
    allowed_hosts: DataFrame | None = None,
) -> DataFrame:
    """All-pairs Pearson r per unit, ``(unit, eid1, eid2, n, r)``, from
    the sparse sufficient statistics of :func:`_pair_stats` (same
    arguments)."""
    return _pair_stats(matrix, unit_nbins, noedge, ev_hosts, allowed_hosts).select(
        "unit", "eid1", "eid2", "n", _pearson_r().alias("r")
    )


def fisherz_stat(r: F.Column, n: F.Column) -> F.Column:
    """Fisher-z statistic atanh(r)·sqrt(n − 3) of a correlation ``r``
    over ``n`` samples (the reference's logdag/pc_input.py:106-126)."""
    # clamp away from ±1: atanh diverges there (perfectly correlated
    # series, e.g. duplicated events) and ANSI mode rejects the /0
    r = F.least(F.greatest(r, F.lit(-1 + 1e-12)), F.lit(1 - 1e-12))
    return 0.5 * F.log((1 + r) / (1 - r)) * F.sqrt(n - 3)


def fisherz_edges(pair_corr: DataFrame, alpha: float = 0.01) -> DataFrame:
    """Depth-0 Fisher-z dependence edges (``pc-corr`` semantics, the
    reference's logdag/makedag.py:116-122) on :func:`fisherz_stat`."""
    z_crit = NormalDist().inv_cdf(1 - alpha / 2)
    return (
        pair_corr.withColumn("z", fisherz_stat(F.col("r"), F.col("n")))
        .where(F.abs(F.col("z")) > z_crit)
        .select(
            "unit",
            F.col("eid1").alias("src_eid"),
            F.col("eid2").alias("dst_eid"),
            F.lit(False).alias("directed"),
            F.col("r").alias("weight"),
        )
    )


def chi2_crit_1dof(alpha: float) -> float:
    """Critical G² value for dof=1: inverse of the chi-square survival
    function via bisection on the exact sf (pc.chi2_sf) — driver-side
    constant, no scipy."""
    from logdag_spark.pipeline.pc import chi2_sf

    lo, hi = 0.0, 100.0
    for _ in range(200):
        mid = (lo + hi) / 2
        if chi2_sf(mid, 1) > alpha:
            lo = mid
        else:
            hi = mid
    return (lo + hi) / 2


def gsq_edges(
    matrix_bin: DataFrame,
    unit_nbins: DataFrame,
    alpha: float = 0.01,
    emit_all: bool = False,
    noedge: DataFrame | None = None,
    ev_hosts: DataFrame | None = None,
    allowed_hosts: DataFrame | None = None,
) -> DataFrame:
    """Depth-0 G-square dependence edges on BINARIZED series (``pc-corr``
    with ci_func=gsq, /root/reference/logdag/makedag.py:116-122 +
    pc_input.py:19-22): the scale path counterpart of the grouped-map
    kernel's marginal test (pc.ci_test_gsq, |S|=0).

    The 2x2 contingency table per pair comes from the :func:`_pair_stats`
    plan over presence indicators (cnt > 0 -> 1): with N bins per unit,
        n1_i = Sx_i (bins where i is present),  n11 = Sxy (co-presence),
        n10 = n1_i - n11,  n01 = n1_j - n11,  n00 = N - n1_i - n1_j + n11,
    so the dense bins x events matrix is never materialized and the test
    itself (G² = 2 Σ o·ln(o/e), dof=1) is whole-stage-codegen column
    math.  The reference's small-sample rule (n < 10·dof keeps the edge,
    pc.ci_test_gsq) is preserved.

    Input: ``matrix_bin(unit, eid, bin, cnt)``, sparse (zero rows absent;
    explicit cnt=0 rows — e.g. binarize of normalized 0<cnt<1 features —
    are allowed and count toward the pair universe).
    Output: ``(unit, eid1, eid2, n, n11, g2, r)`` for dependent pairs
    (all pairs plus a ``dep`` flag with ``emit_all``); ``r`` is the phi
    coefficient.

    Prior-knowledge pushdown is :func:`_pair_stats`'s: ``noedge``
    anti-joins the pair universe before contingency stats attach, and
    host-level rules (``ev_hosts``/``allowed_hosts``) filter both the
    (unit, bin) self-join and the pair universe.
    """
    crit = chi2_crit_1dof(alpha)
    # presence indicators over ALL events in the matrix: an all-zero
    # binarized series still participates (the dense kernel includes such
    # eids, and under the n<10*dof small-sample rule keeps their edges)
    ind = matrix_bin.withColumn("cnt", (F.col("cnt") > 0).cast("double"))
    pairs = _pair_stats(ind, unit_nbins, noedge, ev_hosts, allowed_hosts)
    n = F.col("n").cast("double")
    na, nb, n11 = F.col("sx1"), F.col("sx2"), F.col("sxy")
    n10 = na - n11
    n01 = nb - n11
    n00 = n - na - nb + n11

    def term(o: F.Column, row: F.Column, colm: F.Column) -> F.Column:
        e = row * colm / n
        return F.when(o > 0, o * F.log(o / e)).otherwise(F.lit(0.0))

    g2 = 2.0 * (
        term(n11, na, nb)
        + term(n10, na, n - nb)
        + term(n01, n - na, nb)
        + term(n00, n - na, n - nb)
    )
    # dependent iff p < alpha (g2 > crit); n < 10·dof is unreliable ->
    # conservatively dependent (reference heuristic)
    dep = (F.col("n") < 10) | (F.col("g2") > crit)
    # phi coefficient = Pearson r of the two binary indicators — the
    # same quantity np.corrcoef gives on binarized columns, i.e. the
    # dense kernel's edge weight (pc.estimate_dag_matrix).  Every product
    # in it is an exact small integer, so it equals the 2x2-table form
    # (n*n11 - na*nb) / sqrt(na*(n-na)*nb*(n-nb)) bit for bit
    out = pairs.withColumn("g2", g2).withColumn("r", _pearson_r())
    cols = ["unit", "eid1", "eid2", "n", n11.cast("bigint").alias("n11"), "g2", "r"]
    if emit_all:
        return out.select(*cols, dep.alias("dep"))
    return out.where(dep).select(*cols)


def unit_nbins_rows(
    specs: list[tuple[str, str, str, datetime, datetime]],
    bin_size: timedelta,
    method: str = "sequential",
    bin_diff: timedelta | None = None,
) -> list[tuple[str, int]]:
    """Per-unit zero-filled bin count N from driver-side unit specs —
    no Spark job."""
    seen: dict[str, int] = {}
    for unit, _host, _area, dts, dte in specs:
        if unit not in seen:
            seen[unit] = n_bins((dts, dte), bin_size, method, bin_diff)
    return list(seen.items())


def merge_syncevents(matrix: DataFrame, evdim: DataFrame) -> tuple[DataFrame, DataFrame]:
    """J4: merge events with identical (series, host) into one
    MultipleEventDefinition (/root/reference/logdag/log2event.py:465-503).

    Fingerprint = xxhash64 over the bin-sorted (bin, cnt) stream — a
    deterministic vector hash (SURVEY.md watch list).  Returns the merged
    matrix (one representative eid per group) and an updated event dim
    with ``members`` (sorted "|"-join, log2event.py:114-119).
    """
    fp = (
        matrix.groupBy("unit", "eid")
        .agg(
            F.xxhash64(
                F.to_json(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("bin"), F.col("cnt")))
                    )
                )
            ).alias("fp")
        )
    )
    keyed = evdim.join(fp, ["unit", "eid"], "left").withColumn(
        "fp", F.coalesce("fp", F.lit(0))
    )
    w = Window.partitionBy("unit", "host", "fp").orderBy("eid")
    grouped = keyed.withColumn("rep_eid", F.first("eid").over(w))
    members = (
        grouped.groupBy("unit", "rep_eid")
        .agg(
            F.array_join(F.array_sort(F.collect_list("identifier")), "|").alias(
                "merged_identifier"
            ),
            F.count("*").alias("n_members"),
        )
    )
    new_dim = (
        grouped.where(F.col("eid") == F.col("rep_eid"))
        .join(members, ["unit", "rep_eid"])
        .select(
            "unit",
            F.col("rep_eid").alias("eid"),
            F.when(F.col("n_members") > 1, F.col("merged_identifier"))
            .otherwise(F.col("identifier"))
            .alias("identifier"),
            "host",
            "key",
            "total",
            "n_members",
        )
    )
    keep = grouped.where(F.col("eid") == F.col("rep_eid")).select("unit", "eid")
    new_matrix = matrix.join(keep, ["unit", "eid"], "left_semi")
    return new_matrix, new_dim
