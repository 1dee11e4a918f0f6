"""Physical-plan shape assertions — the operators must not only be
correct but compile to the plans a 100 TB run needs: broadcast joins for
dims, predicate pushdown into the parquet scan, whole-stage codegen on the
hot path, no shuffle in parse."""

from __future__ import annotations

from datetime import timedelta

import pytest
from pyspark.sql import functions as F

from logdag_spark import fixtures as fx
from logdag_spark.fixtures.generator import DEFAULT_T0
from logdag_spark.pipeline import discretize, enrich, parse_tokens_arrow, route


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _n_shuffles(plan: str) -> int:
    import re

    # executed adaptive plans append an "== Initial Plan ==" section;
    # count only the plan that actually ran
    plan = plan.split("== Initial Plan ==")[0]
    return len([e for e in re.findall(r"\w*Exchange\w*", plan) if e == "Exchange"])


def _tokens(spark):
    # localCheckpoint so the generator's own repartition doesn't show up
    # in the plan under test
    return fx.contract(fx.gen_tokens(spark, scale=0.02)).localCheckpoint(eager=True)


def test_parse_is_one_arrow_eval_no_shuffle(spark):
    """Parse is map-only: the production parser adds exactly one
    ``ArrowEvalPython`` (the scalar Arrow kernel over the token list
    column) and no exchange, so the fact side never shuffles."""
    parsed = parse_tokens_arrow(_tokens(spark), fx.template_dim(spark))
    plan = _plan(parsed)
    assert plan.count("ArrowEvalPython") == 1
    assert "Join" not in plan
    assert _n_shuffles(plan) == 0


def test_enrich_joins_are_broadcast(spark):
    tdim = fx.template_dim(spark)
    enriched = enrich(parse_tokens_arrow(_tokens(spark), tdim), fx.host_meta(spark), tdim)
    plan = _plan(enriched)
    assert plan.count("BroadcastHashJoin") >= 2  # host_meta + template group
    assert "SortMergeJoin" not in plan
    assert _n_shuffles(plan) == 0


def test_events_scan_pushes_filters(spark, sf01_dir):
    ev = spark.read.parquet(f"{sf01_dir}/events.parquet")
    q = ev.where(F.col("event_type") == "error").select("event_id", "value")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,error)]" in plan
    # column pruning: scan must read only the needed columns
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "props" not in read_schema and "user_id" not in read_schema


def test_discretize_is_single_hash_aggregate(spark):
    routed = route(
        enrich(
            parse_tokens_arrow(_tokens(spark), fx.template_dim(spark)),
            fx.host_meta(spark),
            fx.template_dim(spark),
        )
    )
    b = discretize(routed, (DEFAULT_T0, DEFAULT_T0 + timedelta(hours=24)), timedelta(minutes=1))
    b.collect()  # materialize THIS query execution so AQE finalizes it
    plan = _plan(b)
    # partial + final hash aggregate around exactly one shuffle
    assert plan.count("HashAggregate") >= 2
    assert _n_shuffles(plan) == 1
    # whole-stage codegen spans appear as "*(n)" markers in Spark 4 plans
    assert "*(" in plan


def test_tumbling_agg_uses_whole_stage_codegen(spark, sf01_dir):
    from logdag_spark.entry_queries import q_tumbling_count_1m

    df = q_tumbling_count_1m(spark, sf01_dir)
    df.collect()
    plan = _plan(df)
    assert "*(" in plan  # whole-stage codegen marker
    assert "BatchScan" in plan or "FileScan" in plan


def test_gsq_edges_plan_shape(spark):
    """G² sparse path: unit_nbins joins as BROADCAST, the co-occurrence
    self-join stays a hash join on (unit, bin), and the G² expression
    itself is pure column math (no Python eval in the plan)."""
    from datetime import datetime

    from logdag_spark.pipeline.correlate import gsq_edges

    rows = [
        ("u", str(j), datetime(2024, 1, 1, 0, i), 1.0)
        for i in range(30)
        for j in range(4)
        if (i + j) % 3 != 0
    ]
    mat = spark.createDataFrame(
        rows, "unit string, eid string, bin timestamp, cnt double"
    ).localCheckpoint(eager=True)
    nb = spark.createDataFrame([("u", 30)], "unit string, n long")
    plan = _plan(gsq_edges(mat, nb, emit_all=True))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_host_rules_prune_below_cooccurrence_aggregate(spark):
    """G7 pushdown (VERDICT r2 item 3): with host-level prior-knowledge
    rules on, the allow filter must sit BELOW the cross-term aggregate in
    the optimized plan — forbidden cross-host pairs are dropped from the
    co-occurrence join's output before any Sxy is summed, and the noedge
    anti-join prunes the pair frame before cross stats attach, so rules
    cut the quadratic compute, not just the result rows."""
    from datetime import datetime

    from logdag_spark.pipeline.correlate import pairwise_corr

    rows = [
        ("u", e, datetime(2024, 1, 1, h), float((e + h) % 3))
        for e in range(3)
        for h in range(4)
    ]
    matrix = spark.createDataFrame(
        rows, "unit string, eid long, bin timestamp, cnt double"
    )
    nbins = spark.createDataFrame([("u", 4)], "unit string, n int")
    ev_hosts = spark.createDataFrame(
        [("u", 0, "h0"), ("u", 1, "h0"), ("u", 2, "h1")],
        "unit string, eid long, host string",
    )
    allowed = spark.createDataFrame([("h0", "h0")], "host1 string, host2 string")
    noedge = spark.createDataFrame(
        [("u", 0, 2), ("u", 1, 2)], "unit string, eid1 long, eid2 long"
    )
    out = pairwise_corr(
        matrix, nbins, noedge=noedge, ev_hosts=ev_hosts, allowed_hosts=allowed
    )
    # semantics: only the allowed same-host pair survives
    got = {(r["eid1"], r["eid2"]) for r in out.collect()}
    assert got == {(0, 1)}
    # plan shape: the host filter is a descendant of the Sxy aggregate
    # (printed deeper), it also filters the pair frame the aggregate joins
    # (printed above it), and the noedge anti-join is present
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftAnti" in plan
    assert plan.rindex("_host_ok") > plan.index("AS sxy"), (
        "host allow filter must be pushed below the cross-term aggregate"
    )
    assert plan.index("_host_ok") < plan.index("AS sxy"), (
        "host allow filter must prune the pair frame too"
    )


def test_pack_sequences_window_partitions_on_shard(spark):
    """The packing window's partition spec must include the hash shard —
    a source-only spec funnels each source's whole corpus slice through
    one window task (the round-3 scale-killer)."""
    from logdag_spark.operators.text import pack_sequences

    df = spark.createDataFrame(
        [(i, "s", "a b c") for i in range(20)],
        "doc_id long, source string, text string",
    )
    plan = _plan(pack_sequences(df, capacity=8, num_shards=8))
    spec = plan.lower()
    assert "windowspecdefinition(source" in spec
    assert "pack_shard" in spec.split("windowspecdefinition(source", 1)[1][:80]


def test_decontaminate_broadcasts_benchmark_grams(spark, sf001_dir):
    """The eval-suite gram dictionary must reach the corpus side as a
    broadcast — a shuffle keyed by gram would exchange the full corpus
    at 10^12 rows."""
    from logdag_spark.operators.curation import decontaminate

    d = spark.read.parquet(f"{sf001_dir}/documents.parquet")
    out = decontaminate(
        d.where(F.col("doc_id") % 11 != 0), d.where(F.col("doc_id") % 11 == 0), n=4
    )
    plan = _plan(out)
    # the gram-dictionary join must broadcast; the small per-doc count
    # join back onto corpus ids may legitimately plan as any join type
    assert "BroadcastHashJoin" in plan


def test_interval_join_plans_equi_join_not_nested_loop(spark, sf001_dir):
    from logdag_spark.operators.temporal import interval_join

    ev = spark.read.parquet(f"{sf001_dir}/events.parquet")
    pts = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    iv = ev.where(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("err_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end_ts"),
    )
    plan = _plan(interval_join(pts, iv, on="user_id"))
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert any(j in plan for j in
               ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))


def test_asof_join_single_key_exchange(spark, sf001_dir):
    """asof_join = union + carry-forward window: exactly ONE exchange
    (the key repartition for the window), rows never multiply."""
    from logdag_spark.operators.temporal import asof_join

    ev = spark.read.parquet(f"{sf001_dir}/events.parquet").localCheckpoint(
        eager=True
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", "ts", "value"
    )
    out = asof_join(clicks, errors, on="user_id", value_cols=["value"])
    assert _n_shuffles(_plan(out)) == 1


def test_prefix_sum_offsets_join_is_broadcast(spark, sf001_dir):
    """The shard-offset frame (one row per shard) must broadcast back to
    the fact side — a shuffle join would re-exchange the corpus."""
    from logdag_spark.operators.scan import partitioned_prefix_sum

    d = spark.read.parquet(f"{sf001_dir}/documents.parquet").select(
        "doc_id", "source", F.length("text").alias("v")
    )
    out = partitioned_prefix_sum(
        d, "v", "doc_id", part_cols=("source",), shard_width=50
    )
    assert "BroadcastHashJoin" in _plan(out)


def test_partitioned_rank_window_partitions_on_shard(spark):
    """cap_per_group / top_fraction rank windows must be sharded: a
    windowspec partitioned by the group column alone funnels each
    group's whole corpus slice through one task (same trap the packing
    window fixed in round 3).  Both the per-row row_number window and
    the per-shard offset window must carry the _shard key, and the
    offset side must be a broadcast join."""
    from logdag_spark.operators.sampling import cap_per_group

    df = spark.createDataFrame(
        [(i, "s") for i in range(50)], "doc_id long, source string"
    )
    plan = _plan(cap_per_group(df, cap=5, n_shards=8))
    spec = plan.lower()
    assert "windowspecdefinition(source" in spec
    assert "_shard" in spec.split("windowspecdefinition(source", 1)[1][:80]
    assert "broadcast" in spec  # shard offsets ride a broadcast join


def test_oov_vocab_join_is_broadcast(spark, sf001_dir):
    from logdag_spark.operators.text import oov_stats, vocab_topk

    d = spark.read.parquet(f"{sf001_dir}/documents.parquet")
    plan = _plan(oov_stats(d, vocab_topk(d, k=20)))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_remove_dup_spans_gram_frame_is_cached_not_recomputed(spark, sf001_dir):
    """The positional gram explode (the expensive stage) feeds both the
    dup aggregate and the probe join; Catalyst plans no ReusedExchange
    across DataFrame branches, so the frame must come back as
    InMemoryTableScan at every consumer."""
    from logdag_spark.operators.curation import remove_dup_spans

    d = spark.read.parquet(f"{sf001_dir}/documents.parquet")
    out = remove_dup_spans(d, n=4)
    try:
        assert _plan(out).count("InMemoryTableScan") >= 2
    finally:
        spark.catalog.clearCache()


def test_source_token_kl_counts_frame_cached_and_double(spark, sf001_dir):
    from logdag_spark.operators.text import source_token_kl

    d = spark.read.parquet(f"{sf001_dir}/documents.parquet")
    out = source_token_kl(d)
    try:
        # all four consumers (c_t, n_s, total, term join) read the cache
        assert _plan(out).count("InMemoryTableScan") >= 4
    finally:
        spark.catalog.clearCache()


def test_shuffle_order_window_partitions_on_shard(spark):
    """The epoch-rank window must be partitioned by the hash shard —
    an unpartitioned row_number() would funnel the corpus through one
    task."""
    from logdag_spark.operators.sampling import shuffle_order

    df = spark.range(1000).select(F.col("id").alias("doc_id"))
    plan = _plan(shuffle_order(df))
    plan = plan.split("== Initial Plan ==")[0]
    import re

    specs = re.findall(r"row_number\(\) windowspecdefinition\(([^)]*)\)", plan)
    assert specs, f"no window spec found in plan:\n{plan[:2000]}"
    for spec in specs:
        assert "_shard" in spec, f"window not sharded: {spec}"


def test_gopher_quality_no_window_no_udf(spark, sf001_dir):
    """The Gopher gate is joins + aggregates only: no window function
    (a per-doc row_number would be a corpus-wide funnel) and no Python
    eval in the plan — every rule is a column expression."""
    from logdag_spark.operators.curation import gopher_quality

    d = spark.read.parquet(f"{sf001_dir}/documents.parquet")
    plan = _plan(gopher_quality(d))
    assert "Window" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in plan


def test_dedup_keep_canonical_window_on_groups_only(spark):
    """The canonical-pick window partitions by group_id over the sparse
    groups frame — the corpus side contributes only an equi-join, never
    a window partition keyed on the raw id."""
    from logdag_spark.operators.dedup import dedup_keep_canonical

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 97).alias("n_chars")
    )
    groups = spark.range(100).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("group_id")
    )
    plan = _plan(dedup_keep_canonical(docs, groups))
    plan_run = plan.split("== Initial Plan ==")[0]
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan_run)
    assert specs, f"no window spec in plan:\n{plan_run[:2000]}"
    for spec in specs:
        assert "group_id" in spec.split(",")[0], f"window not on group_id: {spec}"


def test_budget_mix_budgets_broadcast_and_sharded_windows(spark):
    """The per-source budgets dim joins broadcast (never shuffles the
    corpus by source for a 3-row dim) and every window in the plan is
    shard-partitioned (the shuffle-rank and prefix-sum machinery)."""
    from logdag_spark.operators.sampling import budget_mix

    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.lit("w x y z").alias("text"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("source"),
    )
    plan = _plan(budget_mix(df, total_budget=1000, weights={"s0": 1.0, "s1": 1.0}))
    plan_run = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan_run or "BroadcastExchange" in plan_run
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan_run)
    assert specs
    for spec in specs:
        assert "_shard" in spec, f"window not sharded: {spec}"


def test_corpus_report_single_shuffle_no_python(spark, sf001_dir):
    """The dataset-card rollup is ONE cube aggregate: a single exchange
    (partial aggregation map-side across all grouping sets), no window,
    no Python eval."""
    from logdag_spark.operators.text import corpus_report

    d = spark.read.parquet(f"{sf001_dir}/documents.parquet")
    plan = _plan(corpus_report(d))
    assert _n_shuffles(plan) == 1, plan[:1500]
    assert "Window" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan
