"""Session helpers: the host-derived driver heap, Arrow-backed local
frames and the partitioning of grouped-map kernel inputs."""

from __future__ import annotations

import os
from datetime import datetime, timezone

import pandas as pd

from logdag_spark.session import default_driver_memory, kernel_groups, local_frame


def _meminfo(tmp_path, kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kb} kB\nMemFree:         1000 kB\n")
    return str(p)


def test_default_driver_memory_is_half_of_memtotal(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 16_384_000)) == "8000m"
    # capped at the old fixed default, floored at 1g
    assert default_driver_memory(_meminfo(tmp_path, 256 * 2**20)) == "49152m"
    assert default_driver_memory(_meminfo(tmp_path, 1_000_000)) == "1024m"
    # no meminfo: Spark's own default
    assert default_driver_memory(str(tmp_path / "absent")) == "1g"


def test_session_heap_comes_from_the_host(spark):
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return  # the override wins; nothing host-derived to check
    assert spark.sparkContext.getConf().get("spark.driver.memory") == default_driver_memory()


def _plan_node(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def test_local_frame_is_local_relation_equal_to_list_frame(spark):
    ddl = "unit string, n long, dts timestamp, arr array<int>"
    rows = [
        ("all_20240101", 288, datetime(2024, 1, 1, 6, tzinfo=timezone.utc), [1, 2]),
        ("h1_20240101", None, datetime(2024, 1, 1, 23, 59, 59, 123000, tzinfo=timezone.utc), None),
        ("h2_20240102", 0, None, []),
    ]
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert _plan_node(got) == "LocalRelation"
    assert got.schema == want.schema
    assert got.collect() == want.collect()

    empty = local_frame(spark, [], ddl)
    assert _plan_node(empty) == "LocalRelation"
    assert empty.schema == want.schema
    assert empty.collect() == []


def test_kernel_groups_runs_one_task_per_shuffle_partition(spark):
    """A tiny kernel input keeps spark.sql.shuffle.partitions partitions:
    AQE coalesces a plain groupBy exchange of a few KB into one."""
    df = spark.range(200).selectExpr("id % 20 AS k", "id AS v")

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"k": [pdf["k"].iloc[0]], "n": [len(pdf)]})

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        out = kernel_groups(df, "k").applyInPandas(kernel, "k long, n long")
        assert out.rdd.getNumPartitions() == 7
        assert sorted(tuple(r) for r in out.collect()) == [(k, 10) for k in range(20)]
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the repartition satisfies the grouping: no second exchange
        assert "REPARTITION_BY_NUM" in plan and "ENSURE_REQUIREMENTS" not in plan, plan
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
