"""SparkSession factory tuned for this engine.

Defaults target local[N] testing but every knob is the one you would set
on a 1000-executor cluster too: AQE on (runtime re-plan + skew-join),
shuffle partitions sized explicitly, Arrow enabled for the pandas-UDF
kernels, UTC session timezone so results compare bit-exact against the
DuckDB oracle and the reference's naive-UTC storage convention
(/root/reference/logdag/source/sqlts.py:14-51).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, GroupedData, SparkSession
from pyspark.sql.types import DataType, StructType

MAX_DRIVER_MEM_MB = 48 * 1024


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` default: half of the host's MemTotal,
    capped at 48g.  In local mode the driver is also the executor, and a
    heap sized past the host's RAM grows until the kernel OOM-kills the
    JVM.  Without ``meminfo`` (not Linux) Spark's own 1g default stays."""
    try:
        with open(meminfo) as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return "1g"
    return f"{max(1024, min(MAX_DRIVER_MEM_MB, kb // 2048))}m"


def get_spark(
    app_name: str = "logdag_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` -> ``local[*]``.  ``shuffle_partitions`` defaults to the
    core count: on local mode 200 default partitions just adds task-launch
    overhead; on a real cluster you would size this to ~2-3x total cores
    and let AQE coalesce.
    """
    master = f"local[{cores}]" if cores else "local[*]"
    n_shuffle = shuffle_partitions or cores or (os.cpu_count() or 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 64k-row Arrow batches: the parse kernel pays a fixed
        # serialize/GIL/Series-construction cost per batch (~3100 batches
        # per bench run at the old 10k), and the widest UDF rows here
        # (token arrays, embeddings) are ~0.5KB -> ~32MB per batch, well
        # inside executor memory
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # task-commit renames instead of a serial job-commit rename loop
        # in the driver (matters more on object stores / many files).
        # Non-atomicity on task failure is safe here: checkpoint tables
        # are only trusted once the catalog's completion manifest exists
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # dynamic-partition writes otherwise SORT every task's rows by the
        # partition columns before writing (measured ~30% of the ingest
        # write's wall); with few distinct partitions per task, concurrent
        # open writers skip the sort entirely
        .config("spark.sql.maxConcurrentOutputFileWriters", "16")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def kernel_groups(df: DataFrame, *keys: str) -> GroupedData:
    """``df.groupBy(*keys)`` for a grouped-map Python kernel, its input
    hash-partitioned on ``keys`` to ``spark.sql.shuffle.partitions``.

    A kernel's input is small by design (pre-aggregated bins, one unit
    matrix), so AQE's byte-based coalescing would fold its exchange into
    one or two partitions and run every group's Python on one core.  AQE
    never coalesces a repartition-by-number exchange, and that exchange
    already satisfies the grouping, so the plan gains no extra shuffle.
    Cogrouped frames pass through here on both sides so they stay
    co-partitioned."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *keys).groupBy(*keys)


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: str | StructType
) -> DataFrame:
    """A driver-side row list as an Arrow-backed ``LocalRelation``.

    ``spark.createDataFrame(<list>, ddl)`` plans a ``LogicalRDD`` over a
    Python RDD, so every plan that broadcasts it first runs a job in
    Python workers; an Arrow table is shipped to the JVM once and planned
    as a local relation, also when ``rows`` is empty.  Timestamps follow
    the Arrow convention: naive datetimes are read as UTC."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)
