"""Replicates the driver's correctness gate locally: every oracle-checked
query runs on Spark AND DuckDB at sf0.01; row count, schema (column
names), and values (order-insensitive) must match."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from logdag_spark.entry_queries import QUERIES

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

ORACLE_CHECKED = [n for n, (_, sql) in QUERIES.items() if sql is not None]
ROWS_ONLY = [n for n, (_, sql) in QUERIES.items() if sql is None]


@pytest.fixture(scope="module")
def duck(sf01_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf01_dir}/{t}.parquet')"
        )
    return con


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].astype(float)
        elif pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("int64")
    pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(drop=True)
    return pdf


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_query_vs_oracle(spark, duck, sf01_dir, name):
    fn, sql = QUERIES[name]
    got = _normalize(fn(spark, sf01_dir).toPandas())
    want = _normalize(duck.execute(sql).fetchdf())
    assert list(got.columns) == list(want.columns), (
        f"{name}: columns {list(got.columns)} != {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: rows {len(got)} != {len(want)}"
    for c in got.columns:
        if pd.api.types.is_float_dtype(got[c]):
            ok = np.isclose(
                got[c].to_numpy(), want[c].astype(float).to_numpy(),
                rtol=0, atol=1e-9, equal_nan=True,
            )
            assert ok.all(), f"{name}.{c}: {int((~ok).sum())} float mismatches"
        else:
            mism = (got[c].astype(str) != want[c].astype(str)).sum()
            assert mism == 0, f"{name}.{c}: {mism} mismatches"


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, sf01_dir, name):
    fn, _ = QUERIES[name]
    df = fn(spark, sf01_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as se

    df = se.entry(spark)
    assert df.count() > 0


def test_spread_accepts_spark_byte_strings(spark, tmp_path):
    """Any byte string Spark accepts for maxPartitionBytes ("128mb",
    "1g", plain bytes) must work in the spread-enabled loads."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from logdag_spark.entry_queries import _size_bytes, _spread

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"x": list(range(100))}), path)
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "128mb")
    try:
        out = _spread(spark, spark.read.parquet(path), path)
    finally:
        spark.conf.set(key, old)
    # one row group under an 8-core session: spread to every core
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r["x"] for r in out.collect()) == list(range(100))
    assert _size_bytes(spark, "128mb") == 128 << 20
    assert _size_bytes(spark, "1g") == 1 << 30
    assert _size_bytes(spark, "134217728") == 134217728

