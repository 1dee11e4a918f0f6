"""Streaming ingest smoke: a bounded parquet-backed stream drives the
windowed count aggregation to completion and matches the batch counts."""

from __future__ import annotations

from datetime import timedelta

import pytest
from pyspark.sql import functions as F

from logdag_spark import fixtures as fx
from logdag_spark.streaming.ingest import streaming_counts


@pytest.mark.slow
def test_streaming_counts_match_batch(spark, tmp_path):
    """The stream parses with the production ``parse_tokens_arrow``; the
    batch side parses with the Catalyst oracle, so the check also covers
    the Arrow kernel under Structured Streaming."""
    labeled = fx.gen_tokens(spark, scale=0.05)
    src = str(tmp_path / "tokens")
    fx.contract(labeled).write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = spark.readStream.schema(schema).parquet(src)
    counts = streaming_counts(
        stream, fx.host_meta(spark), fx.template_dim(spark),
        bin_size=timedelta(minutes=5),
    )
    q = (
        counts.writeStream.outputMode("append")
        .format("memory").queryName("stream_counts")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    # batch equivalent over the same 5m epoch-anchored windows
    from logdag_spark.pipeline import enrich as _e, route as _r
    from parse_reference import parse_tokens
    routed = _r(
        _e(parse_tokens(spark.read.parquet(src), fx.template_dim(spark)),
           fx.host_meta(spark), fx.template_dim(spark))
    ).where(F.col("measure") != "unparsed")
    batch = (
        routed.groupBy(
            "measure", "host", "key", F.window("ts", "300 seconds").alias("w")
        )
        .agg(F.sum("val").alias("cnt"))
        .select("measure", "host", "key", F.col("w.start").alias("bin"), "cnt")
    )
    got = spark.sql("SELECT * FROM stream_counts")
    # append mode emits a window only once the watermark passes it: the
    # trailing windows (within the 10m watermark of max event time) are
    # held back, everything older must match the batch counts exactly
    assert got.exceptAll(batch).count() == 0
    max_ts = routed.agg(F.max("ts")).collect()[0][0]
    from datetime import timedelta as _td
    cutoff = max_ts - _td(minutes=10) - _td(minutes=5)
    settled = batch.where(F.col("bin") < F.lit(cutoff))
    assert settled.exceptAll(got).count() == 0
    assert got.count() >= settled.count() > 0


@pytest.mark.slow
def test_stateful_series_monitor_alerts(spark, tmp_path):
    """applyInPandasWithState: running per-series mean + burst alerting.
    A planted 30x burst bin must alert; steady bins must not."""
    import pandas as pd
    from datetime import datetime

    from logdag_spark.streaming.ingest import stateful_series_monitor

    t0 = datetime(2024, 1, 1)
    rows = []
    for m in range(120):
        n = 30 if m == 60 else 1  # burst at minute 60
        for i in range(n):
            rows.append(("log_feature", "h1", "7", t0 + timedelta(minutes=m, seconds=i), 1.0))
    src = str(tmp_path / "ev")
    spark.createDataFrame(
        rows, "measure string, host string, key string, ts timestamp, val double"
    ).write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = spark.readStream.schema(schema).parquet(src)
    out = stateful_series_monitor(stream, threshold=5.0)
    q = (
        out.writeStream.outputMode("append")
        .format("memory").queryName("series_monitor")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("SELECT * FROM series_monitor").toPandas()
    assert len(got) > 0
    alerts = got[got["alert"]]
    burst_bin = pd.Timestamp(t0 + timedelta(minutes=60))
    assert list(alerts["bin"]) == [burst_bin]
    assert float(alerts["cnt"].iloc[0]) == 30.0
    # running mean before the burst is ~1
    assert abs(float(alerts["mean_before"].iloc[0]) - 1.0) < 0.2


@pytest.mark.slow
def test_streaming_content_dedup(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps one row per distinct text."""
    from datetime import datetime

    from logdag_spark.streaming.ingest import streaming_content_dedup

    t0 = datetime(2024, 1, 1)
    rows = []
    for i in range(60):
        # 20 distinct texts, each appearing 3x within minutes
        rows.append((f"d{i}", f"text number {i % 20}", t0 + timedelta(minutes=i)))
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id string, text string, ts timestamp").write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = spark.readStream.schema(schema).parquet(src)
    out = streaming_content_dedup(stream, watermark="2 hours")
    q = (
        out.writeStream.outputMode("append")
        .format("memory").queryName("dedup_docs")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("SELECT * FROM dedup_docs").toPandas()
    assert len(got) == 20
    assert sorted(got["text"].unique()) == sorted({f"text number {i}" for i in range(20)})


@pytest.mark.slow
def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """The SAME sessionize() call runs as a watermarked streaming
    aggregation (session_window is engine-native in both modes): every
    emitted session is a true batch session, and all sessions that
    closed before the final watermark are emitted."""
    from logdag_spark.operators.temporal import sessionize

    t0 = fx.generator.DEFAULT_T0
    rows = [
        (u * 100 + b * 10 + j, u,
         t0 + timedelta(hours=2 * b, minutes=5 * j + u))
        for u in range(5) for b in range(6) for j in range(4)
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    src = str(tmp_path / "events")
    ev.write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = spark.readStream.schema(schema).parquet(src).withWatermark(
        "ts", "10 minutes"
    )
    sessions = sessionize(stream, gap="30 minutes", key_cols=("user_id",))
    q = (
        sessions.writeStream.outputMode("append")
        .format("memory").queryName("stream_sessions")
        .option("checkpointLocation", str(tmp_path / "ck_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    batch = sessionize(
        spark.read.parquet(src), gap="30 minutes", key_cols=("user_id",)
    )
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("SELECT * FROM stream_sessions").collect()
    }
    want = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in batch.collect()
    }
    assert got <= want  # nothing fabricated
    # settled = closed before the final watermark (filter PYTHON-side:
    # a session_end predicate over the aggregate would be pushed into
    # the input and fabricate truncated sessions - see sessionize())
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    watermark = max_ts - timedelta(minutes=10)
    settled = {w for w in want if w[2] < watermark}
    assert settled <= got
    assert len(got) >= len(settled) > 0


@pytest.mark.slow
def test_sessionize_fences_session_end_pushdown(spark):
    """A session_end filter over the aggregate must NOT be pushed into
    the input rows: with wrap-around data every user forms ONE long
    session, so an end-bound cut below the true ends must return zero
    rows - the unfenced plan fabricated one truncated ghost per user."""
    from logdag_spark.operators.temporal import sessionize

    t0 = fx.generator.DEFAULT_T0
    ev = spark.createDataFrame(
        [(i, i % 7, t0 + timedelta(minutes=(i * 13) % 480)) for i in range(400)],
        "event_id long, user_id long, ts timestamp",
    )
    batch = sessionize(ev, gap="30 minutes", key_cols=("user_id",))
    ends = [r["session_end"] for r in batch.collect()]
    cutoff = min(ends) - timedelta(minutes=30)
    assert batch.where(F.col("session_end") < F.lit(cutoff)).count() == 0
