"""Structured Streaming variant of the ingest->aggregate stage.

The reference is batch-only (SURVEY.md §2.10): its closest streaming
notions are the incremental evdb build per ``evdb_unit_diff`` chunk
(/root/reference/logdag/source/__main__.py:36-43) and the tumbling/sliding
bins of dtutil.  This module keeps the count-aggregation stage
watermark-compatible so a streaming ingest can feed the same events_ts
table the batch pipeline reads:

    readStream(tokens) -> parse -> enrich -> route
      -> withWatermark(ts) -> window(bin) count

Parse is the batch pipeline's own ``parse_tokens_arrow``, so batch and
streaming ingest classify every line by one implementation; a stream
needs only what the batch pipeline needs, Python workers that can
import the package.  The caller chooses the sink (e.g. ``foreachBatch``
appends into the partitioned layout the Catalog uses); the batch
correlate/PC stages then run unchanged over the accumulating table.
"""

from __future__ import annotations

from datetime import timedelta

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logdag_spark.pipeline.enrich import enrich
from logdag_spark.pipeline.parse import parse_tokens_arrow
from logdag_spark.pipeline.route import route


def streaming_counts(
    token_stream: DataFrame,
    host_meta: DataFrame,
    template_dim: DataFrame,
    bin_size: timedelta = timedelta(minutes=1),
    watermark: str = "10 minutes",
) -> DataFrame:
    """tokens stream -> per-(measure, host, key) windowed counts.

    Tumbling ``window()`` here is epoch-anchored (standard streaming
    semantics); the batch discretize path re-bins from events_ts when
    range-anchored bins are required, so the two stay consistent at
    bin_size granularity.
    """
    routed = route(
        enrich(parse_tokens_arrow(token_stream, template_dim), host_meta, template_dim)
    )
    interval = f"{int(bin_size.total_seconds())} seconds"
    return (
        routed.where(F.col("measure") != "unparsed")
        .withWatermark("ts", watermark)
        .groupBy(
            "measure", "host", "key", F.window("ts", interval).alias("w")
        )
        .agg(F.sum("val").alias("cnt"))
        .select(
            "measure", "host", "key", F.col("w.start").alias("bin"), "cnt"
        )
    )


def stateful_series_monitor(
    events: DataFrame,
    threshold: float = 10.0,
    bin_size: timedelta = timedelta(minutes=1),
    watermark: str = "10 minutes",
    timeout_minutes: int = 30,
) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): a
    per-series running monitor emitting an alert row whenever a bin's
    count exceeds ``threshold`` x the series' running mean.

    This is the streaming analogue of the batch outlier features
    (operators/windows.py, evpost.py:59-71): the reference recomputes
    medians over full series; a stream can't, so the state carries
    (n_bins, total) per (measure, host, key) and scores each closed bin
    against the running mean.  State times out after ``timeout_minutes``
    of event-time inactivity (GroupStateTimeout.EventTimeTimeout), so the
    state store stays bounded by the ACTIVE series count regardless of
    how many series ever existed — the property that matters at 10^12
    rows.

    Bins are scored and emitted exactly once, when the WATERMARK passes
    the bin's end: open bins accumulate in state across micro-batches, so
    a bin whose events straddle two triggers still produces one (cnt,
    alert) row and bumps the running-mean state once (ADVICE r2 — the
    earlier per-batch aggregation emitted one partial row per trigger
    fragment).  Bins still open when the state times out are kept and the
    timeout re-armed; fully drained state is removed.

    Input: routed event rows (measure, host, key, ts, val).
    Output: (measure, host, key, bin timestamp, cnt, mean_before, alert).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    interval_s = int(bin_size.total_seconds())
    interval_ms = interval_s * 1000
    out_cols = ["measure", "host", "key", "bin", "cnt", "mean_before", "alert"]
    out_schema = (
        "measure string, host string, key string, bin timestamp, "
        "cnt double, mean_before double, alert boolean"
    )
    # running mean (n, total) + the open-bin accumulator (parallel arrays
    # bin-start-ms -> partial count); bounded by the watermark horizon /
    # bin_size per series, not by stream length
    state_schema = "n long, total double, bins array<long>, cnts array<double>"

    def monitor(key, pdfs, state: GroupState):
        measure, host, k = key
        if state.exists:
            n, total, open_bins, open_cnts = state.get
            open_map = dict(zip(open_bins or [], open_cnts or []))
        else:
            n, total, open_map = 0, 0.0, {}
        if not state.hasTimedOut:
            # merge the WHOLE iterator into the open-bin map: Arrow-chunk
            # splits and cross-batch splits land in the same accumulator
            pdf = pd.concat(list(pdfs), ignore_index=True)
            if len(pdf):
                binned = (
                    pdf.assign(bin=pdf["ts"].dt.floor(f"{interval_s}s"))
                    .groupby("bin")["val"].sum()
                )
                for b, cnt in binned.items():
                    bm = int(b.value // 1_000_000)
                    open_map[bm] = open_map.get(bm, 0.0) + float(cnt)
        wm = state.getCurrentWatermarkMs()
        rows = []
        # close bins the watermark has passed, oldest first (the running
        # mean must see bins in event-time order)
        for bm in sorted(open_map):
            if bm + interval_ms > wm:
                break
            cnt = open_map.pop(bm)
            mean = total / n if n else cnt
            rows.append(
                (measure, host, k, pd.Timestamp(bm, unit="ms"), cnt, mean,
                 bool(n > 0 and cnt > threshold * mean))
            )
            n += 1
            total += cnt
        if state.hasTimedOut and not open_map:
            state.remove()
        else:
            keys = sorted(open_map)
            state.update((n, total, keys, [open_map[b] for b in keys]))
            state.setTimeoutTimestamp(wm + timeout_minutes * 60_000)
        yield pd.DataFrame(rows, columns=out_cols)

    return (
        events.withWatermark("ts", watermark)
        .groupBy("measure", "host", "key")
        .applyInPandasWithState(
            monitor,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_content_dedup(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming exact dedup by content hash — the streaming analogue of
    operators/dedup.exact_dup_groups for a training-data ingest.

    ``dropDuplicatesWithinWatermark`` keys the state store on
    sha2(text), so state holds one row per DISTINCT document seen within
    the watermark horizon and is evicted afterwards — bounded by the
    arrival rate × horizon, not the corpus size.  Exactly-once per
    content within the horizon; re-arrivals beyond it are a documented
    approximation (same trade every streaming dedup at scale makes).
    """
    keyed = docs.withColumn("_h", F.sha2(F.col(text_col).cast("binary"), 256))
    return (
        keyed.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_h"])
        .drop("_h")
    )
