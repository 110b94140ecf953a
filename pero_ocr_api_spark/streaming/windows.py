"""Event-time streaming operators.

Two shapes the batch library can't express:

- ``windowed_state_counts``: the streaming analog of the reference's
  24-hour statistics lookback (/root/reference/app/main/general.py:129-144
  polled via /page_statistics, /root/reference/app/main/routes.py:376-384):
  a watermarked tumbling-window count per page state.  Late events
  within the watermark are folded in; windows emit exactly once
  (append mode) when the watermark passes their end.

- ``rate_limited_notifications``: the reference's ops-email throttle
  (send only if ``now - last_notification > MAX_EMAIL_FREQUENCY``,
  /root/reference/app/main/routes.py:332-334, general.py:240-248,
  singleton row model.py:126-132) as a keyed stateful operator:
  ``applyInPandasWithState`` keeps the last-notification timestamp per
  engine across micro-batches, emitting only events that clear the
  interval.  This is the custom-stateful-operator pattern
  (SURVEY §2.10): state lives in the store, not the driver.
"""

from __future__ import annotations

import os

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EVENTS_SCHEMA = "engine_id string, state string, ts timestamp, message string"

NOTIFY_OUT_SCHEMA = "engine_id string, ts timestamp, message string"
NOTIFY_STATE_SCHEMA = "last_ts double"


def windowed_state_counts(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "10 minutes",
    watermark: str = "5 minutes",
):
    """availableNow drain: tumbling-window per-state counts with a
    watermark.  Only windows the watermark has passed are emitted
    (append mode) — the exactly-once streaming version of
    ``groupBy(state).count()`` over a time slice."""
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    counts = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "state")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "state",
            "n",
        )
    )
    query = (
        counts.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def _notify_fn(min_interval_s: float):
    def fn(key, pdfs, state: GroupState):
        (engine_id,) = key
        last = state.get[0] if state.exists else None
        rows = []
        # Arrow delivers the group's rows as an iterator of chunks in
        # arbitrary order — a per-chunk sort would process events out of
        # time order across chunk boundaries, so materialize the group
        # and sort globally before applying the throttle.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            full = pd.concat(chunks).sort_values(["ts", "message"])
            # a null ts would store NaN as last_ts and NaN comparisons
            # would suppress every future notification for the engine —
            # eventless rows are dropped, never folded into state
            full = full[full["ts"].notna()]
            for ts, message in zip(full["ts"], full["message"]):
                t = ts.timestamp()
                if last is None or (t - last) > min_interval_s:
                    rows.append((engine_id, ts, message))
                    last = t
        state.update((last,))
        yield pd.DataFrame(rows, columns=["engine_id", "ts", "message"])

    return fn


def rate_limited_notifications(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    min_interval_s: float = 300.0,
):
    """availableNow drain: per-engine rate-limited notification stream.
    The last-notification timestamp persists in the state store across
    micro-batches (and restarts, via the checkpoint), so an event early
    in batch N+1 is still suppressed by a notification sent in batch N
    — the distributed version of the reference's singleton
    ``notification`` row."""
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    notifications = stream.groupBy("engine_id").applyInPandasWithState(
        _notify_fn(min_interval_s),
        outputStructType=NOTIFY_OUT_SCHEMA,
        stateStructType=NOTIFY_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    out_path = os.path.join(output_dir, "notifications")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # batch-scoped overwrite (not blind append): a retried batch
        # rewrites its own directory instead of duplicating rows, and
        # the plan executes exactly once (no isEmpty pre-probe, which
        # would run the stateful stage twice)
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_path, f"batch_id={batch_id}")
        )

    query = (
        notifications.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def sliding_rate_counts(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "5 minutes",
):
    """Sliding-window per-state event rates — the live requests-per-
    interval dashboard behind the reference's /page_statistics poll
    (/root/reference/app/main/routes.py:376-384), but with overlapping
    windows so the rate curve refreshes every ``slide`` instead of
    once per ``window``.

    Each event belongs to window/slide overlapping windows (Spark
    expands it window/slide ways BEFORE the keyed shuffle — a bounded
    constant fan-out, not data growth); state is one count per open
    (window, state) pair, emitted exactly once in append mode when the
    watermark passes the window end.  The batch twin is the identical
    ``F.window(ts, window, slide)`` expression — pinned equal by
    ``test_sliding_rate_equals_batch``."""
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    counts = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("win"), "state")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "state",
            "n",
        )
    )
    query = (
        counts.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query
