"""Streaming page-state tracking — the page lifecycle of the reference
(CREATED→WAITING→PROCESSING→terminal, routes.py + general.py flips) as
a custom stateful streaming operator: ``applyInPandasWithState`` keyed
by page_id folds the event stream through the SAME legal-edge table
the batch sweeps in plans/statemachine.py enforce, and the state store
(checkpointed) carries each page's current state across micro-batches
and restarts.

Illegal events are ignored, mirroring the reference's rejections
(an upload against a non-CREATED page is a 400 that changes nothing;
a claim of a non-WAITING page cannot happen under the row lock).

State per key is one (state, last_ts) pair — bounded by page count in
flight, exactly the table the reference keeps in Postgres.  The
tracker has one stateful path: ``applyInPandasWithState`` needs only
pandas and pyarrow on the workers (``transformWithStateInPandas`` would
also need ``google.protobuf``).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..constants import (
    STATE_CANCELED,
    STATE_CREATED,
    STATE_PROCESSED,
    STATE_PROCESSING,
    STATE_PROCESSING_FAILED,
    STATE_WAITING,
)

PAGE_EVENTS_SCHEMA = "page_id string, event string, ts timestamp"
TRACK_OUT_SCHEMA = "page_id string, state string, last_ts timestamp"
TRACK_STATE_SCHEMA = "state string, last_ts long"

# (current state, event) → next state; anything absent is ignored.
TRANSITIONS: dict[tuple[str | None, str], str] = {
    (None, "created"): STATE_CREATED,
    (STATE_CREATED, "upload"): STATE_WAITING,
    (STATE_WAITING, "claim"): STATE_PROCESSING,
    (STATE_PROCESSING, "finish_ok"): STATE_PROCESSED,
    (STATE_PROCESSING, "finish_fail"): STATE_PROCESSING_FAILED,
    (STATE_CREATED, "cancel"): STATE_CANCELED,
    (STATE_WAITING, "cancel"): STATE_CANCELED,
    (STATE_PROCESSING, "cancel"): STATE_CANCELED,
}


def fold_events(state: str | None, events) -> str | None:
    """Fold (event, ts) pairs — already sorted — through the legal-edge
    table.  Shared by the streaming operator and the batch/pytest
    twin, so the two cannot drift."""
    for ev in events:
        nxt = TRANSITIONS.get((state, ev))
        if nxt is not None:
            state = nxt
    return state


def _track_fn(
    key: Any, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (page_id,) = key
    if state.exists:
        cur, last_ts = state.get
    else:
        cur, last_ts = None, None
    pdf = pd.concat(list(batches), ignore_index=True)
    # deterministic fold order: timestamp, then event name for ties
    pdf = pdf.sort_values(["ts", "event"], kind="mergesort")
    cur = fold_events(cur, pdf["event"])
    ts_max = pdf["ts"].max()
    last = max(x for x in (last_ts, ts_max.value) if x is not None)
    state.update((cur, int(last)))
    yield pd.DataFrame(
        {"page_id": [page_id], "state": [cur],
         "last_ts": [pd.Timestamp(last)]}
    )


def track_page_states(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """availableNow drain of page lifecycle events; emits each touched
    page's current state per micro-batch (append), state persisted in
    the checkpoint across drains."""
    stream = (
        spark.readStream.schema(PAGE_EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    tracked = stream.groupBy("page_id").applyInPandasWithState(
        _track_fn,
        outputStructType=TRACK_OUT_SCHEMA,
        stateStructType=TRACK_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(output_dir, f"batch_id={batch_id}")
        )

    query = (
        tracked.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query
