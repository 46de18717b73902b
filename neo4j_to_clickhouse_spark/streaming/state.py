"""Stateful streaming latest-state tracking (`applyInPandasWithState`).

The batch view (:mod:`..operators.latest_state`) recomputes the window over
the whole log; this operator maintains the same result *incrementally*: one
state cell per entity holding the winning ``(event_timestamp, event_id)``
under the engine's total order, updated per micro-batch, emitting a row
only when an entity's latest actually changes. The emitted changelog is an
append-only transaction-logged parquet table; ``latest_events`` over
``txn_store.read_table(spark, changelog_path)`` IS the current state —
the same derivation contract as everywhere else in the engine, and the
same sink as the ingest stream's.

Scale notes: state is O(live entities) x ~3 small fields, hash-partitioned
by entity across executors by the groupBy — the same partitioning the batch
window uses, but resident instead of recomputed. Late events are handled by
the total order itself (an older event simply never wins), so no watermark
is required for correctness; add one (`with_watermark_s`) only to bound
state for entity spaces that grow without end.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from neo4j_to_clickhouse_spark.operators.txn_store import TxnLogPartitionStore
from neo4j_to_clickhouse_spark.streaming.pipeline import _sink_batch

OUT_SCHEMA = (
    "entity_id string, event_timestamp timestamp, event_id string, "
    "event_type string"
)
STATE_SCHEMA = "ts_us long, event_id string, event_type string"


def _track(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (entity_id,) = key
    if state.exists:
        ts_us, eid, etype = state.get
    else:
        ts_us, eid, etype = -1, "", ""
    changed = False
    for pdf in pdfs:
        us = (pdf["event_timestamp"].astype("int64") // 1000).to_numpy()
        ids = pdf["event_id"].to_numpy()
        types = pdf["event_type"].to_numpy()
        for i in range(len(pdf)):
            if (int(us[i]), str(ids[i])) > (ts_us, eid):
                ts_us, eid, etype = int(us[i]), str(ids[i]), str(types[i])
                changed = True
    if changed:
        state.update((ts_us, eid, etype))
        yield pd.DataFrame(
            {
                "entity_id": [entity_id],
                "event_timestamp": [pd.Timestamp(ts_us, unit="us")],
                "event_id": [eid],
                "event_type": [etype],
            }
        )


def tracked_latest_state(events_stream: DataFrame) -> DataFrame:
    """Streaming frame of latest-state *changes*: one row per entity per
    micro-batch in which its winning event changed."""
    return (
        events_stream.select(
            "entity_id", "event_timestamp", "event_id", "event_type"
        )
        .groupBy("entity_id")
        .applyInPandasWithState(
            _track,
            OUT_SCHEMA,
            STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def start_latest_state_stream(
    events_stream: DataFrame,
    changelog_path: str,
    checkpoint_path: str,
    available_now: bool = False,
) -> StreamingQuery:
    """Run the tracker, appending the change rows to a parquet changelog.
    ``latest_events(txn_store.read_table(spark, changelog_path))`` is the
    current state at any moment.

    Each micro-batch of the changelog is one transaction-log commit, the
    same sink as the ingest stream's (:func:`..pipeline._sink_batch`): a
    micro-batch replayed after a crash replaces its own output. (Consumers
    going through ``latest_events`` would collapse duplicates anyway —
    this keeps the raw changelog itself exactly-once.)"""
    store = TxnLogPartitionStore()

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _sink_batch(batch_df.write, changelog_path, batch_id, "", store)

    writer = (
        tracked_latest_state(events_stream)
        .writeStream.queryName("latest_state_tracker")
        .outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
