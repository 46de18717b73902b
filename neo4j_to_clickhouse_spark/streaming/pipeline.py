"""Structured Streaming CDC ingest (SURVEY.md §2.10, §7 step 6).

The Spark analogue of the reference's continuous path — Kafka-engine table +
materialized view + MergeTree insert (`clickhouse/init/01-init-tables.sql:
40-49,71-90`) — as ONE streaming query per entity kind:

    source (Kafka topic / file stream)
      -> envelope parse + projection  (identical code to batch ingest)
      -> foreachBatch: one transaction-log commit into the month-partitioned
         event table + one into the quarantine table

Design decisions, mapped to reference behavior:

- **Exactly-once effect.** The reference is at-least-once (auto-commit
  consumer, `clickhouse/config/config.xml:13-14`) and defers dedup to
  `OPTIMIZE FINAL`. We checkpoint offsets AND make the sink write itself
  idempotent: each micro-batch is written to a hidden staging dir, moved
  into the table under batch-tagged ``batch-[<query>~]<id>-`` file names
  and published as ONE commit of the table's transaction log
  (:mod:`..operators.txn_store`), which also removes the files of any
  earlier attempt of the same batch id. A batch replayed after a crash
  (the at-least-once window between data write and checkpoint commit)
  therefore *replaces* its own output instead of appending a duplicate,
  and a concurrent snapshot reader never sees a half-published batch —
  consumers reading through ``txn_store.read_table`` see each event once
  without needing ``dedup_exact_events`` (which remains as
  defense-in-depth for upstream producer duplicates). The quarantine
  table commits the same way.
- **Quarantine, not stall.** Poison messages blocked the reference's
  consumer until manual DETACH/ATTACH (`docs/ISSUES-AND-FIXES.md:188-205`).
  Here unparseable/incomplete envelopes land in a quarantine table with
  a reason column (M5) and the stream never stops.
- **Latency SLO.** ``trigger(processingTime='1 second')`` matches the
  1 s CDC poll interval (`kafka-connect/neo4j-cdc-nodes-source.json:9`) and
  the <2 s end-to-end target (`docs/QUICKSTART.md:174`). Tests use
  ``availableNow`` for a drain-and-stop run over file fixtures.
- **Scale.** One task per Kafka partition; `maxOffsetsPerTrigger`
  (default 1,048,576 = the reference's `kafka_max_block_size`,
  `01-init-tables.sql:49`) bounds micro-batch size so executor memory is
  block-sized, not backlog-sized. The sink appends month-partitioned parquet;
  compaction of small streaming files is the existing
  :func:`..operators.maintenance.compact` job.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, DataFrameWriter
from pyspark.sql.streaming import StreamingQuery

from neo4j_to_clickhouse_spark.operators.ingest import (
    IngestResult,
    node_events_from_raw,
    relationship_events_from_raw,
)
from neo4j_to_clickhouse_spark.operators.txn_store import (
    TxnLogPartitionStore,
    stage_batch_files,
)
from neo4j_to_clickhouse_spark.sources.envelopes import parse_envelopes


@dataclass
class StreamConfig:
    """Sink layout + cadence for one entity-kind stream.

    ``store`` publishes each micro-batch of both sinks as one
    transaction-log commit; read the tables with
    ``txn_store.read_table``."""

    table_path: str
    quarantine_path: str
    checkpoint_path: str
    processing_time: str | None = "1 second"  # None -> availableNow drain
    coalesce_output: int | None = None  # small-file control per micro-batch
    store: TxnLogPartitionStore = TxnLogPartitionStore()


def dedup_within_watermark(
    events: DataFrame,
    id_col: str = "event_id",
    time_col: str = "event_timestamp",
    max_lateness: str = "10 minutes",
) -> DataFrame:
    """In-flight guard against upstream PRODUCER duplicates (the same
    event id emitted twice by the source, possibly in different
    micro-batches) — the failure mode the sink's replay-idempotent
    commit cannot see, because both copies are legitimate new data to
    the sink.

    ``dropDuplicatesWithinWatermark`` keeps one row per id while the id
    is inside the watermark, with state EVICTED as the watermark passes —
    bounded by the duplicate-arrival window, never by history (a plain
    streaming ``dropDuplicates`` would grow state forever). Batch-side
    ``dedup_exact_events`` remains the backstop for duplicates arriving
    farther apart than ``max_lateness``.
    """
    return events.withWatermark(time_col, max_lateness)\
        .dropDuplicatesWithinWatermark([id_col])


def _sink_batch(
    writer: DataFrameWriter,
    path: str,
    batch_id: int,
    query_name: str,
    store: TxnLogPartitionStore,
) -> None:
    """Publish one micro-batch into the table at ``path`` as one commit:
    Spark writes it to a hidden staging dir, the driver moves the files
    in under the batch's tag and commits them, replacing any earlier
    attempt of the same batch. The staging dir is query-namespaced: two
    queries sharing a table reach the same batch ids near-simultaneously,
    and a shared path would let one query's overwrite eat the other's
    in-flight staged files."""
    q = "".join(c for c in query_name if c.isalnum() or c in "_-")
    staging = os.path.join(path, f".staging-{q + '~' if q else ''}{batch_id}")
    writer.mode("overwrite").parquet(staging)
    # the query name namespaces the batch tag: two queries writing the
    # same table share batch-id sequences, and an un-namespaced replay
    # of one would remove the other's committed batch-N files
    adds, tag = stage_batch_files(path, staging, batch_id, query_name)
    store.commit_batch(path, adds, tag)


def _write_batch(
    result: IngestResult,
    config: StreamConfig,
    batch_id: int,
    query_name: str = "",
) -> None:
    """Sink one micro-batch: events to the month-partitioned table, bad rows
    to quarantine — idempotently (see module docstring). Runs on the driver
    per micro-batch (foreachBatch); the staged writes happen on executors,
    the commits are driver-side renames plus one log entry per table."""
    events, bad = result.events, result.quarantine
    if config.coalesce_output:
        events = events.coalesce(config.coalesce_output)
        bad = bad.coalesce(1)
    _sink_batch(
        events.write.partitionBy("event_month"),
        config.table_path,
        batch_id,
        query_name,
        config.store,
    )
    _sink_batch(
        bad.write, config.quarantine_path, batch_id, query_name, config.store
    )


def _start(
    raw_stream: DataFrame,
    transform: Callable[[DataFrame], IngestResult],
    config: StreamConfig,
    query_name: str,
) -> StreamingQuery:
    def process(batch_df: DataFrame, batch_id: int) -> None:
        # events + quarantine are two actions over the same micro-batch;
        # persist the PARSED frame so the envelope JSON decode — the
        # expensive step — runs once, not once per sink
        parsed = parse_envelopes(batch_df).persist()
        try:
            _write_batch(transform(parsed), config, batch_id, query_name)
        finally:
            parsed.unpersist()

    writer = (
        raw_stream.writeStream.queryName(query_name)
        .foreachBatch(process)
        .option("checkpointLocation", config.checkpoint_path)
    )
    if config.processing_time is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=config.processing_time)
    return writer.start()


def start_node_stream(raw_stream: DataFrame, config: StreamConfig) -> StreamingQuery:
    """Continuous node ingest — the `nodes_kafka_mv` analogue
    (`clickhouse/init/01-init-tables.sql:71-90`). ``raw_stream`` is any
    streaming frame with a single ``raw`` string column (Kafka via
    :func:`..sources.kafka.read_kafka_envelopes`, or
    :func:`..sources.envelopes.read_envelope_file` with streaming=True).
    """
    return _start(raw_stream, node_events_from_raw, config, "node_cdc_ingest")


def start_relationship_stream(
    raw_stream: DataFrame, config: StreamConfig
) -> StreamingQuery:
    """Continuous relationship ingest — the `relationships_kafka_mv` analogue
    (`clickhouse/init/01-init-tables.sql:97-118`)."""
    return _start(
        raw_stream, relationship_events_from_raw, config, "rel_cdc_ingest"
    )


def drain(query: StreamingQuery, timeout_s: float = 120.0) -> None:
    """Block until an availableNow query finishes draining its source."""
    query.awaitTermination(timeout_s)
    if query.isActive:
        query.stop()
