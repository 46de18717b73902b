"""Batch initial load: snapshot CSVs -> SNAPSHOT event rows.

Replaces the reference's pandas chunked loader
(`initial-load/scripts/03-bulk-import.py:57-130,154-206`): chunking is
Spark's native file-split parallelism; the row-wise label/JSON normalization
becomes vectorized Catalyst expressions
(:mod:`neo4j_to_clickhouse_spark.functions.scalar`); synthetic event ids
come from ``uuid()`` (the loader's ``uuid.uuid4()``, `:111,188`).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neo4j_to_clickhouse_spark.functions.scalar import (
    event_month,
    load_metadata,
    normalize_labels,
    valid_json_or_empty,
)
from neo4j_to_clickhouse_spark.operators.txn_store import TxnLogPartitionStore
from neo4j_to_clickhouse_spark.schemas import (
    SNAPSHOT_NODES_CSV_SCHEMA,
    SNAPSHOT_RELS_CSV_SCHEMA,
)


def _snapshot_common(df: DataFrame) -> list:
    """Columns shared by node and relationship snapshot events
    (`initial-load/scripts/03-bulk-import.py:109-123,186-202`).
    """
    ts = F.coalesce(
        F.timestamp_millis(F.col("export_timestamp")), F.current_timestamp()
    )
    return [
        F.expr("uuid()").alias("event_id"),
        F.lit("SNAPSHOT").alias("event_type"),
        ts.alias("event_timestamp"),
        F.col("entity_id"),
        valid_json_or_empty("properties").alias("properties_after"),
        F.lit("{}").alias("properties_before"),
        load_metadata("initial_load").alias("metadata"),
        event_month(ts).alias("event_month"),
    ]


def load_node_snapshot(spark: SparkSession, path: str) -> DataFrame:
    """Staged node-export CSVs -> node SNAPSHOT events.

    Input layout per `initial-load/scripts/01-export-nodes.cypher:14-17`;
    the dual-format ``labels`` column is normalized natively (P8 in
    SURVEY.md §2.2).
    """
    raw = spark.read.csv(
        path, schema=SNAPSHOT_NODES_CSV_SCHEMA, header=True, multiLine=True, escape='"'
    )
    return raw.select(
        *_snapshot_common(raw), normalize_labels("labels").alias("labels")
    ).select(
        "event_id",
        "event_type",
        "event_timestamp",
        "entity_id",
        "labels",
        "properties_before",
        "properties_after",
        "metadata",
        "event_month",
    )


def load_relationship_snapshot(spark: SparkSession, path: str) -> DataFrame:
    """Staged relationship-export CSVs -> relationship SNAPSHOT events
    (`initial-load/scripts/02-export-relationships.cypher:14-19`,
    `03-bulk-import.py:154-206`).
    """
    raw = spark.read.csv(
        path, schema=SNAPSHOT_RELS_CSV_SCHEMA, header=True, multiLine=True, escape='"'
    )
    return raw.select(
        *_snapshot_common(raw),
        F.col("relationship_type"),
        F.col("source_id"),
        F.col("target_id"),
    ).select(
        "event_id",
        "event_type",
        "event_timestamp",
        "entity_id",
        "relationship_type",
        "source_id",
        "target_id",
        "properties_before",
        "properties_after",
        "metadata",
        "event_month",
    )


def write_events(df: DataFrame, path: str) -> None:
    """Sink: month-partitioned, time-sorted parquet — the analogue of
    MergeTree ``PARTITION BY toYYYYMM ORDER BY (event_timestamp, event_id)``
    (`clickhouse/init/01-init-tables.sql:17-19`). ``sortWithinPartitions``
    tightens parquet row-group min/max stats so time-range predicates skip
    row groups, standing in for the sparse primary index.

    The load is appended as one commit of the table's transaction log
    (:mod:`..operators.txn_store`; read it back with ``read_table``): it is
    staged in a hidden dir, then its files are moved in and committed. On
    a path with no log yet the load is version 0.
    """
    staging = os.path.join(path, f".load-{uuid.uuid4().hex[:12]}")
    (
        df.repartition("event_month")
        .sortWithinPartitions("event_timestamp", "event_id")
        .write.partitionBy("event_month")
        .parquet(staging)
    )
    TxnLogPartitionStore().commit_load(path, staging)
