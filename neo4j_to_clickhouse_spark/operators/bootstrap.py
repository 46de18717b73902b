"""Initial-load orchestration: snapshot CSVs -> event tables -> validation.

The reference's batch bootstrap (`README.md:230-333`; driver script
`initial-load/scripts/03-bulk-import.py:266-355`) as one function: load the
staged node/relationship exports, land them in the month-partitioned event
tables, and run the loader's ``--validate`` checks
(`03-bulk-import.py:222-261`) — except asserted-by-return instead of
printed. Streaming catchup needs no step here: a stream started afterward
with ``startingOffsets=earliest`` + its checkpoint replays everything the
snapshot missed (the reference needed a manual Kafka-retention dance for
the same guarantee, `README.md:249-262`).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from neo4j_to_clickhouse_spark.operators.latest_state import duplicate_entities
from neo4j_to_clickhouse_spark.operators.txn_store import read_table
from neo4j_to_clickhouse_spark.sources.snapshot import (
    load_node_snapshot,
    load_relationship_snapshot,
    write_events,
)


def initial_load(
    spark: SparkSession,
    nodes_staging: str,
    rels_staging: str,
    nodes_table: str,
    rels_table: str,
    validate: bool = True,
) -> dict:
    """Run the full bootstrap; returns the validation summary the loader
    printed (`03-bulk-import.py:237-259`): per-table event counts, top
    label distribution, and the SNAPSHOT duplicate check (must be 0 after
    a clean load — the reference only reaches 0 after OPTIMIZE FINAL;
    here one load writes each entity once by construction).
    """
    nodes = load_node_snapshot(spark, nodes_staging)
    write_events(nodes, nodes_table)
    rels = load_relationship_snapshot(spark, rels_staging)
    write_events(rels, rels_table)
    if not validate:
        return {}

    nodes_out = read_table(spark, nodes_table)
    rels_out = read_table(spark, rels_table)
    label_dist = (
        nodes_out.select(F.explode("labels").alias("label"))
        .groupBy("label")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "label")
        .limit(10)
        .collect()
    )
    return {
        "node_events": nodes_out.count(),
        "relationship_events": rels_out.count(),
        "node_duplicates": duplicate_entities(nodes_out).count(),
        "relationship_duplicates": duplicate_entities(rels_out).count(),
        "top_labels": [(r.label, r.cnt) for r in label_dist],
    }
