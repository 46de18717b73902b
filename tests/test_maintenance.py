"""Maintenance jobs (SURVEY.md §2.9 M1-M3): compact rewrites only the
targeted month partitions; retention drops whole months without touching
data files in surviving months; snapshot CSVs load into the same
month-partitioned sink the CDC path writes.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from neo4j_to_clickhouse_spark.operators.ingest import node_events_from_raw
from neo4j_to_clickhouse_spark.operators.maintenance import (
    apply_retention,
    compact,
    retention_months,
)
from neo4j_to_clickhouse_spark.operators.txn_store import read_table, snapshot
from neo4j_to_clickhouse_spark.sources.snapshot import (
    load_node_snapshot,
    write_events,
)


@pytest.fixture()
def event_table(spark, node_raw, tmp_path):
    """The conftest envelope corpus written as a partitioned event table:
    7 good events (incl. one replayed duplicate id) over months 202602/202603.
    """
    path = str(tmp_path / "events")
    write_events(node_events_from_raw(node_raw).events, path)
    return path


def test_write_events_layout(spark, event_table):
    months = sorted(
        p.split("=")[1]
        for p in os.listdir(event_table)
        if p.startswith("event_month=")
    )
    assert months == ["202602", "202603"]
    df = spark.read.parquet(event_table)
    assert df.count() == 7
    # partition column survives the round-trip as yyyyMM STRING
    assert dict(df.dtypes)["event_month"] == "string"


def test_compact_latest_keeps_one_row_per_entity(spark, event_table):
    compact(spark, event_table, keep="latest")
    df = read_table(spark, event_table)
    # 3 entities -> 3 rows; entity 1's survivor is the event_id tie-break
    # winner at the duplicated millisecond timestamp
    assert df.count() == 3
    survivor = df.filter(F.col("entity_id") == "4:abc:1").collect()[0]
    assert survivor.event_id == "n-004"


def test_compact_events_drops_replayed_ids_only(spark, event_table):
    compact(spark, event_table, keep="events")
    df = read_table(spark, event_table)
    assert df.count() == 6  # 7 - 1 replayed duplicate
    assert df.select("event_id").distinct().count() == 6


def test_compact_only_touches_requested_months(spark, event_table):
    before = {
        p: sorted(os.listdir(os.path.join(event_table, p)))
        for p in os.listdir(event_table)
        if p.startswith("event_month=")
    }
    compact(spark, event_table, months=["202603"], keep="events")
    after_2602 = sorted(os.listdir(os.path.join(event_table, "event_month=202602")))
    assert after_2602 == before["event_month=202602"]  # untouched files
    df = read_table(spark, event_table)
    assert df.filter("event_month = '202602'").count() == 4
    assert df.filter("event_month = '202603'").count() == 2  # dup dropped


def test_table_stats_reports_per_month(spark, event_table):
    """system.parts analogue: per-partition rows/files/bytes with the
    human-readable rendering, and the row counts must agree with a direct
    per-month count."""
    from neo4j_to_clickhouse_spark.operators.maintenance import table_stats

    stats = {r.event_month: r for r in table_stats(spark, event_table).collect()}
    assert set(stats) == {"202602", "202603"}
    direct = {
        r.event_month: r.cnt
        for r in spark.read.parquet(event_table)
        .groupBy("event_month")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    for month, row in stats.items():
        assert row.n_rows == direct[month]
        assert row.n_files >= 1
        assert row.total_bytes > 0
        assert row.readable_size.endswith((" B", " KiB", " MiB", " GiB"))
        # footer-derived compressed/uncompressed ratio, parity with the
        # reference's 04-optimize-tables.sql:174-182 report
        assert 0.0 < row.compression_ratio <= 1.0
    # the plan reads no data columns for the counts (footer-only)
    counted = (
        spark.read.parquet(event_table).groupBy("event_month").count()
    )
    assert "ReadSchema: struct<>" in (
        counted._jdf.queryExecution().executedPlan().toString()
    )


def test_retention_month_arithmetic():
    assert retention_months("202604", days=90) == "202601"
    assert retention_months("202602", days=90) == "202511"
    assert retention_months("202601", days=30) == "202512"


def test_apply_retention_drops_old_months(spark, event_table):
    dropped = apply_retention(spark, event_table, cutoff_month="202603")
    assert dropped == ["202602"]
    df = read_table(spark, event_table)
    assert df.select("event_month").distinct().collect()[0][0] == "202603"


def test_snapshot_csv_load(spark, tmp_path):
    csv_dir = tmp_path / "staging"
    csv_dir.mkdir()
    (csv_dir / "nodes_1.csv").write_text(
        "entity_id,labels,properties,export_timestamp\n"
        '4:abc:1,"[""Person"",""Admin""]","{""name"": ""Alice""}",1767225600000\n'
        '4:abc:2,"Company, Organization","{""name"": ""Acme""}",1767225600000\n'
        "4:abc:3,,not-json,1767225600000\n"
    )
    df = load_node_snapshot(spark, str(csv_dir))
    rows = {r.entity_id: r for r in df.collect()}
    assert len(rows) == 3
    assert rows["4:abc:1"].labels == ["Person", "Admin"]  # JSON-array form
    assert rows["4:abc:2"].labels == ["Company", "Organization"]  # CSV form
    assert rows["4:abc:3"].labels == []
    assert rows["4:abc:3"].properties_after == "{}"  # invalid JSON fallback
    assert all(r.event_type == "SNAPSHOT" for r in rows.values())
    assert all(r.event_month == "202601" for r in rows.values())
    # synthetic event ids are unique
    assert df.select("event_id").distinct().count() == 3


def test_compact_removes_stale_rows_across_months(spark, tmp_path):
    """An entity whose survivor lands in month B must lose its superseded
    month-A row even when no survivor lands in A — the case dynamic
    partition overwrite alone gets wrong (A is never a written partition,
    so its old files would silently survive)."""
    rows = [
        ("e1", "INSERT", "2026-02-01 00:00:00", "entityA"),
        ("e2", "UPDATE", "2026-03-01 00:00:00", "entityA"),
    ]
    df = (
        spark.createDataFrame(
            rows, "event_id string, event_type string, ts string, entity_id string"
        )
        .select(
            "event_id",
            "event_type",
            F.col("ts").cast("timestamp").alias("event_timestamp"),
            "entity_id",
            F.lit("{}").alias("properties_before"),
            F.lit("{}").alias("properties_after"),
            F.lit("{}").alias("metadata"),
            F.date_format(F.col("ts").cast("timestamp"), "yyyyMM").alias(
                "event_month"
            ),
        )
    )
    path = str(tmp_path / "t")
    write_events(df, path)
    compact(spark, path, keep="latest")
    out = read_table(spark, path).collect()
    assert len(out) == 1
    assert out[0].event_id == "e2"
    # month A is gone from the snapshot (its bytes stay until vacuum)
    assert not any(f.startswith("event_month=202602/") for f in snapshot(path)[1])


def test_events_in_range_prunes_month_partitions(spark, event_table):
    """The derived-month convention (SURVEY.md §4): a time-range query on
    the partitioned table must reach the scan as a PartitionFilter on
    event_month, so the 202602 partition is never read for a March query."""
    from neo4j_to_clickhouse_spark.operators.analytics import events_in_range

    df = spark.read.parquet(event_table)
    ranged = events_in_range(
        df, start="2026-03-01 00:00:00", end="2026-04-01 00:00:00"
    )
    plan = ranged._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "event_month" in plan.split("PartitionFilters")[1][:200]
    # and the filter is correct, not just present
    months = {r.event_month for r in ranged.select("event_month").collect()}
    assert months == {"202603"}
    assert ranged.count() == 3


def test_initial_load_bootstrap(spark, tmp_path):
    """The reference's bootstrap flow end-to-end: staged CSVs for both
    entity kinds -> partitioned event tables -> validation summary with
    zero duplicates; a stream started afterward on the same tables sees
    SNAPSHOT rows via the ordinary latest-state view."""
    from neo4j_to_clickhouse_spark.operators.bootstrap import initial_load
    from neo4j_to_clickhouse_spark.operators.latest_state import current_state

    nodes_dir = tmp_path / "nodes"
    rels_dir = tmp_path / "rels"
    nodes_dir.mkdir()
    rels_dir.mkdir()
    (nodes_dir / "n.csv").write_text(
        "entity_id,labels,properties,export_timestamp\n"
        '4:g:1,"[""Device""]","{""name"": ""Router-01""}",1767225600000\n'
        '4:g:2,"[""Device""]","{""name"": ""Router-02""}",1767225600000\n'
        '4:g:3,"[""Location""]","{""name"": ""DC-1""}",1767225600000\n'
    )
    (rels_dir / "r.csv").write_text(
        "entity_id,relationship_type,source_id,target_id,properties,export_timestamp\n"
        '5:g:1,LOCATED_AT,4:g:1,4:g:3,"{}",1767225600000\n'
        '5:g:2,LOCATED_AT,4:g:2,4:g:3,"{}",1767225600000\n'
    )
    summary = initial_load(
        spark,
        str(nodes_dir),
        str(rels_dir),
        str(tmp_path / "node_events"),
        str(tmp_path / "rel_events"),
    )
    assert summary["node_events"] == 3
    assert summary["relationship_events"] == 2
    assert summary["node_duplicates"] == 0
    assert summary["relationship_duplicates"] == 0
    assert summary["top_labels"][0] == ("Device", 2)
    # SNAPSHOT rows are first-class events for the views
    live = current_state(spark.read.parquet(str(tmp_path / "node_events")))
    assert live.count() == 3


def test_distinct_sketches_merge_across_months(spark, event_table):
    """uniqState/uniqMerge parity: per-(month,type) sketches merged across
    months must estimate the true cross-month distinct count — the rollup
    answers range queries without rescanning the raw log."""
    from neo4j_to_clickhouse_spark.operators.analytics import (
        distinct_sketches,
        merge_distinct_sketches,
    )

    events = spark.read.parquet(event_table)
    per_month = distinct_sketches(
        events, ["event_month", "event_type"], "entity_id"
    )
    assert per_month.count() == events.select(
        "event_month", "event_type"
    ).distinct().count()

    # merge across months -> per-type estimates
    by_type = {
        r.event_type: r.approx_distinct
        for r in merge_distinct_sketches(per_month, ["event_type"]).collect()
    }
    exact = {
        r.event_type: r.cnt
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("entity_id").alias("cnt"))
        .collect()
    }
    assert by_type == exact  # tiny cardinalities: HLL is exact here

    # global merge (no grouping)
    total = merge_distinct_sketches(per_month, []).collect()[0]
    assert total.approx_distinct == 3


def test_default_compaction_racing_a_writer_loses_nothing(
    spark, node_raw, tmp_path, monkeypatch
):
    """A table loaded by write_events and never explicitly adopted, run
    through the DEFAULT maintenance path while a streaming batch lands in
    an affected month between compact's read and its swap: the swap is
    refused, maintenance_cycle retries it, and no event is lost."""
    from tests.conftest import _env

    import neo4j_to_clickhouse_spark.operators.maintenance as M
    from neo4j_to_clickhouse_spark.streaming import StreamConfig
    from neo4j_to_clickhouse_spark.streaming.pipeline import _write_batch

    table = str(tmp_path / "events")
    write_events(node_events_from_raw(node_raw).events, table)
    late = node_events_from_raw(
        spark.createDataFrame(
            [(_env("late-1", "CREATE", "NODE_EVENT", "4:late:1",
                   "2026-03-03T00:00:00.000+00:00", labels=["Person"],
                   after={"name": "Late"}),)],
            ["raw"],
        )
    )
    config = StreamConfig(
        table_path=table,
        quarantine_path=str(tmp_path / "quarantine"),
        checkpoint_path=str(tmp_path / "ckpt"),
        coalesce_output=1,
    )
    real = M.dedup_exact_events
    landed = []

    def dedup_then_land(df):
        # runs after compact's read, before its rewrite and swap
        if not landed:
            landed.append(True)
            _write_batch(late, config, batch_id=0, query_name="live")
        return real(df)

    monkeypatch.setattr(M, "dedup_exact_events", dedup_then_land)
    report = M.maintenance_cycle(spark, table, keep="events")
    assert landed and report["swap_retries"] == 1
    ids = sorted(r.event_id for r in read_table(spark, table).collect())
    assert ids == ["late-1", "n-001", "n-002", "n-003", "n-004", "n-005",
                   "n-006"]
