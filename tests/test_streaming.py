"""Streaming ingest e2e: file-stream envelopes -> partitioned parquet +
quarantine, then the latest-state view over the streamed table
(SURVEY.md §2.10; the file source stands in for Kafka as in §5)."""

from __future__ import annotations

import pytest

from neo4j_to_clickhouse_spark.operators.latest_state import (
    current_state,
    dedup_exact_events,
)
from neo4j_to_clickhouse_spark.operators.txn_store import read_table
from neo4j_to_clickhouse_spark.sources.envelopes import read_envelope_file
from neo4j_to_clickhouse_spark.streaming import (
    StreamConfig,
    drain,
    start_node_stream,
    start_relationship_stream,
)

from tests.conftest import NODE_ENVELOPES, REL_ENVELOPES


@pytest.fixture(scope="module")
def streamed_nodes(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream_nodes")
    src = root / "in"
    src.mkdir()
    # two source files -> at least two input splits in the drain
    (src / "a.ndjson").write_text("\n".join(NODE_ENVELOPES[:4]) + "\n")
    (src / "b.ndjson").write_text("\n".join(NODE_ENVELOPES[4:]) + "\n")
    config = StreamConfig(
        table_path=str(root / "events"),
        quarantine_path=str(root / "quarantine"),
        checkpoint_path=str(root / "ckpt"),
        processing_time=None,  # availableNow drain
        coalesce_output=1,
    )
    raw = read_envelope_file(spark, str(src), streaming=True)
    drain(start_node_stream(raw, config))
    return root


def test_stream_lands_events(spark, streamed_nodes):
    events = spark.read.parquet(str(streamed_nodes / "events"))
    assert events.count() == 7  # 8 lines - 1 malformed (incl. 1 dup id)
    assert set(events.select("event_month").distinct().toPandas()["event_month"]) == {
        "202602",
        "202603",
    }


def test_stream_quarantines_poison(spark, streamed_nodes):
    bad = spark.read.parquet(str(streamed_nodes / "quarantine")).collect()
    assert len(bad) == 1
    assert bad[0].reason == "unparseable_json"


def test_stream_restart_is_noop(spark, streamed_nodes):
    """Re-starting against the same checkpoint must not re-ingest drained
    files — the offset log makes the file source exactly-once."""
    config = StreamConfig(
        table_path=str(streamed_nodes / "events"),
        quarantine_path=str(streamed_nodes / "quarantine"),
        checkpoint_path=str(streamed_nodes / "ckpt"),
        processing_time=None,
        coalesce_output=1,
    )
    raw = read_envelope_file(spark, str(streamed_nodes / "in"), streaming=True)
    drain(start_node_stream(raw, config))
    assert spark.read.parquet(str(streamed_nodes / "events")).count() == 7


def test_batch_replay_is_idempotent(spark, tmp_path):
    """A micro-batch re-run with the same batch_id (crash between data
    write and checkpoint commit) must REPLACE its own output, not append a
    duplicate — raw-table consumers see each event exactly once."""
    from neo4j_to_clickhouse_spark.operators.ingest import node_events_from_raw
    from neo4j_to_clickhouse_spark.streaming.pipeline import _write_batch

    raw = spark.createDataFrame([(s,) for s in NODE_ENVELOPES], ["raw"])
    config = StreamConfig(
        table_path=str(tmp_path / "events"),
        quarantine_path=str(tmp_path / "quarantine"),
        checkpoint_path=str(tmp_path / "ckpt"),
        coalesce_output=1,
    )
    _write_batch(node_events_from_raw(raw), config, batch_id=7)
    n1 = read_table(spark, config.table_path).count()
    # plant a stale partial file from a "crashed" earlier attempt
    import shutil

    month_dir = tmp_path / "events" / "event_month=202602"
    part = next(month_dir.glob("batch-*.parquet"))
    shutil.copy(part, month_dir / "batch-000000007-99999.parquet")
    # full replay of the same batch
    _write_batch(node_events_from_raw(raw), config, batch_id=7)
    assert read_table(spark, config.table_path).count() == n1
    assert read_table(spark, config.quarantine_path).count() == 1
    # a DIFFERENT batch id appends (it is new data, not a replay)
    _write_batch(node_events_from_raw(raw), config, batch_id=8)
    assert read_table(spark, config.table_path).count() == 2 * n1


def test_latest_state_over_streamed_table(spark, streamed_nodes):
    events = dedup_exact_events(
        spark.read.parquet(str(streamed_nodes / "events"))
    )
    live = {r.entity_id for r in current_state(events).collect()}
    assert live == {"4:abc:1", "4:abc:2"}  # 4:abc:3 deleted in the stream


def test_relationship_stream(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    (src / "rels.ndjson").write_text("\n".join(REL_ENVELOPES) + "\n")
    config = StreamConfig(
        table_path=str(tmp_path / "events"),
        quarantine_path=str(tmp_path / "quarantine"),
        checkpoint_path=str(tmp_path / "ckpt"),
        processing_time=None,
        coalesce_output=1,
    )
    raw = read_envelope_file(spark, str(src), streaming=True)
    drain(start_relationship_stream(raw, config))
    events = spark.read.parquet(str(tmp_path / "events"))
    assert events.count() == 4
    live = current_state(events).collect()
    assert {r.entity_id for r in live} == {"5:rel:1"}  # 5:rel:2 deleted
    assert live[0].relationship_type == "KNOWS"


def test_windowed_monitoring_counts_batch_semantics(spark, streamed_nodes):
    """The windowed count is one declarative transform usable on batch and
    stream alike; batch mode gives the full expected window set."""
    from pyspark.sql import functions as F

    from neo4j_to_clickhouse_spark.streaming import windowed_event_counts

    events = spark.read.parquet(str(streamed_nodes / "events"))
    out = windowed_event_counts(events, window_duration="1 minute").collect()
    by_key = {(r.window_start.isoformat(), r.event_type): r.cnt for r in out}
    # HLL distinct is exact at the corpus's tiny cardinality: every
    # window's approx_entities equals its exact per-window distinct count
    for r in out:
        exact = (
            events.filter(
                (F.col("event_timestamp") >= r.window_start)
                & (F.col("event_timestamp") < r.window_end)
                & (F.col("event_type") == r.event_type)
            )
            .select("entity_id")
            .distinct()
            .count()
        )
        assert r.approx_entities == exact
    # conftest corpus: 4 events in the 05:58 minute of 2026-02-14
    # (3 on entity1 + 1 on entity2), including the replayed INSERT pair
    # in the 2026-03-01 00:00 minute
    assert by_key[("2026-02-14T05:58:00", "INSERT")] == 2
    assert by_key[("2026-02-14T05:58:00", "UPDATE")] == 2
    assert by_key[("2026-03-01T00:00:00", "INSERT")] == 2
    assert by_key[("2026-03-02T00:00:00", "DELETE")] == 1


def test_windowed_monitoring_stream_appends_finalized_windows(
    spark, streamed_nodes, tmp_path
):
    """Streamed over the event table with availableNow: append mode emits
    only watermark-finalized windows; on a bounded drain that is every
    window except those still inside the lateness bound of the max event
    time seen."""
    from neo4j_to_clickhouse_spark.streaming import start_monitoring_stream

    events_stream = spark.readStream.schema(
        spark.read.parquet(str(streamed_nodes / "events")).schema
    ).parquet(str(streamed_nodes / "events"))
    q = start_monitoring_stream(
        events_stream,
        output_path=str(tmp_path / "monitor"),
        checkpoint_path=str(tmp_path / "ckpt"),
        window_duration="1 minute",
        max_lateness="10 minutes",
        available_now=True,
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    out = spark.read.parquet(str(tmp_path / "monitor"))
    rows = {(r.window_start.isoformat(), r.event_type): r.cnt for r in out.collect()}
    # watermark = max event time (2026-03-02) - 10 min: every earlier
    # window is finalized and must have been emitted exactly once
    assert rows[("2026-02-14T05:58:00", "INSERT")] == 2
    assert rows[("2026-02-14T05:58:00", "UPDATE")] == 2
    assert rows[("2026-03-01T00:00:00", "INSERT")] == 2
    # the 2026-03-02 DELETE window is NOT finalized (inside lateness bound
    # of the max event time) -> not emitted in append mode
    assert ("2026-03-02T00:00:00", "DELETE") not in rows


def test_dedup_within_watermark_drops_cross_batch_duplicates(
    spark, tmp_path
):
    """A producer duplicate arriving in a LATER micro-batch (inside the
    watermark) must be dropped in-flight; distinct ids all survive."""
    from pyspark.sql import functions as F

    from neo4j_to_clickhouse_spark.streaming import dedup_within_watermark

    src = tmp_path / "src"
    rows1 = [("e1", "2026-01-01 00:00:00"), ("e2", "2026-01-01 00:00:10")]
    rows2 = [("e2", "2026-01-01 00:00:11"), ("e3", "2026-01-01 00:00:20")]
    for name, rows in (("a", rows1), ("b", rows2)):
        spark.createDataFrame(
            rows, "event_id string, t string"
        ).select(
            "event_id", F.col("t").cast("timestamp").alias("event_timestamp")
        ).coalesce(1).write.parquet(str(src / name))
    schema = spark.read.parquet(str(src / "a")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # duplicates cross micro-batches
        .parquet(str(src / "*"))
    )
    q = (
        dedup_within_watermark(stream)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    got = sorted(
        r.event_id
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert got == ["e1", "e2", "e3"]


def test_session_counts_matches_batch_sessionize(spark):
    """The session_window streaming aggregation, run over the batch event
    table, must agree with the batch lag+running-sum sessionizer: same
    per-user session count and same per-session event-count multiset."""
    from pyspark.sql import functions as F

    from neo4j_to_clickhouse_spark.operators.analytics import sessionize
    from neo4j_to_clickhouse_spark.plans.queries import _t
    from neo4j_to_clickhouse_spark.streaming import session_counts

    events = _t(spark, "/root/testdata/sf0.001", "events")
    stream_form = session_counts(
        events, key_col="user_id", time_col="ts", gap="30 minutes"
    )
    batch_form = (
        sessionize(events, "user_id", "ts", "event_id", gap_minutes=30)
        .groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"))
    )
    got = {}
    for r in stream_form.collect():
        got.setdefault(r.user_id, []).append(r.n_events)
    want = {}
    for r in batch_form.collect():
        want.setdefault(r.user_id, []).append(r.n_events)
    assert {k: sorted(v) for k, v in got.items()} == {
        k: sorted(v) for k, v in want.items()
    }


def test_session_stream_emits_closed_sessions(spark, tmp_path):
    """Streamed with availableNow: append mode lands exactly the sessions
    the watermark closed, and every landed row matches the batch result."""
    from neo4j_to_clickhouse_spark.plans.queries import _t
    from neo4j_to_clickhouse_spark.streaming import (
        session_counts,
        start_session_stream,
    )

    # re-land the testdata with micro timestamps (the raw file is
    # TIMESTAMP(NANOS), which readStream's parquet source rejects)
    table = str(tmp_path / "events_us")
    _t(spark, "/root/testdata/sf0.001", "events").write.parquet(table)
    batch = spark.read.parquet(table)
    events_stream = spark.readStream.schema(batch.schema).parquet(table)
    q = start_session_stream(
        events_stream,
        output_path=str(tmp_path / "sessions"),
        checkpoint_path=str(tmp_path / "ckpt"),
        key_col="user_id",
        time_col="ts",
        gap="30 minutes",
        max_lateness="10 minutes",
        available_now=True,
    )
    q.awaitTermination(180)
    if q.isActive:
        q.stop()
    emitted = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.read.parquet(str(tmp_path / "sessions")).collect()
    }
    full = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in session_counts(
            batch, key_col="user_id", time_col="ts", gap="30 minutes"
        ).collect()
    }
    assert emitted <= full
    # the watermark (max event time - 10 min) closes every session that
    # ended >10 min + gap before the log's end — nearly all of them here
    assert len(emitted) >= 0.9 * len(full)
    # sessions fully clear of the tail must ALL have been emitted
    import datetime

    max_ts = max(e[2] for e in full)
    cutoff = max_ts - datetime.timedelta(hours=2)
    assert {e for e in full if e[2] < cutoff} <= emitted


def test_stateful_latest_state_tracker(spark, streamed_nodes, tmp_path):
    """The incremental tracker must agree with the batch window: after
    draining the event table as a multi-batch stream (one file per
    micro-batch), latest_events over the emitted changelog equals
    latest_events over the full log."""
    from neo4j_to_clickhouse_spark.operators.latest_state import latest_events
    from neo4j_to_clickhouse_spark.streaming.state import (
        start_latest_state_stream,
    )

    table = str(streamed_nodes / "events")
    events_stream = (
        spark.readStream.schema(spark.read.parquet(table).schema)
        .option("maxFilesPerTrigger", 1)  # force several micro-batches
        .parquet(table)
    )
    q = start_latest_state_stream(
        events_stream,
        changelog_path=str(tmp_path / "changelog"),
        checkpoint_path=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(180)
    if q.isActive:
        q.stop()
    changelog = read_table(spark, str(tmp_path / "changelog"))
    got = {
        r.entity_id: (r.event_id, r.event_type)
        for r in latest_events(changelog).collect()
    }
    want = {
        r.entity_id: (r.event_id, r.event_type)
        for r in latest_events(spark.read.parquet(table)).collect()
    }
    assert got == want
    # the tie-broken winner at the duplicated millisecond is preserved
    assert got["4:abc:1"] == ("n-004", "UPDATE")
    assert got["4:abc:3"][1] == "DELETE"


def test_stateful_tracker_on_rocksdb(spark, streamed_nodes, tmp_path):
    """The RocksDB state store (the 100 TB state path — off-heap state +
    changelog checkpoints, `session.rocksdb_state_conf`) must run the
    tracker with results identical to the default heap-backed store, and
    must actually engage (changelog files in the checkpoint, which the
    HDFS-backed store never writes)."""
    from neo4j_to_clickhouse_spark.operators.latest_state import latest_events
    from neo4j_to_clickhouse_spark.session import rocksdb_state_conf
    from neo4j_to_clickhouse_spark.streaming.state import (
        start_latest_state_stream,
    )

    table = str(streamed_nodes / "events")
    saved = {}
    conf = rocksdb_state_conf()
    for k, v in conf.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        events_stream = (
            spark.readStream.schema(spark.read.parquet(table).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(table)
        )
        q = start_latest_state_stream(
            events_stream,
            changelog_path=str(tmp_path / "changelog"),
            checkpoint_path=str(tmp_path / "ckpt"),
            available_now=True,
        )
        q.awaitTermination(180)
        if q.isActive:
            q.stop()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    got = {
        r.entity_id: (r.event_id, r.event_type)
        for r in latest_events(
            read_table(spark, str(tmp_path / "changelog"))
        ).collect()
    }
    want = {
        r.entity_id: (r.event_id, r.event_type)
        for r in latest_events(spark.read.parquet(table)).collect()
    }
    assert got == want
    state_files = [
        p for p in (tmp_path / "ckpt" / "state").rglob("*.changelog")
    ]
    assert state_files, "RocksDB changelog checkpointing did not engage"


def test_quarantine_crash_between_stage_and_commit(spark, node_raw, tmp_path):
    """A crash after the quarantine sink landed its files but before it
    committed them: the files stay invisible to read_table, the replay of
    the batch id yields exactly one copy, and vacuum reclaims the
    root-level orphan."""
    import dataclasses

    from neo4j_to_clickhouse_spark.operators.ingest import node_events_from_raw
    from neo4j_to_clickhouse_spark.operators.txn_store import (
        TxnLogPartitionStore,
        vacuum,
    )
    from neo4j_to_clickhouse_spark.streaming.pipeline import _write_batch

    quarantine = str(tmp_path / "quarantine")

    class CrashBeforeQuarantineCommit(TxnLogPartitionStore):
        def commit_batch(self, table_path, adds, batch_tag):
            if table_path == quarantine:
                raise RuntimeError("crash before commit")
            super().commit_batch(table_path, adds, batch_tag)

    config = StreamConfig(
        table_path=str(tmp_path / "events"),
        quarantine_path=quarantine,
        checkpoint_path=str(tmp_path / "ckpt"),
        coalesce_output=1,
    )
    res = node_events_from_raw(node_raw)
    _write_batch(res, config, batch_id=0)
    crashing = dataclasses.replace(config, store=CrashBeforeQuarantineCommit())
    with pytest.raises(RuntimeError, match="crash before commit"):
        _write_batch(res, crashing, batch_id=1)
    assert read_table(spark, quarantine).count() == 1

    _write_batch(res, config, batch_id=1)  # the replay
    assert read_table(spark, quarantine).count() == 2
    assert read_table(spark, config.table_path).count() == 2 * 7
    deleted = vacuum(quarantine, retain_versions=1, min_age_s=0)
    assert deleted
    assert all(f.startswith("batch-000000001-") and "/" not in f for f in deleted)
    assert read_table(spark, quarantine).count() == 2


def test_changelog_crash_between_stage_and_commit(
    spark, streamed_nodes, tmp_path, monkeypatch
):
    """The latest-state changelog sink crashing between landing a
    micro-batch and committing it: the landed files stay invisible, the
    restarted query replays the batch id into exactly one copy, and
    vacuum reclaims the root-level orphan."""
    from neo4j_to_clickhouse_spark.operators.latest_state import latest_events
    from neo4j_to_clickhouse_spark.operators.txn_store import (
        TxnLogPartitionStore,
        snapshot,
        vacuum,
    )
    from neo4j_to_clickhouse_spark.streaming.state import (
        start_latest_state_stream,
    )

    table = str(streamed_nodes / "events")
    changelog = str(tmp_path / "changelog")

    def run():
        q = start_latest_state_stream(
            spark.readStream.schema(read_table(spark, table).schema)
            .option("maxFilesPerTrigger", 1)  # several micro-batches
            .parquet(table),
            changelog_path=changelog,
            checkpoint_path=str(tmp_path / "ckpt"),
            available_now=True,
        )
        try:
            q.awaitTermination(180)
        finally:
            if q.isActive:
                q.stop()

    real = TxnLogPartitionStore.commit_batch
    calls = []

    def crash_second_commit(self, table_path, adds, batch_tag):
        calls.append(batch_tag)
        if len(calls) == 2:
            raise RuntimeError("crash before commit")
        real(self, table_path, adds, batch_tag)

    monkeypatch.setattr(TxnLogPartitionStore, "commit_batch", crash_second_commit)
    with pytest.raises(Exception, match="crash before commit"):
        run()
    crashed_tag = calls[1]
    committed = snapshot(changelog)[1]
    assert committed and not any(f.startswith(crashed_tag) for f in committed)
    landed = [p.name for p in (tmp_path / "changelog").glob(crashed_tag + "*")]
    assert landed  # on disk, not in the snapshot
    n_before = read_table(spark, changelog).count()

    monkeypatch.setattr(TxnLogPartitionStore, "commit_batch", real)
    run()  # restart from the checkpoint: the crashed batch id replays
    changelog_df = read_table(spark, changelog)
    assert changelog_df.count() > n_before
    assert changelog_df.count() == changelog_df.distinct().count()
    got = {
        r.entity_id: (r.event_id, r.event_type)
        for r in latest_events(changelog_df).collect()
    }
    want = {
        r.entity_id: (r.event_id, r.event_type)
        for r in latest_events(read_table(spark, table)).collect()
    }
    assert got == want
    deleted = vacuum(changelog, retain_versions=1, min_age_s=0)
    assert sorted(deleted) == sorted(landed)
    assert read_table(spark, changelog).count() == changelog_df.count()


# --- live Kafka path (gated: needs a broker + spark-sql-kafka) ---------------


def test_kafka_end_to_end_smoke(spark, tmp_path):
    """End-to-end smoke over a REAL broker: producer -> topic ->
    read_kafka_envelopes -> node stream -> parquet. The sandbox has
    neither a broker nor the spark-sql-kafka package, so this runs only
    when SPARK_GRAFT_KAFKA_BROKERS points at one (and skips with the
    reason otherwise) — the one reference source with no executable
    coverage anywhere else (clickhouse/init/01-init-tables.sql:40-61).
    """
    import os

    brokers = os.environ.get("SPARK_GRAFT_KAFKA_BROKERS")
    if not brokers:
        pytest.skip("set SPARK_GRAFT_KAFKA_BROKERS=<host:port> to run")
    from neo4j_to_clickhouse_spark.sources.kafka import (
        NODES_TOPIC,
        read_kafka_envelopes,
    )

    # produce the node fixture through Spark's own kafka sink so no extra
    # client library is required
    (
        spark.createDataFrame([(s,) for s in NODE_ENVELOPES], ["value"])
        .write.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", NODES_TOPIC)
        .save()
    )
    raw = read_kafka_envelopes(spark, brokers, NODES_TOPIC)
    config = StreamConfig(
        table_path=str(tmp_path / "events"),
        quarantine_path=str(tmp_path / "quarantine"),
        checkpoint_path=str(tmp_path / "ckpt"),
        processing_time=None,
        coalesce_output=1,
    )
    drain(start_node_stream(raw, config))
    got = spark.read.parquet(str(tmp_path / "events"))
    assert {r.event_id for r in got.collect()} >= {"n-001", "n-002"}


def test_sessionize_matches_bruteforce_on_random_streams(spark):
    """Property: session boundaries equal a linear-scan reference (new
    session iff gap > threshold), across random per-key event streams."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pyspark.sql import functions as F

    from neo4j_to_clickhouse_spark.operators.analytics import sessionize

    gap_minutes = 1  # 60 s

    def ref_sessions(times):  # sorted epoch seconds -> session index list
        out, sid = [], 0
        for i, t in enumerate(times):
            if i and t - times[i - 1] > 60:
                sid += 1
            out.append(sid)
        return out

    @settings(max_examples=5, deadline=None)
    @given(
        data=st.lists(
            st.tuples(st.integers(0, 14), st.integers(0, 600)),
            min_size=1,
            max_size=100,
            unique=True,
        )
    )
    def run(data):
        df = spark.createDataFrame(
            [(k, t, i) for i, (k, t) in enumerate(data)],
            "user_id long, sec long, event_id long",
        ).select(
            "user_id", F.timestamp_seconds("sec").alias("ts"), "event_id"
        )
        got = {}
        for r in sessionize(df, gap_minutes=gap_minutes).collect():
            got.setdefault(r.user_id, []).append(
                (r.ts.timestamp(), r.session_id)
            )
        for k, rows in got.items():
            rows.sort()
            times = [t for t, _ in rows]
            sids = [s for _, s in rows]
            expect = ref_sessions(times)
            # session ids need only induce the same partitioning
            remap, norm = {}, []
            for s in sids:
                remap.setdefault(s, len(remap))
                norm.append(remap[s])
            assert norm == expect, (k, rows, expect)

    run()


def test_stream_latency_smoke(spark, tmp_path):
    """End-to-end latency path smoke (VERDICT r08 item 5): one envelope
    written to the source dir becomes visible through the transactional
    sink's snapshot read. The real measurement against the reference's
    <2 s SLO is tools/bench_stream_latency.py (measured r09: p50 1.44 s,
    max 1.97 s over 10 events — docs/SCALING.md); here we only pin that
    the path works and stays within a steal-proof 30 s bound, because a
    tight timing assert on a steal-prone CI host guarantees flakes."""
    import time

    from neo4j_to_clickhouse_spark.operators.txn_store import (
        TxnLogPartitionStore,
        ensure_log,
        read_table,
        snapshot,
    )
    from neo4j_to_clickhouse_spark.sources.envelopes import read_envelope_file
    from neo4j_to_clickhouse_spark.streaming import (
        StreamConfig,
        start_node_stream,
    )
    from tests.conftest import NODE_ENVELOPES

    src = tmp_path / "in"
    src.mkdir()
    table = str(tmp_path / "events")
    (tmp_path / "events").mkdir()
    ensure_log(table)
    config = StreamConfig(
        table_path=table,
        quarantine_path=str(tmp_path / "quarantine"),
        checkpoint_path=str(tmp_path / "ckpt"),
        processing_time="500 milliseconds",
        coalesce_output=1,
        store=TxnLogPartitionStore(),
    )
    query = start_node_stream(
        read_envelope_file(spark, str(src), streaming=True), config
    )
    try:
        t0 = time.perf_counter()
        (src / "one.ndjson").write_text(NODE_ENVELOPES[0] + "\n")
        deadline = t0 + 30.0
        seen = 0
        latency = None
        while time.perf_counter() < deadline:
            v = snapshot(table)[0]
            if v > seen:
                seen = v
                df = read_table(spark, table)
                if df.filter(df.event_id == "n-001").count() > 0:
                    latency = time.perf_counter() - t0
                    break
            time.sleep(0.05)
        assert latency is not None, "event never became queryable"
    finally:
        query.stop()
