"""Transaction-logged partition store (operators/txn_store.py): atomic
versioned commits over plain Parquet — snapshot isolation (no
reader-visible gap during swaps), time travel, optimistic concurrency
with disjoint-month rebase, logical retention + vacuum, and crash
behavior (orphans invisible until vacuum).
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from neo4j_to_clickhouse_spark.operators.ingest import node_events_from_raw
from neo4j_to_clickhouse_spark.operators.maintenance import (
    apply_retention,
    compact,
)
from neo4j_to_clickhouse_spark.operators.txn_store import (
    LOG_DIR,
    ConcurrentSwapError,
    TxnLogPartitionStore,
    ensure_log,
    history,
    read_table,
    snapshot,
    vacuum,
)
from neo4j_to_clickhouse_spark.sources.snapshot import write_events


@pytest.fixture()
def event_table(spark, node_raw, tmp_path):
    """Same corpus as test_maintenance: 7 good events (one replayed
    duplicate id) over months 202602/202603, loaded as version 0."""
    path = str(tmp_path / "events")
    write_events(node_events_from_raw(node_raw).events, path)
    return path


def test_bootstrap_matches_plain_read(spark, event_table):
    """ensure_log() adopts an existing plain table as version 0; the
    snapshot read returns exactly the directory read's rows, partition
    column included."""
    shutil.rmtree(Path(event_table) / LOG_DIR)  # a plain Parquet table
    assert ensure_log(event_table) == 0
    plain = spark.read.parquet(event_table)
    snap = read_table(spark, event_table)
    assert snap.count() == plain.count() == 7
    assert dict(snap.dtypes)["event_month"] == "string"
    assert sorted(snap.columns) == sorted(plain.columns)
    v, files = snapshot(event_table)
    assert v == 0
    assert files and all(f.startswith("event_month=") for f in files)


def test_write_events_appends_through_the_log(spark, node_raw, tmp_path):
    """A second write_events into a logged table must commit its files:
    otherwise read_table cannot see them and vacuum deletes them as
    unreferenced orphans."""
    path = str(tmp_path / "events")
    events = node_events_from_raw(node_raw).events
    write_events(events, path)
    ensure_log(path)
    write_events(events, path)
    vacuum(path, retain_versions=1, min_age_s=0)
    assert read_table(spark, path).count() == 2 * 7


def test_compact_swap_is_snapshot_isolated(spark, event_table):
    """After a compact through the store: the latest snapshot is deduped,
    the pre-compact snapshot still reads the ORIGINAL rows byte-for-byte
    (old generation still on disk), and a plain directory read would
    double-count — demonstrating exactly the isolation the log buys."""
    store = TxnLogPartitionStore()
    ensure_log(event_table)
    before_version, before_files = snapshot(event_table)

    compact(spark, event_table, keep="latest", store=store)

    latest = read_table(spark, event_table)
    assert latest.count() == 3  # one row per entity
    survivor = latest.filter(F.col("entity_id") == "4:abc:1").collect()[0]
    assert survivor.event_id == "n-004"

    # time travel: the old version still resolves and still reads 7 rows
    old = read_table(spark, event_table, version=before_version)
    assert old.count() == 7
    # no reader-visible gap: both generations coexist until vacuum,
    # which is why a plain recursive directory read is WRONG here
    plain = spark.read.parquet(event_table)
    assert plain.count() == 7 + 3

    hist = history(event_table)
    assert [h["op"] for h in hist] == ["init", "replace_months"]
    assert hist[-1]["months"] == ["202602", "202603"]


def test_fully_deduped_month_vanishes(spark, tmp_path):
    """An entity whose survivor lands in month B removes month A from the
    snapshot even though no staged output exists for A (the dynamic-
    partition-overwrite trap from test_maintenance, transactional form)."""
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
    compact(spark, path, keep="latest", store=TxnLogPartitionStore())
    out = read_table(spark, path)
    assert [r.event_id for r in out.collect()] == ["e2"]
    assert {r.event_month for r in out.collect()} == {"202603"}
    # physical 202602 files remain until vacuum; snapshot excludes them
    _, files = snapshot(path)
    assert all(not f.startswith("event_month=202602/") for f in files)


def test_retention_is_metadata_only_until_vacuum(spark, event_table):
    """drop_months is a logical delete: the latest snapshot loses the old
    month instantly, time travel still sees it, and only vacuum removes
    bytes (after which pruned history is rejected loudly)."""
    store = TxnLogPartitionStore()
    ensure_log(event_table)
    dropped = apply_retention(
        spark, event_table, cutoff_month="202603", store=store
    )
    assert dropped == ["202602"]

    latest = read_table(spark, event_table)
    assert {r.event_month for r in latest.collect()} == {"202603"}
    # the data is still there at version 0
    assert read_table(spark, event_table, version=0).count() == 7

    deleted = vacuum(event_table, retain_versions=1, min_age_s=0)
    assert deleted and all(f.startswith("event_month=202602/") for f in deleted)
    # month directory physically gone, survivors untouched
    assert read_table(spark, event_table).count() == 3
    with pytest.raises(ValueError, match="vacuum may have pruned"):
        snapshot(event_table, version=0)
    # second vacuum is a no-op
    assert vacuum(event_table, retain_versions=1, min_age_s=0) == []


def test_crash_orphans_are_invisible_and_vacuumed(spark, event_table):
    """A crash after staged files moved but BEFORE the commit must leave
    readers on the old version; vacuum reclaims the orphans."""
    store = TxnLogPartitionStore()
    ensure_log(event_table)
    staging = event_table + "_staging"
    (
        spark.read.parquet(event_table)
        .limit(2)
        .write.partitionBy("event_month")
        .parquet(staging)
    )
    # simulate the crash: ingest happens, the commit never does
    store._ingest_staged(event_table, staging, ["202602", "202603"])
    assert read_table(spark, event_table).count() == 7  # unaffected
    deleted = vacuum(event_table, retain_versions=1, min_age_s=0)
    assert deleted  # the orphaned gen-* files
    assert all("/gen-" in f for f in deleted)
    assert read_table(spark, event_table).count() == 7


def test_vacuum_age_guard_protects_inflight_files(spark, event_table):
    """The default min_age_s must keep vacuum's hands off young
    unreferenced files — they may belong to a writer that has staged
    but not yet committed (the race a reference-count alone cannot
    see)."""
    store = TxnLogPartitionStore()
    ensure_log(event_table)
    staging = event_table + "_staging"
    (
        spark.read.parquet(event_table)
        .limit(1)
        .write.partitionBy("event_month")
        .parquet(staging)
    )
    store._ingest_staged(event_table, staging, ["202602", "202603"])
    # default age threshold: the seconds-old orphan is NOT reclaimed
    assert vacuum(event_table, retain_versions=1) == []
    # explicit 0 (maintenance window, no writers): it is
    assert vacuum(event_table, retain_versions=1, min_age_s=0)


def test_concurrent_overlapping_months_conflict(spark, event_table):
    """Two writers race on the SAME month: the loser's planned removes
    were computed against a superseded generation, so its swap must
    raise instead of silently resurrecting or losing data."""
    store = TxnLogPartitionStore()
    ensure_log(event_table)
    base_version, base_files = snapshot(event_table)
    # writer A stages a rewrite of 202602, then stalls before commit
    staging = event_table + "_stage_a"
    (
        spark.read.parquet(event_table)
        .filter("event_month = '202602'")
        .limit(1)
        .write.partitionBy("event_month")
        .parquet(staging)
    )
    adds = store._ingest_staged(event_table, staging, ["202602"])
    # writer B wins version 1 with a commit that also touches 202602
    assert TxnLogPartitionStore().drop_months(event_table, "202603") == [
        "202602"
    ]
    with pytest.raises(ConcurrentSwapError, match="202602"):
        store._commit_swap(
            event_table, base_version, base_files, ["202602"], adds
        )
    # the table is untouched by the failed swap: B's drop stands
    assert {r.event_month for r in read_table(spark, event_table).collect()} == {
        "202603"
    }


def test_concurrent_swap_paths(spark, event_table):
    """Explicit both-paths test: an interfering commit on a DIFFERENT
    month rebases and succeeds; on the SAME month it raises."""
    store = TxnLogPartitionStore()
    ensure_log(event_table)
    base_version, base_files = snapshot(event_table)

    staging = event_table + "_stage"
    (
        spark.read.parquet(event_table)
        .filter("event_month = '202603'")
        .limit(1)
        .write.partitionBy("event_month")
        .parquet(staging)
    )
    adds = store._ingest_staged(event_table, staging, ["202603"])

    # interfering commit touches only 202602 -> disjoint -> rebase wins
    assert TxnLogPartitionStore().drop_months(event_table, "202603") == [
        "202602"
    ]
    store._commit_swap(event_table, base_version, base_files, ["202603"], adds)
    v, files = snapshot(event_table)
    assert v == 2
    assert {h["op"] for h in history(event_table)} == {
        "init",
        "retention_drop",
        "replace_months",
    }
    assert read_table(spark, event_table).count() == 1
    # every live file is from A's new generation of 202603
    assert all(f.startswith("event_month=202603/gen-") for f in files)


def test_checkpoint_bounds_log_replay(spark, event_table):
    """Commits at version % CHECKPOINT_EVERY == 0 embed the full file
    list and snapshot() resolves BACKWARD from the newest one — proven by
    corrupting every pre-checkpoint commit and reading the head anyway
    (a resolver that replayed from v0 would surface the planted BOGUS
    file or choke)."""
    from neo4j_to_clickhouse_spark.operators.txn_store import (
        _commit_path,
        _read_commit,
    )

    store = TxnLogPartitionStore()
    ensure_log(event_table)
    live = snapshot(event_table)[1]
    for i in range(1, 12):  # versions 1..11; v10 carries the checkpoint
        store._commit(
            event_table,
            i,
            op="replace_months",
            months=[],
            add=[],
            remove=[],
            live_after=live,
        )
    assert snapshot(event_table)[0] == 11
    assert "checkpoint" in _read_commit(event_table, 10)
    for i in range(1, 10):
        _commit_path(event_table, i).write_text(
            json.dumps(
                {"version": i, "op": "x", "months": [], "add": ["BOGUS"]}
            )
        )
    head_files = snapshot(event_table)[1]
    assert "BOGUS" not in head_files
    assert read_table(spark, event_table).count() == 7


def test_table_stats_reports_snapshot_not_directory(spark, event_table):
    """After a compact leaves two generations on disk, table_stats with
    the txn store must report exactly the live snapshot (rows, files,
    bytes) — the plain directory walk counts both generations."""
    from neo4j_to_clickhouse_spark.operators.maintenance import table_stats

    store = TxnLogPartitionStore()
    ensure_log(event_table)
    compact(spark, event_table, keep="latest", store=store)

    snap_stats = {
        r.event_month: r for r in table_stats(spark, event_table, store=store).collect()
    }
    live = read_table(spark, event_table)
    direct = {
        r.event_month: r.cnt
        for r in live.groupBy("event_month").agg(F.count("*").alias("cnt")).collect()
    }
    assert {m: r.n_rows for m, r in snap_stats.items()} == direct
    _, files = snapshot(event_table)
    per_month_files = {}
    for f in files:
        per_month_files[f.split("=", 1)[1].split("/", 1)[0]] = (
            per_month_files.get(f.split("=", 1)[1].split("/", 1)[0], 0) + 1
        )
    assert {m: r.n_files for m, r in snap_stats.items()} == per_month_files
    # the DEFAULT call matches the snapshot view
    default_stats = {
        r.event_month: r for r in table_stats(spark, event_table).collect()
    }
    assert {m: r.n_files for m, r in default_stats.items()} == per_month_files
    # the physical directories hold MORE files than the snapshot (old
    # generation on disk awaiting vacuum)
    on_disk = list(Path(event_table).glob("event_month=*/*.parquet"))
    assert len(on_disk) > sum(r.n_files for r in snap_stats.values())


def test_disjoint_month_race_under_real_threads(tmp_path):
    """8 threads replace 8 DIFFERENT months concurrently from the same
    base version: every swap must land (rebasing over whoever won each
    version race), the head must be version 8, and each month's live
    generation must be its own writer's. Pure-filesystem test — the
    protocol never reads data files."""
    from concurrent.futures import ThreadPoolExecutor

    root = tmp_path / "t"
    months = [f"2026{i:02d}" for i in range(1, 9)]
    for m in months:
        d = root / f"event_month={m}"
        d.mkdir(parents=True)
        (d / "part-0.parquet").write_bytes(b"old")
    ensure_log(str(root))

    def worker(m):
        staging = tmp_path / f"stage_{m}"
        sd = staging / f"event_month={m}"
        sd.mkdir(parents=True)
        (sd / "part-0.parquet").write_bytes(b"new")
        TxnLogPartitionStore().replace_months(str(root), str(staging), [m])

    with ThreadPoolExecutor(8) as ex:
        list(ex.map(worker, months))  # re-raises any worker failure

    v, files = snapshot(str(root))
    assert v == 8
    by_month = {}
    for f in files:
        by_month.setdefault(f.split("=", 1)[1].split("/", 1)[0], []).append(f)
    assert set(by_month) == set(months)
    for fs_ in by_month.values():
        assert len(fs_) == 1 and "/gen-" in fs_[0]


def test_same_month_race_is_serializable(tmp_path):
    """Two threads replace the SAME month concurrently: at most one may
    be told to retry (ConcurrentSwapError), the table must end with
    exactly one live generation for the month, and the log must stay a
    gap-free version sequence."""
    from concurrent.futures import ThreadPoolExecutor

    from neo4j_to_clickhouse_spark.operators.txn_store import _list_versions

    root = tmp_path / "t"
    d = root / "event_month=202601"
    d.mkdir(parents=True)
    (d / "part-0.parquet").write_bytes(b"old")
    ensure_log(str(root))
    conflicts = []

    def worker(tag):
        staging = tmp_path / f"stage_{tag}"
        sd = staging / "event_month=202601"
        sd.mkdir(parents=True)
        (sd / "part-0.parquet").write_bytes(tag.encode())
        try:
            TxnLogPartitionStore().replace_months(
                str(root), str(staging), ["202601"]
            )
        except ConcurrentSwapError as e:
            conflicts.append(e)

    with ThreadPoolExecutor(2) as ex:
        list(ex.map(worker, ["a", "b"]))

    assert len(conflicts) <= 1
    _, files = snapshot(str(root))
    assert len(files) == 1 and "/gen-" in files[0]
    versions = _list_versions(str(root))
    assert versions == list(range(len(versions)))  # gap-free


def test_empty_swap_commits_nothing(spark, event_table):
    """months=[] (the compaction read nothing) must not burn a version."""
    store = TxnLogPartitionStore()
    ensure_log(event_table)
    store.replace_months(event_table, event_table + "_nostage", [])
    assert [h["version"] for h in history(event_table)] == [0]


def test_streaming_batch_commit_is_atomic_and_replay_safe(
    spark, node_raw, tmp_path
):
    """StreamConfig(store=TxnLogPartitionStore()): each micro-batch is
    ONE commit; replaying a batch id atomically replaces its own prior
    generation; a later batch id appends; vacuum reclaims the replaced
    attempt."""
    from neo4j_to_clickhouse_spark.streaming import StreamConfig
    from neo4j_to_clickhouse_spark.streaming.pipeline import _write_batch

    store = TxnLogPartitionStore()
    config = StreamConfig(
        table_path=str(tmp_path / "events"),
        quarantine_path=str(tmp_path / "quarantine"),
        checkpoint_path=str(tmp_path / "ckpt"),
        coalesce_output=1,
        store=store,
    )
    res = node_events_from_raw(node_raw)
    _write_batch(res, config, batch_id=7)
    n1 = read_table(spark, config.table_path).count()
    assert n1 == 7
    assert [h["op"] for h in history(config.table_path)] == [
        "init",
        "stream_batch",
    ]

    # crash-replay of the same batch: one commit, same rows, ONE live
    # generation (the replay's)
    _write_batch(res, config, batch_id=7)
    assert read_table(spark, config.table_path).count() == n1
    _, files = snapshot(config.table_path)
    gens = {f.split("gen-", 1)[1].split("-", 1)[0] for f in files}
    assert len(gens) == 1

    # a different batch id is new data and appends
    _write_batch(res, config, batch_id=8)
    assert read_table(spark, config.table_path).count() == 2 * n1

    # the superseded first attempt still occupies disk until vacuum
    deleted = vacuum(config.table_path, retain_versions=1, min_age_s=0)
    assert deleted and all("batch-000000007-" in f for f in deleted)
    assert read_table(spark, config.table_path).count() == 2 * n1
    # quarantine commits the same way: one bad row from the replayed
    # batch 7 (replaced, not duplicated) + one from batch 8
    assert read_table(spark, config.quarantine_path).count() == 2


def test_stream_drain_through_txn_store(spark, tmp_path):
    """Full availableNow drain with the transactional sink: the streamed
    table reads through the snapshot with the right rows/months, and the
    log shows init + one commit per non-empty micro-batch."""
    from tests.conftest import NODE_ENVELOPES
    from neo4j_to_clickhouse_spark.sources.envelopes import read_envelope_file
    from neo4j_to_clickhouse_spark.streaming import (
        StreamConfig,
        drain,
        start_node_stream,
    )

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.ndjson").write_text("\n".join(NODE_ENVELOPES[:4]) + "\n")
    (src / "b.ndjson").write_text("\n".join(NODE_ENVELOPES[4:]) + "\n")
    table = str(tmp_path / "events")
    config = StreamConfig(
        table_path=table,
        quarantine_path=str(tmp_path / "quarantine"),
        checkpoint_path=str(tmp_path / "ckpt"),
        processing_time=None,  # availableNow drain
        coalesce_output=1,
        store=TxnLogPartitionStore(),
    )
    raw = read_envelope_file(spark, str(src), streaming=True)
    drain(start_node_stream(raw, config))

    streamed = read_table(spark, table)
    assert streamed.count() == 7  # 8 lines - 1 malformed
    assert {
        r.event_month for r in streamed.select("event_month").collect()
    } == {"202602", "202603"}
    ops = [h["op"] for h in history(table)]
    assert ops[0] == "init" and set(ops[1:]) == {"stream_batch"}


# ---- ADVICE r08 regressions ------------------------------------------


def test_vacuum_log_age_guard_keeps_young_log_files(spark, event_table):
    """Log pruning gets its own age guard (ADVICE r08, medium): a
    concurrent reader that listed the log before the vacuum may still be
    replaying old commits, so young log files must survive even when
    min_age_s=0 reclaims data files. An explicitly aged-out pass prunes
    them."""
    store = TxnLogPartitionStore()
    ensure_log(event_table)
    compact(spark, event_table, keep="latest", store=store)

    vacuum(event_table, retain_versions=1, min_age_s=0, log_min_age_s=3600)
    # the v0 log file survived the guard: history still shows it
    assert [h["version"] for h in history(event_table)] == [0, 1]

    vacuum(event_table, retain_versions=1, min_age_s=0, log_min_age_s=0)
    assert [h["version"] for h in history(event_table)] == [1]
    with pytest.raises(ValueError, match="vacuum may have pruned"):
        snapshot(event_table, version=0)


def test_snapshot_retries_across_concurrent_log_prune(
    spark, event_table, monkeypatch
):
    """A reader whose listed commit vanishes mid-replay (a concurrent
    vacuum pruned it) must re-list and retry, not crash with
    FileNotFoundError (ADVICE r08, medium)."""
    import neo4j_to_clickhouse_spark.operators.txn_store as ts

    store = TxnLogPartitionStore()
    ensure_log(event_table)
    compact(spark, event_table, keep="latest", store=store)

    real = ts._read_commit
    fired = []

    def racing_read(table_path, version):
        if not fired:
            fired.append(True)
            # the concurrent vacuum lands between this reader's listing
            # and its first commit read, pruning v0 and checkpointing v1
            vacuum(table_path, retain_versions=1, min_age_s=0,
                   log_min_age_s=0)
            raise FileNotFoundError("commit pruned by concurrent vacuum")
        return real(table_path, version)

    monkeypatch.setattr(ts, "_read_commit", racing_read)
    v, files = ts.snapshot(event_table)
    assert v == 1 and files
    assert read_table(spark, event_table).count() == 3


def test_replay_without_base_checkpoint_fails_loudly(spark, event_table):
    """If the checkpoint a replay depends on is gone (hand-pruned log,
    no checkpoint rewrite), resolution must raise — never silently
    return a truncated file set."""
    from neo4j_to_clickhouse_spark.operators.txn_store import _commit_path

    store = TxnLogPartitionStore()
    ensure_log(event_table)
    compact(spark, event_table, keep="latest", store=store)  # v1, no ckpt
    _commit_path(event_table, 0).unlink()
    with pytest.raises(ValueError, match="no longer resolvable"):
        snapshot(event_table)


def test_stage_batch_files_bootstraps_before_renames(spark, event_table, tmp_path):
    """stage_batch_files must ensure_log BEFORE moving any file (ADVICE
    r08): on a not-yet-bootstrapped table, a concurrent bootstrap would
    otherwise adopt the half-staged uncommitted batch into v0."""
    import shutil as sh

    from neo4j_to_clickhouse_spark.operators.txn_store import (
        stage_batch_files,
    )

    sh.rmtree(Path(event_table) / LOG_DIR)  # a plain Parquet table
    staging = tmp_path / "staging"
    sh.copytree(
        f"{event_table}/event_month=202602", staging / "event_month=202602"
    )
    # table NOT bootstrapped yet — the call itself must pin v0 first
    adds, tag = stage_batch_files(event_table, str(staging), 1, "q")
    assert adds and tag == "batch-q~000000001-"
    v, files = snapshot(event_table)
    assert v == 0
    assert not any("batch-" in f for f in files)
    assert read_table(spark, event_table).count() == 7


def test_batch_tag_namespaced_by_query(spark, node_raw, tmp_path):
    """Two streaming queries sharing a table path share batch-id
    sequences; the query name in the tag keeps one query's replay from
    removing the other's committed files for the same batch id (ADVICE
    r08)."""
    from neo4j_to_clickhouse_spark.streaming import StreamConfig
    from neo4j_to_clickhouse_spark.streaming.pipeline import _write_batch

    store = TxnLogPartitionStore()
    config = StreamConfig(
        table_path=str(tmp_path / "events"),
        quarantine_path=str(tmp_path / "quarantine"),
        checkpoint_path=str(tmp_path / "ckpt"),
        coalesce_output=1,
        store=store,
    )
    res = node_events_from_raw(node_raw)
    _write_batch(res, config, batch_id=7, query_name="qA")
    n1 = read_table(spark, config.table_path).count()

    # qB's batch 7 is DIFFERENT data: it appends, it must not replace
    _write_batch(res, config, batch_id=7, query_name="qB")
    assert read_table(spark, config.table_path).count() == 2 * n1

    # replaying qA's batch 7 replaces only qA's prior generation
    _write_batch(res, config, batch_id=7, query_name="qA")
    assert read_table(spark, config.table_path).count() == 2 * n1


def test_vacuum_spares_young_empty_month_dir(event_table):
    """An empty month dir younger than min_age_s survives vacuum — a
    concurrent writer may sit between its mkdir and its first rename
    (ADVICE r08); an aged-out pass reaps it."""
    from pathlib import Path

    ensure_log(event_table)
    fresh = Path(event_table) / "event_month=209901"
    fresh.mkdir()
    vacuum(event_table, retain_versions=1)  # default min_age_s guards it
    assert fresh.is_dir()
    vacuum(event_table, retain_versions=1, min_age_s=0)
    assert not fresh.exists()


def test_rename_into_live_survives_dir_removal(tmp_path):
    """The writer-side answer to the empty-dir race: a rename that finds
    its month dir rmtree'd re-creates it and retries."""
    from neo4j_to_clickhouse_spark.operators.txn_store import (
        _rename_into_live,
    )

    src = tmp_path / "src.parquet"
    src.write_bytes(b"x")
    live = tmp_path / "event_month=202601"  # intentionally absent
    _rename_into_live(src, live, "gen-1.parquet")
    assert (live / "gen-1.parquet").read_bytes() == b"x"


def test_stream_default_store_transacts_on_adopted_table(spark, node_raw, tmp_path):
    """A StreamConfig with the DEFAULT store writing into a txn-adopted
    table publishes through the log."""
    from neo4j_to_clickhouse_spark.streaming import StreamConfig
    from neo4j_to_clickhouse_spark.streaming.pipeline import _write_batch

    table = str(tmp_path / "events")
    (tmp_path / "events").mkdir()
    ensure_log(table)  # adopt (empty) table up front
    config = StreamConfig(
        table_path=table,
        quarantine_path=str(tmp_path / "quarantine"),
        checkpoint_path=str(tmp_path / "ckpt"),
        coalesce_output=1,
    )
    res = node_events_from_raw(node_raw)
    _write_batch(res, config, batch_id=0, query_name="q")
    assert [h["op"] for h in history(table)] == ["init", "stream_batch"]
    assert read_table(spark, table).count() == 7


def test_optimize_final_equivalence_through_txn_store(spark, event_table):
    """OPTIMIZE FINAL equivalence on the transactional store (VERDICT
    r08 item 5; `initial-load/scripts/04-optimize-tables.sql:26-87`):
    the reference validates OPTIMIZE by checking that entity_ids holding
    more than one row drop to zero (its A5/M2 queries, lines 68-87).
    compact() must satisfy the same validation on the post-compact
    snapshot, in two stages mirroring ReplacingMergeTree: keep='events'
    removes replayed duplicate event ids but keeps per-entity history
    (pre-FINAL), keep='latest' collapses to one row per entity (FINAL),
    with survivors exactly latest_events() of the original data."""
    from neo4j_to_clickhouse_spark.operators.latest_state import (
        dedup_exact_events,
        latest_events,
    )
    from neo4j_to_clickhouse_spark.operators.maintenance import table_stats

    store = TxnLogPartitionStore()
    ensure_log(event_table)

    def dup_entities(df):  # the sql's "should be 0 after FINAL" probe
        return (
            df.groupBy("entity_id")
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") > 1)
            .count()
        )

    before = store.read(spark, event_table)  # pinned v0 snapshot
    assert dup_entities(before) > 0
    n_dedup = dedup_exact_events(before).count()

    compact(spark, event_table, keep="events", store=store)
    mid = store.read(spark, event_table)
    assert mid.count() == n_dedup
    assert (
        mid.groupBy("event_id").count().filter("count > 1").count() == 0
    )  # replays gone
    assert dup_entities(mid) > 0  # history retained pre-FINAL

    compact(spark, event_table, keep="latest", store=store)
    after = store.read(spark, event_table)
    assert dup_entities(after) == 0  # the reference's validation query
    expected = {
        (r.entity_id, r.event_id)
        for r in latest_events(before).select("entity_id", "event_id").collect()
    }
    got = {
        (r.entity_id, r.event_id)
        for r in after.select("entity_id", "event_id").collect()
    }
    assert got == expected
    # system.parts analogue: live stats report the compacted snapshot
    stats = table_stats(spark, event_table).collect()
    assert sum(r.n_rows for r in stats) == len(expected)


def test_readers_survive_aggressive_log_pruning_threads(tmp_path):
    """Real-thread stress for the r09 log-retention protocol: two writer
    threads stream batches, a vacuum thread prunes LOG files at age 0
    (log_min_age_s=0 — the new surface; data files stay age-guarded per
    the documented contract), and reader threads hammer snapshot() and
    history() throughout. Invariants: no thread raises (the re-list-and-
    retry absorbs every mid-replay prune), reader-observed versions are
    monotone, and the final snapshot lists exactly the files every
    writer committed."""
    import threading

    from neo4j_to_clickhouse_spark.operators.txn_store import (
        stage_batch_files,
    )

    table = str(tmp_path / "t")
    (tmp_path / "t").mkdir()
    ensure_log(table)
    store = TxnLogPartitionStore()
    stop = threading.Event()
    errors: list[BaseException] = []

    def writer(qname: str, n_batches: int) -> None:
        try:
            for b in range(n_batches):
                staging = tmp_path / f"stage-{qname}-{b}"
                month = staging / "event_month=202601"
                month.mkdir(parents=True)
                (month / "part-0.parquet").write_bytes(b"d")
                adds, tag = stage_batch_files(table, str(staging), b, qname)
                store.commit_batch(table, adds, tag)
        except BaseException as e:  # noqa: BLE001 - collected for assert
            errors.append(e)

    def vacuumer() -> None:
        try:
            while not stop.is_set():
                vacuum(table, retain_versions=1, min_age_s=60,
                       log_min_age_s=0)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    def reader() -> None:
        try:
            last = -1
            while not stop.is_set():
                v, files = snapshot(table)
                assert v >= last, f"version went backward {last}->{v}"
                last = v
                assert isinstance(files, list)
                history(table)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    n_batches = 30
    threads = [
        threading.Thread(target=writer, args=("qA", n_batches)),
        threading.Thread(target=writer, args=("qB", n_batches)),
        threading.Thread(target=vacuumer),
        *(threading.Thread(target=reader) for _ in range(3)),
    ]
    for t in threads:
        t.start()
    threads[0].join()
    threads[1].join()
    stop.set()
    for t in threads[2:]:
        t.join()
    assert not errors, errors

    # every batch's final generation is live: one file per (query, batch)
    _, files = snapshot(table)
    assert len(files) == 2 * n_batches
    for q in ("qA", "qB"):
        tags = {f.rsplit("/", 1)[-1].split("-gen-")[0] for f in files
                if f"batch-{q}~" in f}
        assert tags == {f"batch-{q}~{b:09d}" for b in range(n_batches)}


def test_maintenance_cycle_full_pass(spark, event_table):
    """The scheduled-maintenance composition: retention first
    (metadata-only), compact with swap retry, vacuum past the age
    guards — one call, one report."""
    from neo4j_to_clickhouse_spark.operators.maintenance import (
        maintenance_cycle,
    )

    ensure_log(event_table)
    report = maintenance_cycle(
        spark,
        event_table,
        keep="latest",
        retention_cutoff="202603",
        vacuum_retain_versions=1,
        vacuum_min_age_s=0,
    )
    assert report["dropped_months"] == ["202602"]
    assert report["compacted_months"] == ["202603"]
    assert report["swap_retries"] == 0
    assert report["vacuumed_files"] > 0  # dropped month + old generation
    out = read_table(spark, event_table)
    rows = out.collect()
    assert {r.event_month for r in rows} == {"202603"}
    # one row per entity among the surviving month's entities
    assert len(rows) == len({r.entity_id for r in rows})
    # the dropped month's BYTES are gone. Whether the now-empty dir is
    # reaped in the same pass depends on mtime granularity vs the age-0
    # cutoff (deleting its files refreshes the dir mtime, and the age
    # guard protects fresh dirs from racing writers); a follow-up pass
    # always reaps it
    from pathlib import Path

    dropped_dir = Path(event_table) / "event_month=202602"
    assert not dropped_dir.exists() or not any(dropped_dir.iterdir())
    import time as _time

    _time.sleep(0.05)
    vacuum(event_table, retain_versions=1, min_age_s=0)
    assert not dropped_dir.exists()


def test_maintenance_cycle_retries_concurrent_swap(spark, event_table):
    """A streaming batch landing mid-swap surfaces as
    ConcurrentSwapError; the cycle's bounded retry re-runs the
    compaction against the new snapshot instead of failing the job."""
    from neo4j_to_clickhouse_spark.operators.maintenance import (
        maintenance_cycle,
    )

    ensure_log(event_table)

    class RacingStore(TxnLogPartitionStore):
        def __init__(self):
            self.raised = 0

        def replace_months(self, table_path, staging_path, months, base=None):
            if self.raised == 0:
                self.raised += 1
                raise ConcurrentSwapError("simulated mid-swap commit")
            return super().replace_months(
                table_path, staging_path, months, base=base
            )

    store = RacingStore()
    report = maintenance_cycle(spark, event_table, keep="latest", store=store)
    assert report["swap_retries"] == 1
    assert read_table(spark, event_table).count() == 3

    class AlwaysRacing(TxnLogPartitionStore):
        def replace_months(self, table_path, staging_path, months, base=None):
            raise ConcurrentSwapError("always")

    with pytest.raises(ConcurrentSwapError):
        maintenance_cycle(
            spark, event_table, store=AlwaysRacing(), max_swap_retries=2
        )


def test_compact_cannot_lose_batch_landing_after_its_read(spark, event_table):
    """A streaming micro-batch committing between compact's snapshot read
    and its swap commit must surface as ConcurrentSwapError, never be
    silently removed: the swap is pinned to the version the compaction
    actually READ (begin_rewrite), so the late batch is an interfering
    commit the optimistic loop refuses to rebase over. Re-snapshotting
    at commit time instead would compute the remove-set against a head
    that includes the batch's files — removing rows the compacted
    output never contained."""
    from neo4j_to_clickhouse_spark.operators.txn_store import (
        stage_batch_files,
    )

    ensure_log(event_table)
    base_df = read_table(spark, event_table)

    def land_late_batch():
        staging = event_table + "_latebatch"
        (
            base_df.filter(F.col("event_id") == "n-001")
            .withColumn("event_id", F.lit("late-1"))
            .withColumn("entity_id", F.lit("4:late:99"))
            .write.mode("overwrite")
            .partitionBy("event_month")
            .parquet(staging)
        )
        adds, tag = stage_batch_files(event_table, staging, 7, "lateq")
        TxnLogPartitionStore().commit_batch(event_table, adds, tag)

    class LateBatchStore(TxnLogPartitionStore):
        def __init__(self):
            self.injected = False

        def replace_months(self, table_path, staging_path, months, base=None):
            if not self.injected:
                self.injected = True
                land_late_batch()
            return super().replace_months(
                table_path, staging_path, months, base=base
            )

    with pytest.raises(ConcurrentSwapError):
        compact(spark, event_table, keep="latest", store=LateBatchStore())

    # the late batch's row survived the refused swap ...
    live = read_table(spark, event_table)
    assert live.filter(F.col("entity_id") == "4:late:99").count() == 1
    # ... and a re-run compaction (what maintenance_cycle's retry does)
    # folds it in: 3 original entities + the late one
    compact(spark, event_table, keep="latest", store=TxnLogPartitionStore())
    latest = read_table(spark, event_table)
    assert latest.count() == 4
    assert latest.filter(F.col("entity_id") == "4:late:99").count() == 1


def test_int_months_still_replace(spark, event_table):
    """A session WITHOUT partitionColumnTypeInference disabled infers
    'yyyyMM' partition values as INT; an int month formats into the
    right directory name but never matches _month_of()'s strings in the
    remove-set — the swap would add the compacted generation WITHOUT
    removing the old one (silent double-count). The store normalizes."""
    store = TxnLogPartitionStore()
    ensure_log(event_table)
    staging = event_table + "_intstage"
    src = read_table(spark, event_table)
    src.filter(F.col("event_month") == "202602").write.mode(
        "overwrite"
    ).partitionBy("event_month").parquet(staging)
    store.replace_months(event_table, staging, [202602])  # int, not str
    _, files = snapshot(event_table)
    by_month = {}
    for f in files:
        by_month.setdefault(f.split("=", 1)[1].split("/", 1)[0], []).append(f)
    # old 202602 generation replaced, not doubled
    assert all("/gen-" in f for f in by_month["202602"])
    assert read_table(spark, event_table).count() == 7


def test_concurrent_vacuums_under_threads(tmp_path):
    """Two vacuum loops racing each other (scheduled cycle + manual run)
    while writers append: neither may crash — losing a per-file race to
    the other vacuum is success — and the final snapshot's files all
    exist on disk."""
    import threading

    from neo4j_to_clickhouse_spark.operators.txn_store import (
        stage_batch_files,
    )

    table = str(tmp_path / "t")
    (tmp_path / "t").mkdir()
    ensure_log(table)
    store = TxnLogPartitionStore()
    stop = threading.Event()
    errors: list[BaseException] = []

    def writer() -> None:
        try:
            for b in range(25):
                staging = tmp_path / f"stage-{b}"
                month = staging / f"event_month=2026{b % 3:02d}"
                month.mkdir(parents=True)
                (month / "part-0.parquet").write_bytes(b"d")
                adds, tag = stage_batch_files(table, str(staging), b, "w")
                store.commit_batch(table, adds, tag)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    def vacuumer() -> None:
        try:
            while not stop.is_set():
                vacuum(table, retain_versions=1, min_age_s=60,
                       log_min_age_s=0)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    threads = [
        threading.Thread(target=writer),
        threading.Thread(target=vacuumer),
        threading.Thread(target=vacuumer),
    ]
    for t in threads:
        t.start()
    threads[0].join()
    stop.set()
    threads[1].join()
    threads[2].join()
    assert not errors, errors
    from pathlib import Path

    _, files = snapshot(table)
    assert len(files) == 25
    assert all((Path(table) / f).is_file() for f in files)


def test_two_queries_share_plain_table_and_quarantine(spark, node_raw, tmp_path):
    """Both sinks (events and quarantine) namespace batch files and
    staging dirs by query — two queries share batch-id sequences, and an
    un-namespaced replay of one would remove the other's committed
    batch-N files."""
    from neo4j_to_clickhouse_spark.streaming import StreamConfig
    from neo4j_to_clickhouse_spark.streaming.pipeline import _write_batch

    config = StreamConfig(
        table_path=str(tmp_path / "events"),
        quarantine_path=str(tmp_path / "quarantine"),
        checkpoint_path=str(tmp_path / "ckpt"),
        coalesce_output=1,
    )
    res = node_events_from_raw(node_raw)
    _write_batch(res, config, batch_id=7, query_name="qA")
    n1 = read_table(spark, config.table_path).count()
    nq1 = read_table(spark, config.quarantine_path).count()
    assert n1 == 7 and nq1 == 1

    # qB's batch 7 is different data: appends in BOTH sinks
    _write_batch(res, config, batch_id=7, query_name="qB")
    assert read_table(spark, config.table_path).count() == 2 * n1
    assert read_table(spark, config.quarantine_path).count() == 2 * nq1

    # replaying qA's batch 7 replaces only qA's generation in both
    _write_batch(res, config, batch_id=7, query_name="qA")
    assert read_table(spark, config.table_path).count() == 2 * n1
    assert read_table(spark, config.quarantine_path).count() == 2 * nq1


def test_ingest_refreshes_mtime_for_age_guard(spark, event_table, tmp_path):
    """r09 self-review: rename preserves the staging write's mtime, so
    a slow job's staged-then-ingested files could look older than
    min_age_s while still uncommitted and be vacuumed as orphans
    mid-job. Ingest must refresh mtime so the age guard measures time
    since INGEST."""
    import os
    import time as _time

    store = TxnLogPartitionStore()
    ensure_log(event_table)
    staging = tmp_path / "staging"
    month = staging / "event_month=202602"
    month.mkdir(parents=True)
    f = month / "part-0.parquet"
    f.write_bytes(b"d")
    two_hours_ago = _time.time() - 7200
    os.utime(f, (two_hours_ago, two_hours_ago))  # slow staging write

    adds = store._ingest_staged(event_table, str(staging), ["202602"])
    # the file is ingested but NOT yet committed (the vulnerable window)
    assert vacuum(event_table, retain_versions=1) == []  # default 1h guard
    rel = adds["202602"][0]
    from pathlib import Path

    assert (Path(event_table) / rel).is_file()

def test_stream_vs_compact_race_under_threads(spark, tmp_path):
    """END-TO-END protocol race: a live writer commits micro-batches
    while maintenance_cycle compactions run concurrently. Every
    committed row must be present exactly once at the end — the pinned
    swap (begin_rewrite base) turns a batch landing mid-compaction into
    ConcurrentSwapError + retry instead of silent removal, and the age
    guard keeps vacuum off everything young. Rows are unique, so
    keep='events' (exact dedup) must preserve the full count."""
    import threading

    from neo4j_to_clickhouse_spark.operators.maintenance import (
        maintenance_cycle,
    )
    from neo4j_to_clickhouse_spark.operators.txn_store import (
        stage_batch_files,
    )

    table = str(tmp_path / "t")
    n_batches = 6

    def event_df(eid, entity, ts):
        return (
            spark.createDataFrame(
                [(eid, "INSERT", ts, entity)],
                "event_id string, event_type string, ts string, "
                "entity_id string",
            )
            .select(
                "event_id",
                "event_type",
                F.col("ts").cast("timestamp").alias("event_timestamp"),
                "entity_id",
                F.lit("{}").alias("properties_before"),
                F.lit("{}").alias("properties_after"),
                F.lit("{}").alias("metadata"),
                F.date_format(
                    F.col("ts").cast("timestamp"), "yyyyMM"
                ).alias("event_month"),
            )
        )

    event_df("seed-0", "e-seed", "2026-02-01 00:00:00").write.partitionBy(
        "event_month"
    ).parquet(table)
    ensure_log(table)
    # pre-stage every batch's parquet (Spark writes are the slow part;
    # the race under test is the commit protocol, not the write)
    stagings = []
    for b in range(n_batches):
        staging = str(tmp_path / f"stage-{b}")
        event_df(
            f"b{b}", f"e-{b}", f"2026-0{2 + b % 2}-01 00:00:00"
        ).write.partitionBy("event_month").parquet(staging)
        stagings.append(staging)

    store = TxnLogPartitionStore()
    errors: list[BaseException] = []
    stop = threading.Event()

    def writer() -> None:
        try:
            for b, staging in enumerate(stagings):
                adds, tag = stage_batch_files(table, staging, b, "q")
                store.commit_batch(table, adds, tag)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)
        finally:
            stop.set()

    def compactor() -> None:
        try:
            while not stop.is_set():
                maintenance_cycle(
                    spark,
                    table,
                    keep="events",
                    vacuum_min_age_s=3600.0,
                    max_swap_retries=50,
                )
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    threads = [
        threading.Thread(target=writer),
        threading.Thread(target=compactor),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    final = read_table(spark, table)
    ids = sorted(r.event_id for r in final.collect())
    assert ids == sorted(["seed-0"] + [f"b{b}" for b in range(n_batches)])
