"""Maintenance jobs: compaction, dedup-materialize, retention (SURVEY.md §2.9).

ClickHouse gets these from the MergeTree engine (`OPTIMIZE TABLE ... FINAL`,
`ALTER TABLE ... DELETE`); vanilla Spark+Parquet needs them as explicit —
and partition-surgical — batch rewrites. Partition-level operation is the
point: at 100 TB you never rewrite the whole table, only the month
partitions the operation touches.

The physical partition swap is a :class:`PartitionStore` strategy so the
100 TB realization is a sibling, not a rewrite: :class:`LocalPartitionStore`
does crash-recoverable directory renames (plain parquet on a local/HDFS-like
filesystem); :class:`~neo4j_to_clickhouse_spark.operators.txn_store.TxnLogPartitionStore`
adds snapshot isolation, time travel, and optimistic concurrency over the
same plain parquet via a Delta-protocol-style commit log (no external
jars).
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neo4j_to_clickhouse_spark.operators.latest_state import (
    dedup_exact_events,
    latest_events,
)


class PartitionStore:
    """Strategy for replacing/dropping whole month partitions of an event
    table. Implementations must make ``replace_months`` effective-atomic per
    partition: a crash may leave a partition momentarily old OR new, never
    lost and never double-counted after :meth:`recover`."""

    def replace_months(
        self,
        table_path: str,
        staging_path: str,
        months: list[str],
        base: object | None = None,
    ) -> None:
        """Swap the ``event_month=<m>`` partitions under ``staging_path``
        into the live table for every month in ``months``. A month with no
        staged output (fully deduped/compacted away) is removed.

        ``base`` is the opaque token :meth:`begin_rewrite` returned for
        the snapshot the staged output was COMPUTED from. Transactional
        stores use it to refuse a swap whose removes went stale (a
        writer landed in one of ``months`` after the rewrite's read);
        stores without read-version pinning ignore it."""
        raise NotImplementedError

    def begin_rewrite(
        self, spark: SparkSession, table_path: str
    ) -> tuple[DataFrame, object | None]:
        """Read the table AND pin the snapshot the read resolved, as
        ``(df, base)``; ``base`` must be handed back to
        :meth:`replace_months` so the swap's remove-set is computed
        against what the rewrite actually read — NOT against whatever
        head exists at commit time. Re-snapshotting at commit time is a
        silent-data-loss TOCTOU: a streaming micro-batch that lands in
        an affected month between the read and the commit would have
        its files removed without its rows being in the staged output.
        Default: plain read, no pin (stores whose swap cannot check a
        base version)."""
        return self.read(spark, table_path), None

    def drop_months(self, table_path: str, cutoff_month: str) -> list[str]:
        """Remove every partition strictly older than ``cutoff_month``;
        return the dropped month names."""
        raise NotImplementedError

    def recover(self, table_path: str) -> list[str]:
        """Finish (or roll back) any swap a crash interrupted; return the
        months that needed recovery. No-op for transactional stores."""
        return []

    def read(self, spark: SparkSession, table_path: str) -> DataFrame:
        """Load the table this store manages. Plain directory read by
        default; transactional stores resolve a snapshot instead (a
        directory read would double-count superseded generations that
        are still awaiting vacuum)."""
        return spark.read.parquet(table_path)

    def live_files(self, table_path: str) -> list[str] | None:
        """Table-root-relative paths of the live data files, or ``None``
        when the physical directory listing IS the truth (plain
        stores). Transactional stores return the current snapshot so
        size/stats reports skip superseded generations."""
        return None


def resolve_store(table_path: str) -> PartitionStore:
    """Default store resolution for ``compact`` / ``apply_retention`` /
    ``table_stats`` when the caller passes none: STICKY on the table's
    own layout. A table that carries a ``_txn_log`` gets the
    transactional :class:`~neo4j_to_clickhouse_spark.operators.txn_store.TxnLogPartitionStore`
    — running the rename protocol on a logged table would move files
    the log still references and corrupt every pinned snapshot, so
    auto-detection is a correctness guard, not just a convenience. A
    plain table keeps :class:`LocalPartitionStore` so existing
    ``spark.read.parquet`` consumers see byte-identical behavior.

    Migrating a table to the transactional protocol is one explicit
    opt-in: pass ``TxnLogPartitionStore()`` to any maintenance call (or
    call ``txn_store.ensure_log``) once — bootstrap adopts the existing
    files as version 0, and every later default-store call sticks to
    the log. The txn store is the RECOMMENDED protocol for new tables:
    it is strictly safer than the rename swap (no reader-visible gap,
    snapshot isolation, time travel), at the cost of reading through
    ``txn_store.read_table`` (or ``store.read``) instead of a plain
    directory read, plus a periodic ``vacuum``."""
    from neo4j_to_clickhouse_spark.operators.txn_store import (
        LOG_DIR,
        TxnLogPartitionStore,
    )

    if (Path(table_path) / LOG_DIR).is_dir():
        return TxnLogPartitionStore()
    return LocalPartitionStore()


class LocalPartitionStore(PartitionStore):
    """Plain-parquet realization: per-month directory renames on a
    filesystem with atomic rename (local disk, HDFS).

    Swap protocol per month — each step is one rename, so a crash leaves a
    state :meth:`recover` can always classify:

    1. write marker ``.swap_<month>``          (intent recorded)
    2. rename live  -> ``.old_<month>``        (set aside, NOT deleted)
    3. rename staged -> live                   (new data in)
    4. delete ``.old_<month>``                 (point of no return)
    5. delete marker

    Readers never lose the partition permanently (the old data survives as
    the aside copy until the new data is in place), but there is a brief
    window where the month is absent — this realization is NOT snapshot
    isolated; that is exactly what a transactional table format buys at
    cluster scale. For the same reason it cannot pin a read version: a
    writer appending to a month between a compaction's read and its swap
    loses those rows when the old directory is set aside and deleted —
    do NOT run rename-protocol maintenance concurrently with writers
    (stop the stream, or adopt the table into the transactional store,
    which detects exactly this and raises ``ConcurrentSwapError``).
    """

    def replace_months(
        self,
        table_path: str,
        staging_path: str,
        months: list[str],
        base: object | None = None,
    ) -> None:
        root = Path(table_path)
        staging = Path(staging_path)
        for month in months:
            live = root / f"event_month={month}"
            staged = staging / f"event_month={month}"
            aside = root / f".old_{month}"
            marker = root / f".swap_{month}"
            marker.touch()
            if live.exists():
                live.rename(aside)
            if staged.exists():
                staged.rename(live)
            if aside.exists():
                shutil.rmtree(aside)
            marker.unlink()

    def drop_months(self, table_path: str, cutoff_month: str) -> list[str]:
        root = Path(table_path)
        dropped = []
        for p in sorted(root.glob("event_month=*")):
            month = p.name.split("=", 1)[1]
            if month < cutoff_month:
                shutil.rmtree(p)
                dropped.append(month)
        return dropped

    def recover(self, table_path: str) -> list[str]:
        root = Path(table_path)
        recovered = []
        for marker in sorted(root.glob(".swap_*")):
            month = marker.name[len(".swap_") :]
            live = root / f"event_month={month}"
            aside = root / f".old_{month}"
            if aside.exists():
                if live.exists():
                    # crash after step 3: new data is in -> roll forward
                    shutil.rmtree(aside)
                else:
                    # crash between steps 2 and 3: staged rename never
                    # happened -> roll back to the old data
                    aside.rename(live)
            # no aside: crash before step 2 (nothing moved) or after
            # step 4 (swap complete) — table is consistent either way
            marker.unlink()
            recovered.append(month)
        return recovered


def compact(
    spark: SparkSession,
    table_path: str,
    months: list[str] | None = None,
    keep: str = "latest",
    store: PartitionStore | None = None,
) -> list[str]:
    """`OPTIMIZE TABLE ... FINAL` equivalent
    (`initial-load/scripts/04-optimize-tables.sql:26-48`): rewrite the given
    month partitions with duplicates removed.

    keep='latest'  -> one row per entity (window dedup, M1);
    keep='events'  -> drop only replayed duplicate event ids.

    The rewrite goes to a dot-prefixed temp dir (invisible to parquet
    readers) and is then swapped in for every month that was READ — not
    just every month that produced output. Dynamic partition overwrite
    alone is wrong here: an entity whose survivor lands in month B leaves
    its superseded month-A row in place if no other survivor lands in A,
    because A is never among the written partitions. Months read are the
    months that must be replaced (or removed, when fully deduped away).
    Untouched months' files are never rewritten. The physical swap is the
    ``store``'s job; the default is resolved per-table by
    :func:`resolve_store` — transactional for ``_txn_log``-adopted
    tables (the recommended protocol; see that function's migration
    note), rename-swap for plain ones.
    """
    import time
    import uuid

    store = store or resolve_store(table_path)
    store.recover(table_path)  # finish anything a crashed compact left
    # begin_rewrite pins the snapshot the swap must be based on: a
    # streaming batch landing in an affected month AFTER this read is an
    # interfering commit the swap must refuse (ConcurrentSwapError), not
    # a file set to silently remove
    df, rewrite_base = store.begin_rewrite(spark, table_path)
    if months:
        df = df.filter(F.col("event_month").isin(months))
    # str() guard: on a session WITHOUT the package's
    # partitionColumnTypeInference.enabled=false (get_spark sets it;
    # a user's own session may not), 'yyyyMM' partition values infer as
    # INT — and an int month never matches the str months the txn log's
    # remove-set check derives from file paths, so the swap would add
    # the compacted generation without removing the old one:
    # silent double-counting
    affected = [
        str(r[0]) for r in df.select("event_month").distinct().collect()
    ]
    deduped = latest_events(df) if keep == "latest" else dedup_exact_events(df)
    # run-unique staging dir: two concurrent compactions (a scheduled
    # maintenance_cycle racing a manual run) sharing one fixed temp path
    # would overwrite each other's staged output — the loser would then
    # see its months as "fully deduped away" and commit their REMOVAL.
    # The swap-conflict detection (ConcurrentSwapError / rename recover)
    # only protects the live table, never the staging area.
    tmp = Path(table_path) / f".compact_tmp-{uuid.uuid4().hex[:12]}"
    # a crashed compaction's staging dir is invisible to readers (dot-
    # prefixed) but would linger forever now that names are unique;
    # reap stale ones past a conservative age
    cutoff = time.time() - 3600.0
    for stale in Path(table_path).glob(".compact_tmp-*"):
        try:
            if stale.stat().st_mtime <= cutoff:
                shutil.rmtree(stale, ignore_errors=True)
        except FileNotFoundError:
            pass  # a concurrent compact reaped it first
    try:
        (
            deduped.repartition("event_month")
            .sortWithinPartitions("event_timestamp", "event_id")
            .write.mode("overwrite")
            .partitionBy("event_month")
            .parquet(str(tmp))
        )
        store.replace_months(table_path, str(tmp), affected, base=rewrite_base)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return sorted(affected)


def table_stats(
    spark: SparkSession,
    table_path: str,
    store: PartitionStore | None = None,
) -> DataFrame:
    """Per-month-partition size/row reporting — the analogue of the
    reference's `system.parts` queries with `formatReadableSize` and its
    compressed-vs-uncompressed ratio report
    (`initial-load/scripts/04-optimize-tables.sql:174-203,225-241`):
    (event_month, n_rows, n_files, total_bytes, readable_size,
    compression_ratio), sorted by month.

    Scale shape: file counts/bytes come from the filesystem's metadata
    listing through the Hadoop FileSystem API (works unchanged on HDFS/S3A
    — the same O(files) metadata read `system.parts` does); row counts are
    a ``groupBy(partition_col).count()`` whose ReadSchema is empty, i.e.
    satisfied from parquet footers without touching data pages; the
    compression ratio sums each column chunk's
    ``total_compressed_size / total_uncompressed_size`` from the parquet
    footers via a DISTRIBUTED ``mapInPandas`` over the file list (one
    footer read per file on the executors — the driver never opens a
    file, so 10^5 files parallelize instead of serializing).

    The default store is resolved per-table (:func:`resolve_store`): on
    a ``_txn_log``-adopted table the report automatically covers exactly
    the live snapshot's files (a plain directory walk would double-count
    superseded generations awaiting vacuum).
    """
    import pandas as pd

    from neo4j_to_clickhouse_spark.functions.scalar import human_readable_size

    store = store or resolve_store(table_path)
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(table_path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    live = store.live_files(table_path)
    part_rows = []
    file_rows = []
    if live is not None:
        # one listStatus per live MONTH directory, filtered to the
        # snapshot's file set — driver RPCs are O(months), not the
        # O(files) serial getFileStatus round-trips that would undercut
        # the distributed footer read at 10^5 files
        live_set = set(live)
        months = sorted({rel.split("=", 1)[1].split("/", 1)[0] for rel in live})
        by_month: dict[str, list] = {}
        for month in months:
            month_path = jvm.org.apache.hadoop.fs.Path(
                f"{table_path}/event_month={month}"
            )
            for status in fs.listStatus(month_path):
                rel = f"event_month={month}/{status.getPath().getName()}"
                if rel not in live_set:
                    continue  # superseded generation awaiting vacuum
                agg = by_month.setdefault(month, [0, 0])
                agg[0] += 1
                agg[1] += status.getLen()
                file_rows.append((month, status.getPath().toString()))
        part_rows = [(m, n, b) for m, (n, b) in sorted(by_month.items())]
    else:
        for status in fs.listStatus(hpath):
            name = status.getPath().getName()
            if not (status.isDirectory() and name.startswith("event_month=")):
                continue
            month = name.split("=", 1)[1]
            n_files = 0
            total = 0
            for f in fs.listStatus(status.getPath()):
                if f.isFile() and not f.getPath().getName().startswith(
                    ("_", ".")
                ):
                    n_files += 1
                    total += f.getLen()
                    # Full URI, scheme included — .toUri().getPath() would
                    # strip file:/hdfs:/s3a: (and the bucket), breaking the
                    # executor-side footer reads anywhere but local disk.
                    file_rows.append((month, f.getPath().toString()))
            part_rows.append((month, n_files, total))
    sizes = spark.createDataFrame(
        part_rows, "event_month string, n_files int, total_bytes long"
    )

    def footer_sizes(batches):
        import pyarrow.parquet as pq
        from pyarrow import fs as pafs

        for pdf in batches:
            comp, uncomp = [], []
            for path in pdf["path"]:
                # Resolve the filesystem from the URI so the footer read
                # works on file:/hdfs:/s3a: alike; bare paths (no scheme)
                # fall back to local.
                if "://" in path or path.startswith("file:"):
                    filesystem, local = pafs.FileSystem.from_uri(path)
                else:
                    filesystem, local = pafs.LocalFileSystem(), path
                with filesystem.open_input_file(local) as fh:
                    md = pq.ParquetFile(fh).metadata
                c = u = 0
                for rg in range(md.num_row_groups):
                    row_group = md.row_group(rg)
                    for ci in range(row_group.num_columns):
                        col = row_group.column(ci)
                        c += col.total_compressed_size
                        u += col.total_uncompressed_size
                comp.append(c)
                uncomp.append(u)
            yield pd.DataFrame(
                {
                    "event_month": pdf["event_month"],
                    "compressed": comp,
                    "uncompressed": uncomp,
                }
            )

    ratios = (
        spark.createDataFrame(file_rows, "event_month string, path string")
        .mapInPandas(
            footer_sizes,
            "event_month string, compressed long, uncompressed long",
        )
        .groupBy("event_month")
        .agg(
            F.round(
                F.sum("compressed")
                / F.greatest(F.sum("uncompressed"), F.lit(1)),
                4,
            ).alias("compression_ratio")
        )
    )
    counts = (
        store.read(spark, table_path)
        .groupBy("event_month")
        .agg(F.count("*").alias("n_rows"))
    )
    return (
        counts.join(F.broadcast(sizes), "event_month")
        .join(F.broadcast(ratios), "event_month")
        .withColumn("readable_size", human_readable_size("total_bytes"))
        .select(
            "event_month",
            "n_rows",
            "n_files",
            "total_bytes",
            "readable_size",
            "compression_ratio",
        )
        .orderBy("event_month")
    )


def maintenance_cycle(
    spark: SparkSession,
    table_path: str,
    keep: str = "events",
    retention_cutoff: str | None = None,
    vacuum_retain_versions: int = 2,
    vacuum_min_age_s: float = 3600.0,
    max_swap_retries: int = 3,
    store: PartitionStore | None = None,
) -> dict:
    """One scheduled maintenance pass — the operational composition the
    reference runs as `OPTIMIZE TABLE ... FINAL` + `ALTER TABLE ...
    DELETE` + background part cleanup (`04-optimize-tables.sql`,
    `README.md:582-584`), in the order that keeps each step cheap:

    1. ``recover()`` — finish anything a crashed swap left (no-op on
       transactional stores);
    2. ``apply_retention`` FIRST when a cutoff is given — dropping
       whole months is O(metadata), and everything dropped is a month
       the compaction then never has to rewrite;
    3. ``compact(keep=...)`` — with a bounded retry on
       :class:`~neo4j_to_clickhouse_spark.operators.txn_store.ConcurrentSwapError`:
       a streaming micro-batch landing in a month mid-swap invalidates
       the swap's removes, and the correct response (re-run the
       compaction against the new snapshot) is exactly a retry. Without
       this loop every caller re-implements it;
    4. ``vacuum`` — transactional stores only: reclaim superseded
       generations and logically-dropped months past the age guards.
       The defaults (keep 2 versions, 1 h age) are safe under live
       readers and writers; a dedicated maintenance window can pass 1/0.

    Returns a report dict: ``compacted_months``, ``dropped_months``,
    ``vacuumed_files``, ``swap_retries``. Store resolution is sticky
    per :func:`resolve_store` when none is passed.
    """
    from neo4j_to_clickhouse_spark.operators.txn_store import (
        ConcurrentSwapError,
        TxnLogPartitionStore,
        vacuum,
    )

    store = store or resolve_store(table_path)
    report: dict = {
        "recovered_months": store.recover(table_path),
        "dropped_months": [],
        "compacted_months": [],
        "vacuumed_files": 0,
        "swap_retries": 0,
    }
    if retention_cutoff is not None:
        report["dropped_months"] = apply_retention(
            spark, table_path, retention_cutoff, store=store
        )
    while True:
        try:
            report["compacted_months"] = compact(
                spark, table_path, keep=keep, store=store
            )
            break
        except ConcurrentSwapError:
            if report["swap_retries"] >= max_swap_retries:
                raise
            report["swap_retries"] += 1
    if isinstance(store, TxnLogPartitionStore):
        report["vacuumed_files"] = len(
            vacuum(
                table_path,
                retain_versions=vacuum_retain_versions,
                min_age_s=vacuum_min_age_s,
            )
        )
    return report


def retention_months(now_month: str, days: int = 90) -> str:
    """Cutoff month (yyyyMM) for a retention window ending `days` before
    the given month — months strictly older can be dropped wholesale."""
    year, month = int(now_month[:4]), int(now_month[4:])
    back = max(1, round(days / 30))
    month -= back
    while month <= 0:
        month += 12
        year -= 1
    return f"{year:04d}{month:02d}"


def apply_retention(
    spark: SparkSession,
    table_path: str,
    cutoff_month: str,
    store: PartitionStore | None = None,
) -> list[str]:
    """M3: `ALTER TABLE ... DELETE WHERE event_timestamp < cutoff`
    (`README.md:582-584`) realized as month-partition drops — O(metadata),
    no data rewrite, the same trick ClickHouse's monthly partitioning
    enables. Returns the dropped partition names. Default store per
    :func:`resolve_store` (transactional on adopted tables: the drop is
    then a metadata-only logical delete until vacuum)."""
    return (store or resolve_store(table_path)).drop_months(
        table_path, cutoff_month
    )
