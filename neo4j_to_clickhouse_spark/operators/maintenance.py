"""Maintenance jobs: compaction, dedup-materialize, retention (SURVEY.md §2.9).

ClickHouse gets these from the MergeTree engine (`OPTIMIZE TABLE ... FINAL`,
`ALTER TABLE ... DELETE`); vanilla Spark+Parquet needs them as explicit —
and partition-surgical — batch rewrites. Partition-level operation is the
point: at 100 TB you never rewrite the whole table, only the month
partitions the operation touches.

Every job commits through the table's transaction log
(:mod:`~neo4j_to_clickhouse_spark.operators.txn_store`): a swap or a
retention drop is one atomic commit, readers pinned to a snapshot never
see a gap, and a compaction racing a streaming writer is refused
(``maintenance_cycle`` retries it) instead of deleting the writer's
batch. A plain Parquet table is adopted into the log (its files become
version 0) on first use.
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
from neo4j_to_clickhouse_spark.operators.txn_store import (
    ConcurrentSwapError,
    TxnLogPartitionStore,
    vacuum,
)


def compact(
    spark: SparkSession,
    table_path: str,
    months: list[str] | None = None,
    keep: str = "latest",
    store: TxnLogPartitionStore = TxnLogPartitionStore(),
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
    Untouched months' files are never rewritten. The swap is one commit
    of the ``store``, pinned to the snapshot the rewrite read.
    """
    import time
    import uuid

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
    # The swap-conflict detection (ConcurrentSwapError) only protects
    # the live table, never the staging area.
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
    store: TxnLogPartitionStore = TxnLogPartitionStore(),
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

    The report covers exactly the live snapshot's files (a plain
    directory walk would double-count superseded generations awaiting
    vacuum).
    """
    import pandas as pd

    from neo4j_to_clickhouse_spark.functions.scalar import human_readable_size

    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(table_path).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )
    # one listStatus per live MONTH directory, filtered to the snapshot's
    # file set — driver RPCs are O(months), not the O(files) serial
    # getFileStatus round-trips that would undercut the distributed
    # footer read at 10^5 files
    live = set(store.live_files(table_path))
    months = sorted({rel.split("=", 1)[1].split("/", 1)[0] for rel in live})
    by_month: dict[str, list] = {}
    file_rows = []
    for month in months:
        month_path = jvm.org.apache.hadoop.fs.Path(
            f"{table_path}/event_month={month}"
        )
        for status in fs.listStatus(month_path):
            rel = f"event_month={month}/{status.getPath().getName()}"
            if rel not in live:
                continue  # superseded generation awaiting vacuum
            agg = by_month.setdefault(month, [0, 0])
            agg[0] += 1
            agg[1] += status.getLen()
            # Full URI, scheme included — .toUri().getPath() would strip
            # file:/hdfs:/s3a: (and the bucket), breaking the
            # executor-side footer reads anywhere but local disk.
            file_rows.append((month, status.getPath().toString()))
    part_rows = [(m, n, b) for m, (n, b) in sorted(by_month.items())]
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
    store: TxnLogPartitionStore = TxnLogPartitionStore(),
) -> dict:
    """One scheduled maintenance pass — the operational composition the
    reference runs as `OPTIMIZE TABLE ... FINAL` + `ALTER TABLE ...
    DELETE` + background part cleanup (`04-optimize-tables.sql`,
    `README.md:582-584`), in the order that keeps each step cheap:

    1. ``apply_retention`` FIRST when a cutoff is given — dropping
       whole months is O(metadata), and everything dropped is a month
       the compaction then never has to rewrite;
    2. ``compact(keep=...)`` — with a bounded retry on
       :class:`~neo4j_to_clickhouse_spark.operators.txn_store.ConcurrentSwapError`:
       a streaming micro-batch landing in a month mid-swap invalidates
       the swap's removes, and the correct response (re-run the
       compaction against the new snapshot) is exactly a retry. Without
       this loop every caller re-implements it;
    3. ``vacuum`` — reclaim superseded
       generations and logically-dropped months past the age guards.
       The defaults (keep 2 versions, 1 h age) are safe under live
       readers and writers; a dedicated maintenance window can pass 1/0.

    Returns a report dict: ``compacted_months``, ``dropped_months``,
    ``vacuumed_files``, ``swap_retries``.
    """
    report: dict = {
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
    store: TxnLogPartitionStore = TxnLogPartitionStore(),
) -> list[str]:
    """M3: `ALTER TABLE ... DELETE WHERE event_timestamp < cutoff`
    (`README.md:582-584`) realized as month-partition drops — O(metadata),
    no data rewrite, the same trick ClickHouse's monthly partitioning
    enables. Returns the dropped partition names. The drop is a
    metadata-only logical delete until ``vacuum``."""
    return store.drop_months(table_path, cutoff_month)
