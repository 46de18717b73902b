"""Session-factory defaults: the generated-code class cache holds the
engine's working set, and the driver heap is sized from the host."""

from __future__ import annotations

from pyspark.sql import functions as F

from neo4j_to_clickhouse_spark.session import driver_mem


def _compiles(spark) -> int:
    cg = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cg.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_outlasts_spark_default(spark):
    """More than Spark's default 100 distinct generated classes, then
    the first of them again: a re-planned query reuses its compiled
    class instead of recompiling it. Each plan inlines its own int
    literal, so each generates distinct code."""

    def run(i: int) -> None:
        # a fresh plan each call; executing the physical plan compiles
        # its whole-stage code on the driver (the RDD is left unrun)
        df = spark.range(0, 1, 1, 1).select(
            # literals no other test inlines, so every first run compiles
            (F.col("id") * 7919 + (9_100_000 + i)).alias("x")
        )
        df._jdf.queryExecution().executedPlan().execute()

    before = _compiles(spark)
    for i in range(110):
        run(i)
    assert _compiles(spark) - before >= 110
    rerun = _compiles(spark)
    for i in range(15):
        run(i)
    assert _compiles(spark) == rerun


def test_driver_mem_is_a_quarter_of_memtotal(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    meminfo = (
        "MemTotal:       16456384 kB\n"
        "MemFree:        14691036 kB\n"
        "MemAvailable:   15926612 kB\n"
    )
    assert driver_mem(meminfo) == "4017m"
    # MemTotal is found by name, not by line position
    assert driver_mem("MemFree: 1 kB\nMemTotal: 134217728 kB\n") == "32768m"
    # a tiny host still gets a usable heap
    assert driver_mem("MemTotal: 1048576 kB\n") == "1024m"
    # unreadable text falls back
    assert driver_mem("garbage\n") == "2g"
    assert driver_mem("MemTotal: lots kB\n") == "2g"


def test_driver_mem_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "6g")
    assert driver_mem("MemTotal: 134217728 kB\n") == "6g"
