"""Benchmark/testdata table loading and SQL view registration."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neo4j_to_clickhouse_spark.schemas import TESTDATA_TABLES
from neo4j_to_clickhouse_spark.session import ensure_session_time_confs


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test-data parquet table (TESTDATA.md)."""
    if name == "events":
        # The fixtures are regenerated from time to time and the `ts`
        # physical type has varied: TIMESTAMP(NANOS) (only readable as a
        # raw int64 via nanosAsLong), timestamp[us] (read as
        # TIMESTAMP_NTZ), or a plain TIMESTAMP. Adapt to whatever is on
        # disk and normalize to ONE canonical type — TIMESTAMP (LTZ)
        # under a UTC session zone — so downstream epoch arithmetic and
        # the DuckDB oracle (naive TIMESTAMP, same wall clock) agree.
        # Conf application lives in session.ensure_session_time_confs
        # (idempotent; needed only for sessions not built by get_spark).
        ensure_session_time_confs(spark)
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts", "")
        if ts_type in ("bigint", "long"):
            # legacy nanos-as-int64: truncate to micros, byte-identical
            # to DuckDB's nanos->TIMESTAMP truncation
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        elif ts_type != "timestamp":
            # TIMESTAMP_NTZ (or date/string): under a UTC session zone
            # this cast is a pure re-tag of the same wall clock
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Load and register each table as a temp view for ``spark.sql`` use —
    the engine's interactive analytics surface (SURVEY.md §3.3).
    """
    tables = {n: load_table(spark, sf_dir, n) for n in names}
    for n, df in tables.items():
        df.createOrReplaceTempView(n)
    return tables
