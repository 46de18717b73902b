"""Registry queries whose Spark program is their oracle SQL.

``q_sql`` specs run the oracle text through Spark SQL over temp views of
the test-data tables. These tests compare each one with DuckDB's answer
to the same text, pin the view loader's ``events.ts`` type, and pin that
a built DataFrame keeps reading the directory it was built for.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import TimestampType

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from check_correctness import norm_rows  # noqa: E402
from conftest import SF_DIR as SF  # noqa: E402

from neo4j_to_clickhouse_spark.plans.queries import QUERIES, SqlProgram  # noqa: E402
from neo4j_to_clickhouse_spark.schemas import TESTDATA_TABLES  # noqa: E402
from neo4j_to_clickhouse_spark.sources import register_views  # noqa: E402

SQL_SPECS = sorted(n for n, s in QUERIES.items() if isinstance(s.spark, SqlProgram))


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield con
    con.close()


def test_registered_events_ts_is_timestamp(spark):
    # spark.sql users must see the same events.ts type as every registry
    # program: the loader's LTZ timestamp, not the file's TIMESTAMP_NTZ
    register_views(spark, SF, ("events",))
    assert isinstance(spark.table("events").schema["ts"].dataType, TimestampType)


def test_sql_programs_match_duckdb(spark, duck):
    assert SQL_SPECS
    failures = []
    for name in SQL_SPECS:
        spec = QUERIES[name]
        df = spec.spark(spark, SF)
        tbl = duck.execute(spec.oracle).fetch_arrow_table()
        if df.columns != tbl.column_names:
            failures.append(f"{name}: columns {df.columns} != {tbl.column_names}")
            continue
        orows = [[r[c] for c in tbl.column_names] for r in tbl.to_pylist()]
        if norm_rows(df.collect()) != norm_rows(orows):
            failures.append(f"{name}: rows differ")
    assert not failures, failures


def test_built_dataframe_keeps_its_directory(spark):
    # the views are session-global and re-registered on every call, but
    # spark.sql analyzes at once: a DataFrame built for sf0.001 must keep
    # reading sf0.001 after the same spec is built for sf0.01
    large_dir = os.path.join(os.path.dirname(SF), "sf0.01")
    n_small, n_large = (
        pq.read_metadata(f"{d}/events.parquet").num_rows for d in (SF, large_dir)
    )
    assert n_small != n_large
    spec = QUERIES["global_totals"]
    small = spec.spark(spark, SF)
    large = spec.spark(spark, large_dir)
    assert small.collect()[0]["total_events"] == n_small
    assert large.collect()[0]["total_events"] == n_large
    assert small.collect()[0]["total_events"] == n_small
