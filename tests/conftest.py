"""Shared fixtures: one local SparkSession per test run + CDC envelope corpus.

The envelope corpus covers the fixture requirements of FIXTURES.md §1:
CREATE/UPDATE/DELETE for nodes and relationships, multi-label nodes,
property removal, malformed JSON, duplicate event ids, and identical
millisecond timestamps (tie-break coverage).
"""

from __future__ import annotations

import json
import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
# The session's 48g driver-heap default is sized for the 128 GiB bench
# host; on a ~15 GiB machine the JVM heap outgrows host memory mid-suite
# and the kernel kills it, failing every later test. The fixtures are
# tiny, so a small heap keeps the whole suite on one live JVM.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

from neo4j_to_clickhouse_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield spark


def _env(eid, op, kind, element, ts, labels=None, before=None, after=None,
         rel_type=None, start=None, end=None):
    ev = {
        "operation": op,
        "eventType": kind,
        "elementId": element,
        "state": {
            "before": {"properties": json.dumps(before)} if before is not None else None,
            "after": {"properties": json.dumps(after)} if after is not None else None,
        },
    }
    if labels is not None:
        ev["labels"] = labels
    if rel_type is not None:
        ev["type"] = rel_type
        ev["start"] = {"elementId": start}
        ev["end"] = {"elementId": end}
    return json.dumps(
        {"id": eid, "metadata": {"txStartTime": {"TZDT": ts}}, "event": ev}
    )


# 6 node events over 3 entities + 1 malformed + 1 duplicated id.
NODE_ENVELOPES = [
    _env("n-001", "CREATE", "NODE_EVENT", "4:abc:1", "2026-02-14T05:58:36.100+00:00",
         labels=["Person"], after={"name": "Alice", "age": 30}),
    _env("n-002", "CREATE", "NODE_EVENT", "4:abc:2", "2026-02-14T05:58:36.200+00:00",
         labels=["Company", "Organization"],  # multi-label
         after={"name": "Acme", "founded": 1999, "employees": 100}),
    # same-millisecond timestamp pair on entity 1 -> event_id must tie-break
    _env("n-003", "UPDATE", "NODE_EVENT", "4:abc:1", "2026-02-14T05:58:36.300+00:00",
         labels=["Person"], before={"name": "Alice", "age": 30},
         after={"name": "Alice", "age": 31, "city": "Berlin"}),
    _env("n-004", "UPDATE", "NODE_EVENT", "4:abc:1", "2026-02-14T05:58:36.300+00:00",
         labels=["Person"], before={"name": "Alice", "age": 31, "city": "Berlin"},
         after={"name": "Alice", "age": 31}),  # property removal (city gone)
    _env("n-005", "CREATE", "NODE_EVENT", "4:abc:3", "2026-03-01T00:00:00.000+00:00",
         labels=["Product"], after={"name": "Widget", "price": 99.99, "inStock": True}),
    _env("n-006", "DELETE", "NODE_EVENT", "4:abc:3", "2026-03-02T00:00:00.000+00:00",
         labels=["Product"], before={"name": "Widget", "price": 99.99, "inStock": True}),
    "{this is not json",                     # -> quarantine
    _env("n-005", "CREATE", "NODE_EVENT", "4:abc:3", "2026-03-01T00:00:00.000+00:00",
         labels=["Product"], after={"name": "Widget", "price": 99.99, "inStock": True}),  # dup id
]

REL_ENVELOPES = [
    _env("r-001", "CREATE", "RELATIONSHIP_EVENT", "5:rel:1",
         "2026-02-14T06:00:00.000+00:00", rel_type="KNOWS",
         start="4:abc:1", end="4:abc:2", after={"since": 2020}),
    _env("r-002", "UPDATE", "RELATIONSHIP_EVENT", "5:rel:1",
         "2026-02-14T06:00:01.000+00:00", rel_type="KNOWS",
         start="4:abc:1", end="4:abc:2",
         before={"since": 2020}, after={"since": 2020, "strength": "close"}),
    _env("r-003", "CREATE", "RELATIONSHIP_EVENT", "5:rel:2",
         "2026-03-01T06:00:00.000+00:00", rel_type="WORKS_AT",
         start="4:abc:1", end="4:abc:2",
         after={"position": "Engineer", "benefits": ["health", "dental"]}),
    _env("r-004", "DELETE", "RELATIONSHIP_EVENT", "5:rel:2",
         "2026-03-05T06:00:00.000+00:00", rel_type="WORKS_AT",
         start="4:abc:1", end="4:abc:2",
         before={"position": "Engineer", "benefits": ["health", "dental"]}),
]


@pytest.fixture(scope="session")
def node_raw(spark):
    return spark.createDataFrame([(s,) for s in NODE_ENVELOPES], ["raw"])


@pytest.fixture(scope="session")
def rel_raw(spark):
    return spark.createDataFrame([(s,) for s in REL_ENVELOPES], ["raw"])
