"""The correctness gates: failed_share accounting of ``check_tables``, and
the registry rows' comparison with their oracle."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

import gen
import measure
import workloads
from neo4j_to_clickhouse_spark.operators.txn_store import ensure_log

GOOD = [
    {"id": f"s-1-{i:09d}", "kind": "node", "op": "UPDATE", "ts": gen.STREAM_EPOCH_MS,
     "entity": f"4:n:{i}", "labels": ("Person",), "props": {"tier": "gold"}}
    for i in range(3)
]
POISON_ID = "s-1-000000099"
POISON = {"kind": "node", "reason": "missing_entity_id",
          "line": '{"id":"%s","event":{"eventType":"NODE_EVENT"}}' % POISON_ID}


def _tables(tmp_path, table_ids, quarantined):
    tables = workloads.Tables(str(tmp_path / "t"))
    month = os.path.join(tables.path("node", "table"), "event_month=202601")
    os.makedirs(month)
    pq.write_table(
        pa.table({"event_id": table_ids, "event_type": ["UPDATE"] * len(table_ids)}),
        os.path.join(month, "part-0.parquet"),
    )
    pq.write_table(
        pa.table({"reason": pa.array(quarantined, pa.string())}),
        os.path.join(tables.path("node", "quarantine"), "part-0.parquet"),
    )
    for kind in ("node", "rel"):
        ensure_log(tables.path(kind, "table"))
    return tables


def _check(tables):
    truth = gen.Truth()
    for ev in GOOD + [POISON]:
        truth.add(ev)
    run = workloads.Run(None, measure.Tracer(False, "t"), "", 1, 1.0, gen.Scale())
    workloads.check_tables(run, tables, truth)
    return run


def test_clean_tables_fail_nothing(tmp_path):
    run = _check(_tables(tmp_path, [e["id"] for e in GOOD], ["missing_entity_id"]))
    assert (run.attempted, run.failed) == (4, 0)
    assert run.layers["operators.ingest.quarantined.missing_entity_id"] == 1


def test_poison_row_in_events_table_counts_twice(tmp_path):
    # the poison envelope was written as an event instead of quarantined:
    # one unplanned event row, and one planted quarantine row missing
    run = _check(_tables(tmp_path, [e["id"] for e in GOOD] + [POISON_ID], []))
    assert (run.attempted, run.failed) == (4, 2)
    assert run.failed / run.attempted == 0.5
    assert len(run.problems) == 2


def test_registry_rows_match_within_rounding_only():
    norm_cell = workloads.check_tool().norm_cell
    oracle = workloads.canon_rows([("q3", 2, 0.510289, 2), ("q1", 5, 0.9, 1)], norm_cell)

    def same(rows):
        return workloads.same_rows(workloads.canon_rows(rows, norm_cell), oracle)

    assert same([("q1", 5, 0.9, 1), ("q3", 2, 0.51029, 2)])  # a rounding tie
    assert not same([("q1", 5, 0.9, 1), ("q3", 2, 0.51031, 2)])
    assert not same([("q1", 5, 0.9, 1), ("q3", 3, 0.510289, 2)])
    assert not same([("q1", 5, 0.9, 1)])
