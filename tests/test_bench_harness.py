"""Smoke tests for the bench harness (VERDICT r10 items 3+4): the
headline set carries the broadened shapes, every registry name resolves,
and the self-archive path is derivable so a bench run always leaves a
complete JSON in docs/evidence regardless of driver stdout truncation.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from neo4j_to_clickhouse_spark.plans import QUERIES
from neo4j_to_clickhouse_spark.plans.queries import _WINDOW_ROUND


def test_headline_queries_resolve_in_registry():
    missing = [n for n in bench.BENCH_QUERIES if n not in QUERIES]
    assert missing == []


def test_headline_set_covers_broadened_shapes():
    # window family, as-of carry join, Arrow multimodal probe, and the
    # maintenance rewrite each hold a standing wall-time row
    for name in ("sessionization", "asof_user_state", "multimodal_probe_stats"):
        assert name in bench.BENCH_QUERIES, name
    assert bench.BENCH_MAINTENANCE == ["maintenance_compact"]


def test_evidence_path_is_round_stamped(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")  # the record's core count
    p = bench._evidence_path(str(tmp_path))
    assert p == str(
        tmp_path / "docs" / "evidence" / f"BENCH_r{_WINDOW_ROUND}_local.json"
    )
    # a smoke run at another SF must not clobber the sf0.1 record
    p2 = bench._evidence_path(str(tmp_path), "0.001")
    assert p2.endswith(f"BENCH_r{_WINDOW_ROUND}_sf0.001_local.json")


def test_evidence_path_names_the_core_count(tmp_path, monkeypatch):
    """An 8-core run must not overwrite the 32-core record."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    full = bench._evidence_path(str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    c8 = bench._evidence_path(str(tmp_path))
    assert c8 != full
    assert c8.endswith(f"BENCH_r{_WINDOW_ROUND}_cpus8_local.json")
    assert bench._evidence_path(str(tmp_path), "0.001").endswith(
        f"BENCH_r{_WINDOW_ROUND}_sf0.001_cpus8_local.json"
    )


def test_archive_writes_payload(tmp_path, capsys):
    target = tmp_path / "docs" / "evidence" / "BENCH.json"
    bench._archive('{"runs": [1]}', str(target))
    assert target.read_text() == '{"runs": [1]}\n'
    assert capsys.readouterr().out == ""  # stdout is the contract's


def test_archive_failure_sends_payload_to_stderr(tmp_path, capsys):
    """An OSError on the archive write must not lose the record: the
    full payload goes to stderr, and stdout stays empty for the
    contract line the bench prints last."""
    blocker = tmp_path / "docs"
    blocker.write_text("a file where the evidence directory belongs")
    bench._archive('{"runs": [1]}', str(blocker / "evidence" / "B.json"))
    out = capsys.readouterr()
    assert out.out == ""
    assert "evidence archive failed" in out.err
    assert out.err.rstrip().endswith('{"runs": [1]}')


def test_bm25_index_jobs_shape(spark):
    """The indexed-BM25 job persists the term-bucket index once in
    setup; its timed run scores the standing query set off the pruned
    postings and returns the per-query top-k row count — repeatable
    (the index is read-only)."""
    jobs = bench._bm25_index_jobs(spark, "/root/testdata/sf0.001")
    assert [j[0] for j in jobs] == ["bm25_indexed_query"]
    _, prepare, run_once = jobs[0]
    prepare(spark)
    n = run_once(spark)
    assert n > 0
    assert run_once(spark) == n


def test_minhash_probe_and_classifier_prod_jobs_execute(spark):
    """Every EXTRA bench job must actually run once under test — a
    name/import slip inside a job body otherwise survives to the real
    bench run (caught live in r13: an F reference without its import
    inside _classifier_prod_jobs)."""
    for maker in (
        bench._minhash_probe_jobs,
        bench._classifier_prod_jobs,
        bench._classifier_broadcast_jobs,
        bench._bpe_prod_jobs,
    ):
        jobs = maker(spark, "/root/testdata/sf0.001")
        for name, prepare, run_once in jobs:
            prepare(spark)
            n = run_once(spark)
            assert n > 0, name
            assert run_once(spark) == n, name


def test_maintenance_jobs_shape(spark, tmp_path):
    """The compact job stages a real month-partitioned table and its
    timed run returns the affected-month count (>0 on the sf0.001
    events fixture)."""
    jobs = bench._maintenance_jobs(spark, "/root/testdata/sf0.001")
    assert [j[0] for j in jobs] == ["maintenance_compact"]
    name, prepare, run_once = jobs[0]
    prepare(spark)
    months = run_once(spark)
    assert months > 0
    # a second prepare() restores a fresh copy: compact is repeatable
    prepare(spark)
    assert run_once(spark) == months
