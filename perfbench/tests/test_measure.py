"""The percentile rule, self times and the result record."""

import json

import measure
import run as bench_run


def test_percentile_needs_ten_samples_beyond():
    assert measure.percentile(list(range(19)), 50) is None  # 9 beyond
    assert measure.percentile(list(range(20)), 50) == 9  # 10 beyond
    assert measure.beyond(list(range(20)), 50) == 10
    assert measure.percentile(list(range(99)), 90) is None  # 9 beyond p90
    assert measure.percentile(list(range(100)), 90) == 89  # 10 beyond


def test_percentile_counts_groups_not_values():
    values = list(range(200))
    five_batches = [v % 5 for v in values]
    assert measure.percentile(values, 50) == 99
    assert measure.percentile(values, 50, five_batches) is None
    assert measure.beyond(values, 50, five_batches) == 5
    per_value = list(range(200))
    assert measure.percentile(values, 50, per_value) == 99


def test_ties_at_the_percentile_are_not_beyond():
    assert measure.beyond([1.0] * 30 + [2.0] * 5, 50) == 5


def test_self_time_subtracts_children():
    tracer = measure.Tracer(True, "t")
    tracer.spans = [
        measure.Span("outer", 0.0, 10.0, None, "t"),
        measure.Span("inner", 2.0, 5.0, 0, "t"),
        measure.Span("inner", 4.0, 6.0, 0, "t"),
    ]
    self_s = tracer.self_times()
    assert self_s["outer"] == 6.0  # 10 - the [2, 6] the children cover
    assert self_s["inner"] == 5.0


def test_failed_result_write_dumps_payload(tmp_path, monkeypatch, capsys):
    blocker = tmp_path / "file"
    blocker.write_text("")
    monkeypatch.setattr(bench_run, "RESULTS_DIR", str(blocker / "results"))
    payload = {"workload": "w", "seed": 3, "trace": 0, "started": 0.0,
               "host_before": {"nproc": 4}, "e2e": {"setup_s": 1.5}}
    assert bench_run.write_result(payload) is None
    err = capsys.readouterr().err.strip().splitlines()
    assert json.loads(err[-1]) == payload


def test_result_names_never_collide(tmp_path, monkeypatch):
    monkeypatch.setattr(bench_run, "RESULTS_DIR", str(tmp_path))
    base = {"workload": "w", "trace": 0, "started": 0.0, "e2e": {}}
    paths = {
        bench_run.write_result({**base, "seed": seed, "host_before": {"nproc": n}})
        for seed in (1, 2) for n in (4, 8)
    }
    assert len(paths) == 4
