"""Tiny-scale smoke run of every workload on one Spark session: the
correctness gate passes and every per-layer metric is reported."""

import os

import pytest

import gen
import measure
import run as bench_run
import spec
import workloads

TINY = gen.Scale(nodes=200, rels=400, backlog=600, eps=400)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    env = dict(os.environ)
    session = bench_run.start_spark(str(tmp_path_factory.mktemp("spark")))
    yield session
    bench_run.stop_spark(session)
    os.environ.clear()
    os.environ.update(env)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_tiny_workload_is_correct(spark, tmp_path, name):
    workload, _ = workloads.WORKLOADS[name]
    run = workloads.Run(spark, measure.Tracer(True, name, spark), str(tmp_path), 5,
                        3.0, TINY)
    try:
        workload(run)
    finally:
        for proc in run.procs:
            proc.kill()
            proc.wait()
        workloads.stop_streams(run)
    assert run.problems == []
    assert run.attempted > 0 and run.failed == 0
    assert all(run.e2e[n] > 0 for n, *_ in spec.END_TO_END)
    layers = bench_run.layer_metrics(run, spark)
    assert set(layers) == {m["name"] for m in spec.per_layer()}
    assert layers["self_s.setup"] > 0
    if name == "registry_mix":
        assert layers["task_cpu_s.plans.queries"] > 0
    else:
        assert layers["streaming.pipeline.batches"] > 0
        assert layers["bench.latency_mean_s"] > 0
        assert layers["task_cpu_s.streaming.pipeline"] > 0
    if name == "graph_queries_under_ingest":
        assert layers["task_cpu_s.operators.ingest"] > 0
