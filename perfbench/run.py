"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload registry_mix --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --report            # medians, spreads, trace split
    python3 perfbench/run.py --write-manifest    # regenerate BENCHMARK.json

A run builds its inputs from ``--seed`` (``perfbench/gen.py``), drives the
engine in this checkout through its public functions
(``perfbench/workloads.py``), checks every output against plain-Python
ground truth, and prints ONE JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. Untraced runs report
the end-to-end metrics; ``--trace 1`` reports the per-layer ones, with
spans recorded around every engine call. The full record of each run
(metrics of both kinds, spans, host state before and after) is written to
``.perfbench/results/`` under a name unique to workload, seed, core count,
trace flag and start time. The exit code is 0 only when every output was
correct.

Spark runs at ``local[nproc]`` with a driver heap sized to a quarter of
the host's memory (1-4 GiB); all scratch data lives under ``.perfbench/``
in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import measure  # noqa: E402
import spec  # noqa: E402

PACKAGE = "neo4j_to_clickhouse_spark"
STATE_DIR = os.path.join(ROOT, ".perfbench")
RESULTS_DIR = os.path.join(STATE_DIR, "results")


def driver_mem() -> str:
    """A quarter of physical memory, clamped to 1-4 GiB: the engine's
    48 GiB default would overcommit a small host."""
    try:
        with open("/proc/meminfo") as fh:
            total_kb = int(fh.readline().split()[1])
    except (OSError, ValueError, IndexError):
        return "2g"
    return f"{max(1, min(4, total_kb // 4 // 2**20))}g"


def start_spark(work: str):
    nproc = os.cpu_count() or 1
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # every JVM, spark-submit's launcher too: temp files in the
        # checkout, and no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    sys.path.insert(0, ROOT)
    from neo4j_to_clickhouse_spark.session import get_spark

    spark = get_spark(
        "perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
            # streams and a query client share the application: fair
            # scheduling between their pools keeps either from queueing
            # whole jobs behind the other, as Spark advises for mixed loads
            "spark.scheduler.mode": "FAIR",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit: the gateway JVM ends on EOF of its stdin."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    _reap_descendants()


def _reap_descendants(timeout: float = 10.0) -> None:
    deadline = time.time() + timeout
    while time.time() < deadline:
        left = measure.process_tree()[1:]
        if not left:
            return
        time.sleep(0.1)
    for pid in measure.process_tree()[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def layer_metrics(run, traced_spark) -> dict:
    """Every per-layer metric of the spec; layers a workload does not
    exercise report 0. Self time and task CPU per layer come from the
    spans and the job groups they set."""
    out = dict.fromkeys((m["name"] for m in spec.per_layer()), 0.0)
    out.update({k: v for k, v in run.layers.items() if k in out})
    if run.tracer.enabled:
        for layer, t in run.tracer.self_times().items():
            if f"self_s.{layer}" in out:
                out[f"self_s.{layer}"] = t
        for group, tot in measure.spark_totals(traced_spark, by_group=True).items():
            # spans name their job group after the layer; streams run
            # under their own run id
            layer = group if group in spec.TRACED_LAYERS else run.stream_layer.get(group)
            if layer:
                out[f"task_cpu_s.{layer}"] += tot["task_cpu_s"]
    return out


def write_result(payload: dict) -> str | None:
    """Durable, never-overwriting result record; on failure the full
    payload goes to stderr so nothing measured is lost."""
    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime(payload["started"]))
    name = (f"seed{payload['seed']}-c{payload['host_before']['nproc']}-"
            f"t{payload['trace']}-{stamp}-{os.getpid()}.json")
    path = os.path.join(RESULTS_DIR, payload["workload"], name)
    try:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(payload, fh)
        os.replace(tmp, path)
        return path
    except OSError as err:
        print(f"result write failed ({err}); full payload follows", file=sys.stderr)
        print(json.dumps(payload), file=sys.stderr)
        return None


def run_workload(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"no {PACKAGE}/ beside perfbench/: nothing to benchmark", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    started = time.time()
    host_before = measure.host_state()
    work = os.path.join(STATE_DIR, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    run = None
    error = None
    try:
        spark = start_spark(work)
        tracer = measure.Tracer(bool(args.trace), uuid.uuid4().hex[:12], spark)
        workload, scale = workloads.WORKLOADS[args.workload]
        run = workloads.Run(spark, tracer, work, args.seed, args.seconds, scale)
        workload(run)
        layers = layer_metrics(run, spark)
    except Exception:
        error = traceback.format_exc()
        print(error, file=sys.stderr)
    finally:
        if run is not None:
            for proc in run.procs:
                proc.kill()
                proc.wait()
            workloads.stop_streams(run)
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    if error is not None:
        return 3
    missing = [n for n, *_ in spec.END_TO_END if run.e2e.get(n) is None]
    units = {n: u for n, u, *_ in spec.END_TO_END}
    units.update({m["name"]: m["unit"] for m in spec.per_layer()})
    shown = layers if args.trace else {n: run.e2e.get(n) for n, *_ in spec.END_TO_END}
    summary = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in shown.items()
                    if v is not None},
    }
    payload = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "started": started, "wall_s": time.time() - started,
        "host_before": host_before, "host_after": measure.host_state(),
        "driver_mem": driver_mem(), "e2e": run.e2e, "samples": run.sample_counts,
        "layers": layers,
        "failed_share": run.failed / max(run.attempted, 1),
        "problems": run.problems, "spans": run.tracer.dump(), "summary": summary,
    }
    write_result(payload)
    for problem in run.problems:
        print(f"FAILED: {problem}", file=sys.stderr)
    if missing:
        print(f"too few samples for {missing}; lengthen --seconds", file=sys.stderr)
        return 3
    print(json.dumps(summary))
    return 0 if summary["correct"] else 1


def report() -> int:
    """Per workload: end-to-end medians and quartile spreads over the
    untraced records, traced self times, and the tracing overhead (traced
    end-to-end values minus the untraced medians)."""
    out = {}
    if not os.path.isdir(RESULTS_DIR):
        print("no results yet", file=sys.stderr)
        return 1
    for workload in sorted(os.listdir(RESULTS_DIR)):
        recs = []
        for name in sorted(os.listdir(os.path.join(RESULTS_DIR, workload))):
            if name.endswith(".json"):
                with open(os.path.join(RESULTS_DIR, workload, name)) as fh:
                    recs.append(json.load(fh))
        plain = [r for r in recs if not r["trace"]]
        traced = [r for r in recs if r["trace"]]
        row = {"runs": len(plain), "traced_runs": len(traced), "e2e": {}}
        for n, *_ in spec.END_TO_END:
            vals = [r["e2e"][n] for r in plain if r["e2e"].get(n) is not None]
            if len(vals) >= 2:
                q1, med, q3 = statistics.quantiles(vals, n=4)
                row["e2e"][n] = {"median": med, "iqr_share": (q3 - q1) / med}
        if traced:
            last = traced[-1]
            row["self_s"] = {k[7:]: v for k, v in last["layers"].items()
                             if k.startswith("self_s.")}
            row["tracing_overhead"] = {
                n: last["e2e"][n] - row["e2e"][n]["median"]
                for n in row["e2e"] if last["e2e"].get(n) is not None
            }
            row["span_gap_share"] = last["layers"].get("streaming.pipeline.span_gap_share")
        out[workload] = row
    print(json.dumps(out, indent=1))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="Repository benchmark.")
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=spec.RUN_SECONDS)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--report", action="store_true")
    p.add_argument("--write-manifest", action="store_true")
    args = p.parse_args(argv)
    if args.write_manifest:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as fh:
            json.dump(spec.manifest(), fh, indent=2)
            fh.write("\n")
        return 0
    if args.report:
        return report()
    if not args.workload:
        p.error("--workload is required")
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
