"""What the benchmark measures: workloads, end-to-end metrics and
per-layer metrics, each per-layer metric with the end-to-end metric and
workload it should move and where it should stay flat.

``BENCHMARK.json`` at the repository root is generated from this module
(``python3 perfbench/run.py --write-manifest``) and carries only the keys
its schema allows; the ``moves``/``on``/``flat_on`` mapping lives here.

Two workloads, run at ``local[nproc]``:

- ``graph_queries_under_ingest`` bulk-loads its tables in set-up
  (``sources.snapshot``, a catch-up drain through ``operators.ingest``,
  ``operators.maintenance``), then streams CDC envelopes into them at a
  fixed rate (``streaming.pipeline``, ``txn_store.commit_batch``) while
  one client runs the read path (``read_table``, ``latest_state``,
  ``analytics``, ``graph``, ``functions.json``).
- ``registry_mix`` runs registry rows of ``plans.QUERIES`` that reach
  ``operators.dedup`` (the three shingle rows), ``similarity``, ``lm``,
  ``classifier``, ``bpe`` and ``retrieval``.

Not measured here: a separate open-loop stream workload on empty tables
and a separate bulk-load workload. The time budget is 4 + 22 runs per
workload in 3,420 s, under 49 s a run with three workloads; on a shared
4-core host a run of the stream workload took 40-51 s, this benchmark's
graph_queries_under_ingest 47-71 s and registry_mix 36-66 s. The stream
path is measured on graph_queries_under_ingest's live stream instead,
and the bulk load is its set-up. Nor are the other registry rows of
``bench.py``.

The live streams run micro-batches back to back, and on a 4-core host
each costs 1.2-1.9 s beside the query client whatever its size, so an
event waits about one and a half batch times: event latency
(``bench.latency_mean_s``) follows per-batch cost (listing, staged
writes, txn commit, checkpoint) nearly one for one, and the batches'
CPU is part of ``cpu_s_per_op``.
"""

from __future__ import annotations

RUN_SECONDS = 6

WORKLOADS = [
    {
        "name": "graph_queries_under_ingest",
        "why": "one closed-loop client over 8 graph queries on bulk-loaded "
               "tables while 500 events/s stream in: every commit adds files "
               "each read must resolve, so write-side changes show on reads",
    },
    {
        "name": "registry_mix",
        "why": "8 registry rows (3 shingle dedup rows, knn, LM, classifier, "
               "BPE, BM25) at sf0.002, each checked against its DuckDB oracle: "
               "the curation operators no graph workload reaches",
    },
]

GQ, REG = "graph_queries_under_ingest", "registry_mix"

# (name, unit, better, bound). Every workload reports every one:
# - setup_s: the set-up in a fresh session, where first runs pay worker
#   start-up, imports and codegen: on graph_queries_under_ingest the bulk
#   load (snapshot, catch-up drain, maintenance), then both live streams
#   started and a warm-up tick visible; on registry_mix the rows' first
#   pass. One set-up per run, not a median of several: a repeat in the
#   same session would be warm, and the budget has no room for more
#   sessions (a run's share is ~71 s; session start alone is ~10 s);
# - cpu_s_per_op: CPU seconds of the driver, the Spark JVM and its Python
#   workers (from /proc, the load generator excepted) per unit of work:
#   per 1,000 events streamed in the measured window on
#   graph_queries_under_ingest, the concurrent queries' CPU included; per
#   row of the measured pass on registry_mix.
#
# Wall-clock speed is reported per layer (``bench.latency_mean_s``,
# ``bench.throughput_per_s``, ``streaming.pipeline.visible_p50_s``, each
# query's and row's time), not bounded. On the shared 4-core host this
# benchmark was built on, over ten seeds, event latency and query
# throughput spread 16-23% (quartile distance over median) and registry
# rows 18-20%, while CPU per event spread 2-4% and CPU per row of the
# measured registry pass 6-10%: slow runs used no more CPU (the slowest
# graph runs used the least), and host speed drifted from minute to
# minute with CPU steal near zero. A bound must exceed the spread and may
# not exceed 0.25, so no wall-clock bound is both safe from noise and
# tight enough to catch a regression.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("cpu_s_per_op", "s", "lower", 0.2),
]

QUERY_LAYERS = [
    ("operators.latest_state", "current_state"),
    ("operators.latest_state", "duplicate_entities"),
    ("operators.analytics", "count_by_type"),
    ("operators.analytics", "degree_topk"),
    ("operators.analytics", "events_in_range"),
    ("operators.analytics", "latest_n"),
    ("functions.json", "json_extract_string"),
    ("operators.graph", "two_hop"),
]

# rows of plans.QUERIES for registry_mix: at least one per operator
# module the graph workloads leave unmeasured
REGISTRY_ROWS = [
    "dedup_ngram_jaccard",  # operators.dedup, the three shingle rows
    "dedup_jaccard_capped",
    "dedup_minhash_lsh",
    "embedding_knn",  # operators.similarity
    "lm_quality_by_source",  # operators.lm
    "quality_classifier_stats",  # operators.classifier
    "bpe_token_count_stats",  # operators.bpe
    "bm25_multi_query_topk",  # operators.retrieval
]

TRACED_LAYERS = [
    "setup",
    "sources.snapshot",
    "operators.ingest",
    "operators.maintenance",
    "operators.txn_store",
    "streaming.pipeline",
    "operators.latest_state",
    "operators.analytics",
    "functions.json",
    "operators.graph",
    "plans.queries",
]


SETUP_LAYERS = ("setup", "sources.snapshot", "operators.ingest", "operators.maintenance")


def _moved_by(layer: str) -> tuple:
    """(end-to-end metric, workload, flat on) a traced layer's time should
    move."""
    if layer in SETUP_LAYERS:
        return "setup_s", GQ, [REG]
    if layer == "plans.queries":
        return "cpu_s_per_op", REG, [GQ]
    return "cpu_s_per_op", GQ, [REG]


def _m(name, unit, better, moves, on, flat_on=()):
    return {"name": name, "unit": unit, "better": better,
            "moves": moves, "on": on, "flat_on": list(flat_on)}


def per_layer() -> list[dict]:
    lat = tput = "cpu_s_per_op"
    pipe = "streaming.pipeline."
    out = [
        _m(pipe + "batches", "count", "higher", lat, GQ, [REG]),
        _m(pipe + "trigger_ms_p50", "ms", "lower", lat, GQ, [REG]),
        _m(pipe + "trigger_ms_mean", "ms", "lower", lat, GQ, [REG]),
        _m(pipe + "add_batch_ms_p50", "ms", "lower", lat, GQ, [REG]),
        _m(pipe + "add_batch_ms_mean", "ms", "lower", lat, GQ, [REG]),
        _m(pipe + "latest_offset_ms_p50", "ms", "lower", lat, GQ, [REG]),
        _m(pipe + "wal_commit_ms_p50", "ms", "lower", lat, GQ, [REG]),
        _m(pipe + "rows_per_batch_p50", "count", "higher", lat, GQ, [REG]),
        _m(pipe + "busy_share", "ratio", "lower", lat, GQ, [REG]),
        _m(pipe + "visible_p50_s", "s", "lower", lat, GQ, [REG]),
        _m(pipe + "trigger_wait_s_mean", "s", "lower", lat, GQ, [REG]),
        _m(pipe + "span_gap_share", "ratio", "lower", lat, GQ, [REG]),
    ]
    ts = "operators.txn_store."
    out += [
        _m(ts + "commits", "count", "lower", lat, GQ, [REG]),
        _m(ts + "files_added", "count", "lower", lat, GQ, [REG]),
        _m(ts + "live_files_end", "count", "lower", tput, GQ),
        _m(ts + "log_bytes", "bytes", "lower", lat, GQ, [REG]),
        _m(ts + "write_amp", "ratio", "lower", lat, GQ, [REG]),
        _m(ts + "snapshot_ms_p50", "ms", "lower", lat, GQ, [REG]),
        _m(ts + "read_table_ms_p50", "ms", "lower", tput, GQ),
        _m(ts + "vacuum_files", "count", "higher", "setup_s", GQ, [REG]),
    ]
    ing = "operators.ingest."
    out += [
        _m(ing + "catchup_s", "s", "lower", "setup_s", GQ, [REG]),
        _m(ing + "rows_in", "count", "higher", lat, GQ, [REG]),
        _m(ing + "rows_out", "count", "higher", lat, GQ, [REG]),
    ]
    out += [
        _m(f"{ing}quarantined.{r}", "count", "lower", lat, GQ, [REG])
        for r in ("unparseable_json", "missing_event_id", "missing_entity_id",
                  "unclassified_kind", "bad_timestamp")
    ]
    out += [
        _m("sources.snapshot.load_s", "s", "lower", "setup_s", GQ, [REG]),
        _m("sources.snapshot.rows", "count", "higher", "setup_s", GQ, [REG]),
    ]
    mt = "operators.maintenance."
    out += [
        _m(mt + "cycle_s", "s", "lower", "setup_s", GQ, [REG]),
        _m(mt + "compacted_months", "count", "lower", "setup_s", GQ, [REG]),
        _m(mt + "dropped_months", "count", "higher", "setup_s", GQ, [REG]),
        _m(mt + "rows_before", "count", "lower", "setup_s", GQ, [REG]),
        _m(mt + "rows_after", "count", "lower", tput, GQ, [REG]),
        _m(mt + "swap_retries", "count", "lower", "setup_s", GQ, [REG]),
    ]
    out += [
        _m(f"{layer}.{q}_s", "s", "lower", tput, GQ, [REG])
        for layer, q in QUERY_LAYERS
    ]
    out += [
        _m(f"plans.queries.{row}_s", "s", "lower", tput, REG, [GQ])
        for row in REGISTRY_ROWS
    ]
    out += [
        _m("spark.task_cpu_s", "s", "lower", tput, REG),
        _m("spark.shuffle_write_bytes", "bytes", "lower", tput, REG),
        _m("spark.shuffle_fetch_wait_ms", "ms", "lower", tput, GQ),
        _m("spark.spill_bytes", "bytes", "lower", tput, REG),
        _m("spark.gc_ms", "ms", "lower", tput, GQ),
        _m("bench.peak_rss_mb", "MiB", "lower", "setup_s", GQ),
        # event latency on graph_queries_under_ingest, row time on registry_mix
        _m("bench.latency_mean_s", "s", "lower", lat, GQ),
        _m("bench.throughput_per_s", "1/s", "higher", tput, GQ),
        _m("spark.jobs", "count", "lower", tput, GQ),
        _m("spark.tasks", "count", "lower", tput, GQ),
        _m("gen.late_ms_max", "ms", "lower", lat, GQ, [REG]),
        _m("gen.events_offered", "count", "higher", lat, GQ, [REG]),
    ]
    for kind in ("self_s", "task_cpu_s"):
        out += [_m(f"{kind}.{layer}", "s", "lower", *_moved_by(layer))
                for layer in TRACED_LAYERS]
    return out


def manifest() -> dict:
    """The ``BENCHMARK.json`` document."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": w["name"], "why": w["why"]} for w in WORKLOADS],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, u, b, bound in END_TO_END
        ],
        "per_layer": [
            {"name": m["name"], "unit": m["unit"], "better": m["better"]}
            for m in per_layer()
        ],
    }
