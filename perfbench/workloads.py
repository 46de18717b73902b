"""The benchmark's workloads, driven through the engine's public functions.

Each workload function takes a :class:`Run` and fills ``run.e2e`` (the
end-to-end metrics), ``run.layers`` (per-layer metrics) and the
``attempted``/``failed`` counters. Engine imports are deferred to call
time so that importing this module needs nothing but the standard
library; ``run.py`` puts the checkout on ``sys.path`` first.
"""

from __future__ import annotations

import json
import math
import os
import signal
import subprocess
import sys
import threading
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field

import gen
import measure
import spec

# live streams run micro-batches back to back. On 4 cores a batch beside
# the query client costs 1.2-1.9 s, and a 1-second trigger grid rounds
# each cycle up to whole seconds, so latency jumped between ~1.3 and
# ~1.9 s from run to run as batches fell either side of 1 s
TRIGGER = "0 seconds"
# the visibility poller takes commit times from the log, not from when it
# polls, so it polls slowly: at 20 polls/s it competed with the streams'
# batch callbacks for the driver's interpreter lock, and the latency
# spread over five seeds fell from 21% to 11% at 2 polls/s
POLL_S = 0.5
DRAIN_TIMEOUT_S = 60.0
# the stream is planned for this long and stopped when the query client
# returns, after a warm-up pass and the measured passes (~30 s on 4 cores)
STREAM_CAP_S = 60.0
_T0 = time.time()


def own_cpu_s(run: "Run") -> float:
    """CPU seconds so far of this process and its descendants (the Spark
    JVM and its Python workers), the load generator excepted."""
    gens = {proc.pid for proc in run.procs}
    return measure.cpu_s([p for p in measure.process_tree() if p not in gens])


def log(msg: str) -> None:
    """Progress on stderr, stamped with seconds since import."""
    print(f"[perfbench {time.time() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


KINDS = ("node", "rel")

QUERY_MIX = (
    ("current_state", "operators.latest_state"),
    ("duplicate_entities", "operators.latest_state"),
    ("count_by_type", "operators.analytics"),
    ("degree_topk", "operators.analytics"),
    ("events_in_range", "operators.analytics"),
    ("latest_n", "operators.analytics"),
    ("json_extract_string", "functions.json"),
    ("two_hop", "operators.graph"),
)


@dataclass
class Run:
    """State of one benchmark run: the session, the tracer, the scratch
    directory and everything measured so far."""

    spark: object
    tracer: measure.Tracer
    work: str
    seed: int
    seconds: float
    scale: gen.Scale
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    rss: measure.Rss = field(default_factory=measure.Rss)
    procs: list = field(default_factory=list)  # generator Popen handles
    queries: list = field(default_factory=list)  # live StreamingQuery objects
    # Spark job group of each stream (its run id) -> the layer it serves
    stream_layer: dict = field(default_factory=dict)
    samples: dict = field(default_factory=lambda: defaultdict(list))
    sample_counts: dict = field(default_factory=dict)  # metric -> n, beyond

    def timed(self, key: str, layer: str, **attrs):
        """Context manager: a span named ``layer`` around the call, and
        its wall time appended to ``samples[key]``."""
        return _Timed(self, key, layer, attrs)

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.problems.append(what)


class _Timed:
    def __init__(self, run: Run, key: str, layer: str, attrs: dict):
        self.run, self.key, self.layer, self.attrs = run, key, layer, attrs

    def __enter__(self):
        self.cm = self.run.tracer.span(self.layer, **self.attrs)
        self.cm.__enter__()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.elapsed = time.perf_counter() - self.t0
        self.run.samples[self.key].append(self.elapsed)
        return self.cm.__exit__(*exc)


# -- table layout ----------------------------------------------------------


class Tables:
    """Directories of one set-up: the two transaction-logged event tables,
    their quarantines, stream checkpoints and live source directories."""

    def __init__(self, root: str):
        self.root = root
        for kind in ("node", "rel"):
            for part in ("table", "quarantine", "src"):
                os.makedirs(self.path(kind, part), exist_ok=True)

    def path(self, kind: str, part: str) -> str:
        return os.path.join(self.root, f"{kind}_{part}")

    def checkpoint(self, kind: str, phase: str) -> str:
        return os.path.join(self.root, f"{kind}_ckpt_{phase}")


def _start_stream(run: Run, tables: Tables, kind: str, src: str, phase: str,
                  trigger: str | None, coalesce: int | None = None):
    from neo4j_to_clickhouse_spark.operators.txn_store import TxnLogPartitionStore
    from neo4j_to_clickhouse_spark.sources.envelopes import read_envelope_file
    from neo4j_to_clickhouse_spark.streaming.pipeline import (
        StreamConfig,
        start_node_stream,
        start_relationship_stream,
    )

    config = StreamConfig(
        table_path=tables.path(kind, "table"),
        quarantine_path=tables.path(kind, "quarantine"),
        checkpoint_path=tables.checkpoint(kind, phase),
        processing_time=trigger,
        coalesce_output=coalesce,
        store=TxnLogPartitionStore(),
    )
    start = start_node_stream if kind == "node" else start_relationship_stream
    query = start(read_envelope_file(run.spark, src, streaming=True), config)
    run.queries.append(query)
    # a stream runs its jobs under its own run id, not the caller's group
    run.stream_layer[str(query.runId)] = (
        "operators.ingest" if phase == "catchup" else "streaming.pipeline")
    return query


def stop_streams(run: Run) -> None:
    for q in run.queries:
        try:
            q.stop()
        except Exception as err:  # a failed stream must not mask the run
            run.problems.append(f"stream stop: {err}")
    run.queries.clear()


# -- bulk load: snapshot -> catch-up -> maintenance ------------------------


def per_table(fn) -> list:
    """``fn(kind)`` for the node and the relationship table at once, as
    two Spark client threads that inherit this thread's job group; returns
    the results in ``KINDS`` order and re-raises the first error."""
    from pyspark import InheritableThread

    out, errors = {}, []

    def call(kind):
        try:
            out[kind] = fn(kind)
        except BaseException as err:  # re-raised below, in the caller
            errors.append(err)

    threads = [InheritableThread(call, args=(kind,)) for kind in KINDS]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return [out[kind] for kind in KINDS]


class Inputs:
    """Everything the set-up reads, made before it is timed: the graph,
    the snapshot CSVs and catch-up backlog files under ``root``, and the
    warm-up tick; ``truth`` is the tables' ground truth after the bulk
    load (snapshot, backlog, maintenance) and the warm-up tick."""

    def __init__(self, run: Run, root: str):
        self.root = root
        self.graph = gen.Graph(run.seed, run.scale)
        self.truth = gen.Truth()
        self.warm = gen.Stream(self.graph, run.seed, phase="w").tick(
            0, ts=gen.STREAM_EPOCH_MS - 1000)
        for kind, text in zip(KINDS, gen.snapshot_csvs(self.graph)):
            os.makedirs(self.path(kind, "snapshot"))
            gen.write_file(self.path(kind, "snapshot"), "export.csv", text)
        self.truth.add_snapshot(self.graph)
        run.samples["snapshot.rows"].append(self.rows())
        for kind, files in gen.backlog(self.graph, run.seed).items():
            os.makedirs(self.path(kind, "backlog"))
            for i, evs in enumerate(files):
                gen.write_file(self.path(kind, "backlog"), f"part-{i:03d}.ndjson",
                               gen.render(evs))
                for ev in evs:
                    self.truth.add(ev)
        run.samples["maintenance.rows_before"].append(self.rows())
        self.truth.maintain()
        run.samples["maintenance.rows_after"].append(self.rows())
        for evs in self.warm.values():
            for ev in evs:
                self.truth.add(ev)

    def path(self, kind: str, part: str) -> str:
        return os.path.join(self.root, f"{kind}_{part}")

    def rows(self) -> int:
        return self.truth.count("node") + self.truth.count("rel")


def bulk_load(run: Run, tables: Tables, inputs: Inputs) -> None:
    """Snapshot load, catch-up drain and a maintenance cycle, each stage on
    both tables at once."""
    from neo4j_to_clickhouse_spark.operators.maintenance import maintenance_cycle
    from neo4j_to_clickhouse_spark.operators.txn_store import (
        TxnLogPartitionStore,
        ensure_log,
        snapshot,
    )
    from neo4j_to_clickhouse_spark.sources.snapshot import (
        load_node_snapshot,
        load_relationship_snapshot,
        write_events,
    )
    from neo4j_to_clickhouse_spark.streaming.pipeline import drain

    def load(kind):
        table = tables.path(kind, "table")
        reader = load_node_snapshot if kind == "node" else load_relationship_snapshot
        write_events(reader(run.spark, inputs.path(kind, "snapshot")), table)
        ensure_log(table)

    with run.timed("snapshot.load_s", "sources.snapshot"):
        per_table(load)

    with run.timed("ingest.catchup_s", "operators.ingest"):
        qs = [
            _start_stream(run, tables, kind, inputs.path(kind, "backlog"), "catchup", None)
            for kind in KINDS
        ]
        for q in qs:
            drain(q, DRAIN_TIMEOUT_S)
    run.queries[:] = [q for q in run.queries if q not in qs]

    with run.timed("maintenance.cycle_s", "operators.maintenance"):
        reports = per_table(lambda kind: maintenance_cycle(
            run.spark, tables.path(kind, "table"), keep="latest",
            retention_cutoff=gen.RETENTION_CUTOFF,
            vacuum_retain_versions=1, vacuum_min_age_s=0.0,
            store=TxnLogPartitionStore(),
        ))
    for key, value in (
        ("maintenance.swap_retries", sum(r["swap_retries"] for r in reports)),
        ("maintenance.dropped_months", sum(len(r["dropped_months"]) for r in reports)),
        ("maintenance.compacted_months", sum(len(r["compacted_months"]) for r in reports)),
        ("txn_store.vacuum_files", sum(r["vacuumed_files"] for r in reports)),
    ):
        run.samples[key].append(value)
    for kind in KINDS:
        snapshot(tables.path(kind, "table"))  # the tables must resolve


# -- the live stream and its visibility poller ------------------------------


class Poller(threading.Thread):
    """Polls ``txn_store.snapshot()`` of both tables (metadata only, no
    Spark job). A file counts as visible from the commit that added it:
    the moment its log entry was linked in, read from the entry's change
    time. Its event ids are read with pyarrow and each stream event's
    latency is (visible time - due time)."""

    def __init__(self, run: Run, tables: Tables, due_of: dict, t0: float):
        super().__init__(daemon=True)
        self.bench, self.tables, self.due_of, self.t0 = run, tables, due_of, t0
        self.seen = {k: set() for k in ("node", "rel")}
        self.version = {}
        self.latency: list[float] = []
        self.due: list[float] = []
        self.batch_of: list[str] = []
        self.visible_at: dict[str, float] = {}  # batch tag -> first seen
        self.ids = {k: Counter() for k in ("node", "rel")}
        self.file_ids: dict[tuple, list] = {}  # (kind, file) -> event ids
        self.lock = threading.Lock()
        self.bytes_added = 0
        self.files_added = 0
        self.snapshot_ms: list[float] = []
        self.window_start = math.inf
        self.cpu_at_window = 0.0
        self.stop_flag = threading.Event()
        self.error: BaseException | None = None

    def prime(self) -> None:
        """Mark everything already live as seen (set-up and warm-up)."""
        from neo4j_to_clickhouse_spark.operators.txn_store import snapshot

        for kind in ("node", "rel"):
            v, files = snapshot(self.tables.path(kind, "table"))
            self.version[kind] = v
            self.seen[kind].update(files)

    def ids_of(self, kind: str, rel: str) -> list:
        """Event ids in one committed data file (files are immutable, so
        each is read once, by whichever thread needs it first)."""
        import pyarrow.parquet as pq

        key = (kind, rel)
        with self.lock:
            ids = self.file_ids.get(key)
        if ids is None:
            path = os.path.join(self.tables.path(kind, "table"), rel)
            ids = pq.read_table(path, columns=["event_id"]).column(0).to_pylist()
            with self.lock:
                self.file_ids[key] = ids
        return ids

    def poll_once(self) -> None:
        from neo4j_to_clickhouse_spark.operators.txn_store import LOG_DIR, snapshot

        for kind in ("node", "rel"):
            table = self.tables.path(kind, "table")
            t = time.perf_counter()
            with self.bench.tracer.span("operators.txn_store", spark_group=False,
                                           call="snapshot"):
                v, files = snapshot(table)
            self.snapshot_ms.append((time.perf_counter() - t) * 1000)
            for version in range(self.version[kind] + 1, v + 1):
                live = files if version == v else snapshot(table, version)[1]
                # a commit's log entry is written aside and linked in, so
                # its change time is when the commit became visible
                entry = os.path.join(table, LOG_DIR, f"{version:020d}.json")
                self.add_files(kind, live, os.stat(entry).st_ctime)
            self.version[kind] = v

    def add_files(self, kind: str, live: list, at: float) -> None:
        table = self.tables.path(kind, "table")
        for rel in live:
            if rel in self.seen[kind]:
                continue
            self.seen[kind].add(rel)
            self.files_added += 1
            self.bytes_added += os.path.getsize(os.path.join(table, rel))
            tag = f"{kind}:{rel.rsplit('/', 1)[-1].split('gen-')[0]}"
            self.visible_at.setdefault(tag, at)
            for eid in self.ids_of(kind, rel):
                self.ids[kind][eid] += 1
                due = self.due_of.get(eid)
                if due is not None:
                    self.latency.append(at - due)
                    self.due.append(due)
                    self.batch_of.append(tag)

    def open_window(self) -> float:
        """Start the measured window now; returns its start."""
        self.cpu_at_window = own_cpu_s(self.bench)
        self.window_start = time.time()
        return self.window_start

    def window_only(self) -> None:
        """Keep the latencies of events due in the window."""
        keep = [i for i, due in enumerate(self.due) if due >= self.window_start]
        self.latency = [self.latency[i] for i in keep]
        self.batch_of = [self.batch_of[i] for i in keep]
        self.due = [self.due[i] for i in keep]

    def run(self) -> None:  # noqa: D401 - threading.Thread entry point
        try:
            while not self.stop_flag.is_set():
                self.poll_once()
                self.bench.rss.sample()
                time.sleep(POLL_S)
        except BaseException as err:  # reported by the main thread
            self.error = err


def _spawn_generator(run: Run, tables: Tables, ticks: int, t0: float):
    cmd = [
        sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen.py"),
        "--seed", str(run.seed), "--scale", json.dumps(run.scale.__dict__),
        "--ticks", str(ticks), "--t0", repr(t0),
        "--node-dir", tables.path("node", "src"),
        "--rel-dir", tables.path("rel", "src"),
    ]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    run.procs.append(proc)
    return proc


def _warm_up(run: Run, tables: Tables, inputs: Inputs):
    """Land one warm-up tick per topic and wait until both are visible:
    the first micro-batch pays one-time codegen and worker start-up."""
    from neo4j_to_clickhouse_spark.operators.txn_store import snapshot

    start = {k: snapshot(tables.path(k, "table"))[0] for k in KINDS}
    for kind in KINDS:
        gen.write_file(tables.path(kind, "src"), "warmup.ndjson",
                       gen.render(inputs.warm[kind]))
    deadline = time.time() + DRAIN_TIMEOUT_S
    while any(snapshot(tables.path(k, "table"))[0] == start[k] for k in KINDS):
        if time.time() > deadline:
            raise TimeoutError("warm-up tick never became visible")
        time.sleep(POLL_S)


def setup(run: Run) -> tuple[Tables, Inputs]:
    """Make the inputs (untimed), then the timed set-up: bulk-loaded
    tables and both live streams started and warmed; ``setup_s`` is its
    wall time."""
    inputs = Inputs(run, os.path.join(run.work, "inputs"))
    t = time.perf_counter()
    with run.tracer.span("setup"):
        tables = Tables(os.path.join(run.work, "tables"))
        bulk_load(run, tables, inputs)
        # tables that serve queries coalesce each micro-batch to one file
        # per month: otherwise every commit adds one file per input file,
        # and read cost climbs so fast that it depends on when a query runs
        for kind in KINDS:
            _start_stream(run, tables, kind, tables.path(kind, "src"), "live", TRIGGER, 1)
        _warm_up(run, tables, inputs)
    run.e2e["setup_s"] = time.perf_counter() - t
    run.rss.sample()
    log(f"setup: {run.e2e['setup_s']:.2f}s")
    return tables, inputs


def stream_phase(run: Run, tables: Tables, inputs: Inputs, client) -> dict:
    """Run the generator at ``run.scale.eps`` (open loop) while
    ``client(open_window)`` runs in this thread; the client calls
    ``open_window()`` (which returns the time) when its measured window
    starts, and the generator is stopped when it returns. Then wait until
    every planted event is visible and stop the streams. Latency and CPU
    cover the window. Returns the stream-side measurements."""
    ticks = int(STREAM_CAP_S * 1000 / gen.TICK_MS)
    stream = gen.Stream(inputs.graph, run.seed)
    planned = [stream.tick(k) for k in range(ticks)]
    t0 = time.time() + 0.5
    due_of = {
        ev["id"]: t0 + (ev["ts"] - gen.STREAM_EPOCH_MS) / 1000
        for evs_of in planned for evs in evs_of.values()
        for ev in evs if "reason" not in ev
    }
    poller = Poller(run, tables, due_of, t0)
    poller.prime()
    versions0 = dict(poller.version)
    truth = inputs.truth
    pinned = PinnedTruth(truth, planned, poller)
    spark0 = measure.spark_totals(run.spark)
    proc = _spawn_generator(run, tables, ticks, t0)
    poller.start()
    log(f"stream phase: {ticks} ticks planned at {run.scale.eps} events/s")
    try:
        client(poller.open_window)
        proc.send_signal(signal.SIGTERM)
        out, _ = proc.communicate(timeout=(ticks + 1) * gen.TICK_MS / 1000 + DRAIN_TIMEOUT_S)
        run.procs.remove(proc)
        gen_report = json.loads(out)
        written = planned[:gen_report["ticks"]]
        if len(written) == ticks:
            log("the query client outlasted the planned stream")
        expect = Counter()
        for evs_of in written:
            for kind, evs in evs_of.items():
                for ev in evs:
                    truth.add(ev)
                    expect[kind] += "reason" not in ev
        deadline = time.time() + DRAIN_TIMEOUT_S
        while poller.error is None and time.time() < deadline and any(
            sum(poller.ids[k].values()) < expect[k] for k in KINDS
        ):
            time.sleep(POLL_S)
        t_end = max(poller.visible_at.values(), default=time.time())
        log(f"drained {len(written)} ticks: last batch visible {t_end - t0:.2f}s after tick 0")
        cpu = own_cpu_s(run) - poller.cpu_at_window
        _quiesce(run)
    finally:
        poller.stop_flag.set()
        poller.join(timeout=10)
    if poller.error is not None:
        raise poller.error
    poller.window_only()
    spark_delta = measure.diff(measure.spark_totals(run.spark), spark0)
    progress = {q.name: list(q.recentProgress) for q in run.queries}
    stop_streams(run)
    raw = sum(
        os.path.getsize(os.path.join(tables.path(k, "src"), f))
        for k in KINDS for f in os.listdir(tables.path(k, "src"))
        if f.startswith("tick-")
    )
    return {
        "poller": poller, "t0": t0, "t_window": poller.window_start, "t_end": t_end,
        "offered": gen_report["offered"],
        "window_events": sum(
            len(evs) for k, evs_of in enumerate(written)
            if t0 + k * gen.TICK_MS / 1000 >= poller.window_start for evs in evs_of.values()),
        "late_ms": gen_report["late_ms"], "cpu_s": cpu, "spark": spark_delta,
        "progress": progress, "versions0": versions0, "raw_bytes": raw,
        "pinned": pinned,
    }


class PinnedTruth:
    """Ground truth as of the table versions a query read: the rows live
    before the stream phase plus the stream rows of every data file
    committed since, looked up by event id."""

    def __init__(self, truth: gen.Truth, planned: list, poller: Poller):
        self.base = {k: list(rows) for k, rows in truth.rows.items()}
        probe = gen.Truth()
        for evs_of in planned:
            for evs in evs_of.values():
                for ev in evs:
                    probe.add(ev)
        self.row_of = {r[0]: r for rows in probe.rows.values() for r in rows}
        self.primed = {k: set(poller.seen[k]) for k in ("node", "rel")}
        self.poller = poller
        self.cache: dict = {}  # consecutive queries often read one version

    def answers(self, files: dict) -> dict:
        key = tuple(tuple(sorted(live)) for live in files.values())
        if key not in self.cache:
            t = gen.Truth()
            for kind, live in files.items():
                t.rows[kind] = self.base[kind] + [
                    self.row_of[eid]
                    for rel in live if rel not in self.primed[kind]
                    for eid in self.poller.ids_of(kind, rel)
                ]
            self.cache[key] = t.answers()
        return self.cache[key]


def _quiesce(run: Run) -> None:
    """Wait until no stream is mid-trigger, so the last batch's
    quarantine write has landed before the streams stop."""
    deadline = time.time() + DRAIN_TIMEOUT_S
    for q in run.queries:
        while q.status.get("isTriggerActive") or q.status.get("isDataAvailable"):
            if time.time() > deadline:
                return
            time.sleep(POLL_S)


# -- query mix ---------------------------------------------------------------


def run_query(run: Run, name: str, layer: str, tables: Tables, versions: dict):
    """One query of the mix on a fresh snapshot read at ``versions``
    (kind -> txn-log version), cache-cold; returns its result in the
    shape of :meth:`gen.Truth.answers`."""
    from pyspark.sql import functions as F

    from neo4j_to_clickhouse_spark.functions.json import json_extract_string
    from neo4j_to_clickhouse_spark.operators import analytics, graph, latest_state
    from neo4j_to_clickhouse_spark.operators.txn_store import read_table

    def ts(ms: int) -> str:
        return gen.iso_ms(ms)[:23].replace("T", " ")

    run.spark.catalog.clearCache()
    with run.timed(f"query.{name}", layer, query=name):
        with run.timed("txn_store.read_table", "operators.txn_store", call="read_table"):
            nodes = read_table(run.spark, tables.path("node", "table"), versions["node"])
            if name in ("degree_topk", "two_hop"):
                rels = read_table(run.spark, tables.path("rel", "table"), versions["rel"])
        if name == "current_state":
            rows = (latest_state.current_state(nodes)
                    .select(F.explode("labels").alias("label"))
                    .groupBy("label").count().collect())
            return sorted([r[0], r[1]] for r in rows)
        if name == "duplicate_entities":
            return sorted(r[0] for r in latest_state.duplicate_entities(nodes).collect())
        if name == "count_by_type":
            return sorted([r[0], r[1]] for r in analytics.count_by_type(nodes).collect())
        if name == "degree_topk":
            rows = analytics.degree_topk(
                latest_state.current_state(nodes), latest_state.current_state(rels),
                k=gen.DEGREE_K).collect()
            return [[r[0], r[1]] for r in rows]
        if name == "events_in_range":
            return analytics.events_in_range(
                nodes, start=ts(gen.RANGE_START_MS), end=ts(gen.RANGE_END_MS)).count()
        if name == "latest_n":
            return [r[0] for r in analytics.latest_n(nodes, n=gen.LATEST_N)
                    .select("event_id").collect()]
        if name == "json_extract_string":
            return (latest_state.current_state(nodes)
                    .filter(json_extract_string("properties_after", "tier") == "gold")
                    .count())
        return graph.two_hop(nodes, rels).count()


def check_tables(run: Run, tables: Tables, truth: gen.Truth) -> None:
    """The correctness gate after the final drain: the event-id multiset
    of every live file and the quarantine counts by reason, against
    ground truth. Every planted row counts as attempted; each lost,
    unplanned or wrongly quarantined row as failed. Files are read with
    pyarrow, exactly the set ``txn_store.snapshot()`` lists."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from neo4j_to_clickhouse_spark.operators.txn_store import snapshot

    for kind in ("node", "rel"):
        table = tables.path(kind, "table")
        got, snaps = Counter(), 0
        for rel in snapshot(table)[1]:
            t = pq.read_table(os.path.join(table, rel), columns=["event_id", "event_type"])
            for eid, etype in zip(t.column(0).to_pylist(), t.column(1).to_pylist()):
                if etype == "SNAPSHOT":
                    snaps += 1
                else:
                    got[eid] += 1
        want = truth.event_ids(kind)
        want_snaps = truth.count(kind) - sum(want.values())
        lost = sum((want - got).values())
        extra = sum((got - want).values()) + abs(snaps - want_snaps)
        run.attempted += truth.count(kind)
        if lost or extra:
            run.fail(f"{kind} events: {lost} lost, {extra} unplanned", lost + extra)
        quarantine = ds.dataset(tables.path(kind, "quarantine"), format="parquet")
        got_q = Counter(
            quarantine.to_table(columns=["reason"]).column(0).to_pylist()
            if quarantine.files else []
        )
        want_q = truth.quarantine[kind]
        run.attempted += sum(want_q.values())
        wrong = sum(((got_q - want_q) + (want_q - got_q)).values())
        if wrong:
            run.fail(f"{kind} quarantine {dict(got_q)} != {dict(want_q)}", wrong)
        for reason in gen.REASONS:
            key = f"operators.ingest.quarantined.{reason}"
            run.layers[key] = run.layers.get(key, 0) + got_q.get(reason, 0)
    log("events and quarantine checked")


# -- per-layer metrics -----------------------------------------------------


def _epoch(iso: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def stream_layers(run: Run, st: dict, tables: Tables) -> None:
    """streaming.pipeline / txn_store / ingest / gen / spark metrics of
    the measured stream phase, plus the micro-batch spans."""
    from neo4j_to_clickhouse_spark.operators.txn_store import snapshot

    L, p = run.layers, st["poller"]
    batches = []  # (kind, batch id, start, duration_ms, progress)
    for name, progress in st["progress"].items():
        kind = "node" if name.startswith("node") else "rel"
        for pr in progress:
            start = _epoch(pr["timestamp"])
            if pr.get("numInputRows", 0) > 0 and start >= st["t_window"]:
                dur = pr["durationMs"]
                batches.append((kind, pr["batchId"], start, dur, pr))
                run.tracer.add("streaming.pipeline", start,
                               start + dur.get("triggerExecution", 0) / 1000,
                               query=name, batch=pr["batchId"],
                               rows=pr.get("numInputRows", 0))

    def col(key):
        return [b[3].get(key, 0) for b in batches]

    wall = max(st["t_end"] - st["t_window"], 1e-9)
    L["streaming.pipeline.batches"] = len(batches)
    L["streaming.pipeline.trigger_ms_p50"] = measure.median(col("triggerExecution"))
    L["streaming.pipeline.trigger_ms_mean"] = sum(col("triggerExecution")) / max(len(batches), 1)
    L["streaming.pipeline.add_batch_ms_p50"] = measure.median(col("addBatch"))
    L["streaming.pipeline.add_batch_ms_mean"] = sum(col("addBatch")) / max(len(batches), 1)
    L["streaming.pipeline.latest_offset_ms_p50"] = measure.median(col("latestOffset"))
    L["streaming.pipeline.wal_commit_ms_p50"] = measure.median(col("walCommit"))
    L["streaming.pipeline.rows_per_batch_p50"] = measure.median(
        [b[4].get("numInputRows", 0) for b in batches])
    L["streaming.pipeline.busy_share"] = sum(col("triggerExecution")) / 1000 / (2 * wall)

    # trigger wait vs in-batch time: events wait from due to their batch's
    # trigger start, then the batch runs; the per-batch spans should
    # account for the median latency minus the mean trigger wait
    start_of = {}
    for kind, bid, start, dur, _ in batches:
        start_of[f"{kind}:batch-{'node_cdc_ingest' if kind == 'node' else 'rel_cdc_ingest'}~{bid:09d}-"] = start
    waits = [start_of[b] - (lat_end - lat) for b, lat, lat_end in (
        (g, lat, p.visible_at[g]) for g, lat in zip(p.batch_of, p.latency)) if b in start_of]
    mean_wait = sum(waits) / len(waits) if waits else 0.0
    mean_span = L["streaming.pipeline.trigger_ms_mean"] / 1000
    lat50 = L["streaming.pipeline.visible_p50_s"]
    L["streaming.pipeline.trigger_wait_s_mean"] = mean_wait
    L["streaming.pipeline.span_gap_share"] = (
        abs((lat50 - mean_wait) - mean_span) / lat50 if lat50 else 0.0)

    live_end = 0
    log_bytes = 0
    commits = 0
    for kind in ("node", "rel"):
        table = tables.path(kind, "table")
        v, files = snapshot(table)
        live_end += len(files)
        commits += v - st["versions0"][kind]
        log = os.path.join(table, "_txn_log")
        log_bytes += sum(os.path.getsize(os.path.join(log, f)) for f in os.listdir(log))
    L["operators.txn_store.commits"] = commits
    L["operators.txn_store.files_added"] = p.files_added
    L["operators.txn_store.live_files_end"] = live_end
    L["operators.txn_store.log_bytes"] = log_bytes
    L["operators.txn_store.write_amp"] = p.bytes_added / max(st["raw_bytes"], 1)
    L["operators.txn_store.snapshot_ms_p50"] = measure.median(p.snapshot_ms)
    L["operators.ingest.rows_in"] = st["offered"]
    L["operators.ingest.rows_out"] = sum(sum(c.values()) for c in p.ids.values())
    L["gen.events_offered"] = st["offered"]
    L["gen.late_ms_max"] = max(st["late_ms"], default=0.0)
    for k, v in st["spark"].items():
        L[f"spark.{k}"] = v


def common_layers(run: Run) -> None:
    """Layer metrics taken from timed calls (medians over the run)."""
    S, L = run.samples, run.layers

    def med(key, scale=1.0):
        return measure.median(S.get(key, [])) * scale

    L["operators.txn_store.read_table_ms_p50"] = med("txn_store.read_table", 1000)
    L["operators.txn_store.vacuum_files"] = med("txn_store.vacuum_files")
    L["sources.snapshot.load_s"] = med("snapshot.load_s")
    L["sources.snapshot.rows"] = med("snapshot.rows")
    L["operators.ingest.catchup_s"] = med("ingest.catchup_s")
    for key in ("cycle_s", "compacted_months", "dropped_months", "rows_before",
                "rows_after", "swap_retries"):
        L[f"operators.maintenance.{key}"] = med(f"maintenance.{key}")
    for name, layer in QUERY_MIX:
        L[f"{layer}.{name}_s"] = med(f"query.{name}")
    for reason in gen.REASONS:
        L.setdefault(f"operators.ingest.quarantined.{reason}", 0)


# -- workloads -----------------------------------------------------------


def _latency(run: Run, p: Poller) -> None:
    """Event visibility latency over the window: the mean is an
    end-to-end metric; the median is reported per layer, from
    micro-batches as the independent samples."""
    run.layers["bench.latency_mean_s"] = sum(p.latency) / len(p.latency)
    p50 = measure.percentile(p.latency, 50, p.batch_of)
    if p50 is None:
        log("fewer than 10 micro-batches beyond the latency median")
        p50 = measure.median(p.latency)
    run.layers["streaming.pipeline.visible_p50_s"] = p50
    run.sample_counts["visible_p50_s"] = {
        "events": len(p.latency), "batches": len(set(p.batch_of)),
        "beyond": measure.beyond(p.latency, 50, p.batch_of),
    }


def graph_queries_under_ingest(run: Run) -> None:
    """Closed loop, one client, no think time, over the 8-query mix on
    bulk-loaded tables while the generator streams 500 events/s into
    them. Each query reads the versions current when it starts; after
    the run it is checked against the ground truth of exactly those
    versions."""
    from neo4j_to_clickhouse_spark.operators.txn_store import snapshot

    tables, inputs = setup(run)
    latencies: dict[str, list[float]] = defaultdict(list)
    results = []  # (name, files read, result or None)

    def query(name: str, layer: str, measured: bool) -> None:
        files, versions = {}, {}
        for kind in KINDS:
            versions[kind], files[kind] = snapshot(tables.path(kind, "table"))
        t = time.perf_counter()
        try:
            got = run_query(run, name, layer, tables, versions)
        except Exception as err:  # a raising query is a failed query
            run.fail(f"query {name} raised {type(err).__name__}: {err}")
            got = None
        if measured:
            latencies[name].append(time.perf_counter() - t)
        results.append((name, files, got))
        run.rss.sample()

    def client(open_window) -> None:
        """One warm-up pass of the mix (a query's first run in the session
        pays its codegen), then whole measured passes until one ends
        ``run.seconds`` or more after the window opened."""
        run.spark.sparkContext.setLocalProperty("spark.scheduler.pool", "queries")
        for name, layer in QUERY_MIX:
            query(name, layer, measured=False)
        deadline = open_window() + run.seconds
        while True:
            for name, layer in QUERY_MIX:
                query(name, layer, measured=True)
            if time.time() >= deadline:
                return

    st = stream_phase(run, tables, inputs, client)
    pinned = st["pinned"]
    for name, files, got in results:
        run.attempted += 1
        want = pinned.answers(files)[name]
        if got is not None and got != want:
            run.fail(f"query {name}: {str(got)[:200]} != {str(want)[:200]}")
    # whole passes of the mix, so every query weighs the same
    mix_s = sum(sum(v) / len(v) for v in latencies.values())
    run.layers["bench.throughput_per_s"] = len(QUERY_MIX) / mix_s
    run.sample_counts["queries"] = {n: len(v) for n, v in latencies.items()}
    log("query latencies: " + json.dumps({n: [round(x, 3) for x in v] for n, v in latencies.items()}))
    check_tables(run, tables, inputs.truth)
    run.e2e["cpu_s_per_op"] = st["cpu_s"] / (st["window_events"] / 1000)
    run.layers["bench.peak_rss_mb"] = run.rss.peak
    _latency(run, st["poller"])
    stream_layers(run, st, tables)
    common_layers(run)


# -- registry rows -------------------------------------------------------

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REGISTRY_SF = "0.002"  # the smallest fixture on which the dedup rows find pairs
# the rows round scores to 6 decimals, and the two engines may round a
# value on a rounding tie either way (seen on bm25_multi_query_topk)
FLOAT_TOL = 1.5e-6


def check_tool():
    """``tools/check_correctness.py``, whose ``norm_cell`` is the
    repository's exact, type-tagged normal form of a result cell."""
    import importlib.util

    path = os.path.join(ROOT, "tools", "check_correctness.py")
    loader = importlib.util.spec_from_file_location("check_correctness", path)
    module = importlib.util.module_from_spec(loader)
    loader.loader.exec_module(module)
    return module


def canon_rows(rows, norm_cell) -> list:
    """Rows as sorted (exact cells, float cells) pairs: every other cell
    in ``norm_cell`` form, floats kept for :func:`same_rows`."""
    return sorted(
        (tuple(norm_cell(v) for v in r if not isinstance(v, float)),
         tuple(v for v in r if isinstance(v, float)))
        for r in rows
    )


def same_rows(got: list, want: list) -> bool:
    """Whether two :func:`canon_rows` lists hold the same rows, floats
    equal within ``FLOAT_TOL`` (relative above 1)."""
    return len(got) == len(want) and all(
        g[0] == w[0] and len(g[1]) == len(w[1]) and all(
            abs(a - b) <= FLOAT_TOL * max(1.0, abs(a), abs(b))
            for a, b in zip(g[1], w[1]))
        for g, w in zip(got, want)
    )


def _oracle_answers(fixture: str, norm_cell) -> dict:
    """Every registry row's DuckDB ``oracle_sql()`` answer on the fixture:
    (column names, :func:`canon_rows`)."""
    import duckdb

    from neo4j_to_clickhouse_spark.plans import QUERIES
    from neo4j_to_clickhouse_spark.schemas import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture}/{t}.parquet'")
    out = {}
    for name in spec.REGISTRY_ROWS:
        tbl = con.execute(QUERIES[name].oracle).fetch_arrow_table()
        cols = tbl.column_names
        out[name] = (cols, canon_rows(([row[c] for c in cols] for row in tbl.to_pylist()),
                                      norm_cell))
    con.close()
    return out


def registry_mix(run: Run) -> None:
    """Closed loop, one client, over ``spec.REGISTRY_ROWS`` of
    ``plans.QUERIES`` on the sf``REGISTRY_SF`` fixture that
    ``tools/gen_sf_fixture.py`` draws from the seed, each row cache-cold
    and checked against its DuckDB oracle. Set-up is the rows' first pass
    in the fresh session, where each row pays its Python worker start-up,
    imports and codegen; the measured pass runs each row once more."""
    from neo4j_to_clickhouse_spark.plans import QUERIES

    norm_cell = check_tool().norm_cell
    fixture = os.path.join(run.work, "fixture")
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "gen_sf_fixture.py"),
         REGISTRY_SF, fixture, str(run.seed)],
        check=True, stdout=subprocess.DEVNULL,
    )
    want = _oracle_answers(fixture, norm_cell)

    def row(name: str) -> None:
        run.spark.catalog.clearCache()
        run.attempted += 1
        try:
            df = QUERIES[name].spark(run.spark, fixture)
            got = (df.columns, canon_rows(df.collect(), norm_cell))
        except Exception as err:  # a raising row is a failed row
            got = err
        run.rss.sample()
        if not (isinstance(got, tuple) and got[0] == want[name][0]
                and same_rows(got[1], want[name][1])):
            run.fail(f"registry row {name}: spark {str(got)[:200]} "
                     f"!= oracle {str(want[name])[:200]}")

    t = time.perf_counter()
    with run.tracer.span("setup"):
        for name in spec.REGISTRY_ROWS:
            row(name)
    run.e2e["setup_s"] = time.perf_counter() - t
    log(f"setup: {run.e2e['setup_s']:.2f}s")

    spark0 = measure.spark_totals(run.spark)
    cpu0 = own_cpu_s(run)
    took = []
    for name in spec.REGISTRY_ROWS:
        with run.timed(f"registry.{name}", "plans.queries", query=name) as timed:
            row(name)
        took.append(timed.elapsed)
    run.e2e["cpu_s_per_op"] = (own_cpu_s(run) - cpu0) / len(took)
    for k, v in measure.diff(measure.spark_totals(run.spark), spark0).items():
        run.layers[f"spark.{k}"] = v
    run.layers["bench.throughput_per_s"] = len(took) / sum(took)
    run.layers["bench.latency_mean_s"] = sum(took) / len(took)
    run.layers["bench.peak_rss_mb"] = run.rss.peak
    for name, t in zip(spec.REGISTRY_ROWS, took):
        run.layers[f"plans.queries.{name}_s"] = t
    log("registry rows: " + json.dumps(
        {n: round(t, 3) for n, t in zip(spec.REGISTRY_ROWS, took)}))


# The bulk load of graph_queries_under_ingest, sized from the time budget
# and measured rates on 4 cores. A run's share of the budget is 3,420 s
# over 48 runs, 71 s; keeping a fifth of it for a busy host leaves ~57 s.
# The fixed part of a run is ~50 s (session start ~10 s, the cold
# set-up's per-job cost ~19 s, a warm-up and a measured pass of the query
# mix ~17 s, drain and checks ~4 s). Each input row costs ~40 us to generate in
# Python (~25K rows/s) and ~18 us to load (set-ups of 6K and 70K rows
# took 6.7 and 7.8 s warm: ~55K rows/s, near the 50K events/s measured
# for batch ingest), so the remaining ~7 s holds ~120K rows: 45K snapshot
# rows and a 60K-envelope backlog, which drains in about a second.
BULK_SCALE = gen.Scale(nodes=15000, rels=30000, backlog=60000, eps=500)

# workload -> (function, input sizes; registry_mix draws its own fixture)
WORKLOADS = {
    "graph_queries_under_ingest": (graph_queries_under_ingest, BULK_SCALE),
    "registry_mix": (registry_mix, gen.Scale()),
}
