"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line with per-query wall times.

Headline set: the queries that exercise every physical shape the engine
cares about — fact-table scan+agg, broadcast join chains, window dedup,
inverted-index self-join dedup, brute-force + LSH similarity, text scans.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from neo4j_to_clickhouse_spark.plans import QUERIES
from neo4j_to_clickhouse_spark.session import get_spark

BENCH_QUERIES = [
    "pricing_summary",
    "top_revenue_orders",
    "revenue_by_nation",
    "orders_per_customer_topk",
    "count_by_event_type",
    "latest_state_per_entity",
    "filter_json_path",
    "dedup_exact_docs",
    "dedup_ngram_jaccard",
    # the scale-safe headline (VERDICT r06 item 7): the capped form is
    # what survives a mass-duplicated shingle at 100x — the uncapped
    # exact form above stays benched as the oracle-baseline reference
    "dedup_jaccard_capped",
    "dedup_minhash_lsh",
    "embedding_knn",
    "text_stats_by_source",
    # round-7 additions: the two new token-stream shapes — broadcast-
    # vocab LM scoring (two scans + two small-key shuffles) and the
    # digest-keyed span self-join (the substring-dedup shuffle)
    "lm_quality_by_source",
    "repeated_span_stats",
    # the substring-dedup REWRITE: heaviest new shuffle shape of round 7
    # (span window + coverage distinct + anti-join + per-doc rebuild)
    "span_dedup_rewrite_stats",
    # round-7 wave-4 shapes: the scan-bound rule filter (pure codegen
    # expressions, zero joins) and the explode-heavy token frequency
    # head (map-combined token agg + TakeOrdered heap)
    "gopher_quality_flags",
    "token_zipf_coverage",
    # round-8 additions (VERDICT r07 item 3): the two north-star paths
    # with oracles but no recorded wall-time — the daily-ingest shape
    # (hash-store anti-join + in-batch window dedup) and the SemDeDup
    # survivor accounting (near-dup pairs -> keep-lowest-id anti-join)
    "dedup_incremental_batch",
    "semantic_dedup_survivors",
    # round-11 additions (VERDICT r10 item 3): the headline set skewed
    # to dedup/text — these give the window family, the as-of carry
    # join, and the Arrow multimodal probe a standing wall-time row so
    # a perf regression there surfaces in the bench, not only via the
    # scale canary
    "sessionization",
    "asof_user_state",
    "multimodal_probe_stats",
    # round-11: the new retrieval family's standing wall-time row
    "bm25_multi_query_topk",
    # round-12: the corpus-ingestion chain composed end-to-end (WARC
    # framing + robots wildcard decision + charset strict decode +
    # HTML extraction in one plan) and the NFC+strip text scan — the
    # two new physical shapes get standing wall-time rows
    "corpus_ingest_pipeline_stats",
    "unicode_normalize_stats",
    # round-12 wave 2: the line explode -> digest count -> anti-join
    # -> positional rebuild shape, and the pointer-doubling iterative
    # join (4 self-join rounds)
    "line_dedup_rewrite_stats",
    "redirect_resolution_stats",
    # round-12 wave 3: the three new curation shapes — per-row hashed-
    # gram array aggregate (classifier inference, the hot quality-
    # filter path), banded-bucket store probe + digest-verified
    # Jaccard (incremental near-dup — timed as the separate
    # minhash_incremental_probe job below, store built untimed: the
    # r12 registry-row timing folded the fixture's store bootstrap
    # into the headline, VERDICT r12 nit 2), and the two-pass
    # broadcast mixture sample (tiny agg + scan-side hash filter)
    "quality_classifier_stats",
    "token_budget_mixture_stats",
    # round-13: the BPE encode shape — Arrow map with broadcast merge
    # table + per-batch word cache, the one new physical shape of the
    # round (training and compaction are multi-job, not bench rows)
    "bpe_token_count_stats",
    # round-14: the byte-level GPT-2 encode (published pre-tokenizer
    # regex + bytes-to-unicode map inside the Arrow batch — heavier
    # per-row Python than the whitespace lane) and the online
    # selection gate (score scan + bounded histogram + threshold
    # filter — the calibrate-then-broadcast two-job shape)
    "bpe_byte_level_stats",
    "threshold_selection_stats",
]

# Timed OUTSIDE the registry loop: maintenance compact() mutates its
# table, so each timed run gets a fresh (untimed) copy of a staged
# month-partitioned event table derived from events.parquet.
BENCH_MAINTENANCE = ["maintenance_compact"]


def _wait_for_quiet_host(threshold: float = 2.0, max_wait_s: int = 180) -> float:
    """Block until 1-min loadavg < threshold, up to max_wait_s.

    Round-5 recorded 4-5x "regressions" on pricing_summary /
    dedup_exact_docs at loadavg 11.6 that a quiet-host re-measure
    (r06 probes: 0.43s / 0.29s warm, prelude pinned) showed were pure
    exogenous noise — the signature-cache-pinning suspect was
    exonerated by a with/without A-B. Waiting is strictly better than
    refusing to run (a refusal loses the round's data, as r04's crash
    did); if the host never quiets we proceed and the recorded
    host_noise numbers flag the run as suspect.
    Returns seconds waited so the JSON can self-document."""
    waited = 0.0
    while waited < max_wait_s:
        try:
            with open("/proc/loadavg") as f:
                load = float(f.read().split()[0])
        except OSError:
            return waited
        if load < threshold:
            return waited
        time.sleep(10)
        waited += 10
    return waited


def _host_noise() -> dict:
    """Load + hypervisor-steal snapshot so a noisy run is self-documenting:
    this host has measured 100x wall-clock swings on identical plans from
    exogenous neighbors (steal accumulates in /proc/stat field 8). Compare
    BENCH rounds only after checking these numbers."""
    out: dict = {}
    try:
        with open("/proc/loadavg") as f:
            out["loadavg"] = float(f.read().split()[0])
    except OSError:
        pass
    try:
        with open("/proc/stat") as f:
            cpu = f.readline().split()
        out["steal_cs"] = int(cpu[8])  # centisec since boot, all cpus
    except (OSError, IndexError, ValueError):
        pass
    return out


def _load_cpu_baseline(repo_dir: str, sf: str) -> dict[str, float]:
    """Committed per-query min task-CPU reference for this scale factor
    (docs/evidence/BENCH_CPU_BASELINE.json) — absent file or other sf
    disables the CPU guard rather than guessing."""
    path = os.path.join(
        repo_dir, "docs", "evidence", "BENCH_CPU_BASELINE.json"
    )
    try:
        with open(path) as fh:
            d = json.load(fh)
        if str(d.get("sf")) != str(sf):
            return {}
        return {k: float(v) for k, v in d.get("cpu_s", {}).items()}
    except (OSError, ValueError, TypeError, AttributeError):
        # a malformed baseline (null value, non-dict cpu_s) disables
        # the guard rather than killing the whole bench at startup
        return {}


def clean_run_flags(
    runs: list[float],
    cpus: list[float],
    steals: list[int],
    steal_dirty_cs: int,
    ratio_dirty: float,
) -> list[bool]:
    """Per-run clean flags: steal under budget AND wall/task-CPU ratio
    within ``ratio_dirty``x of the reference run's.

    The reference is the LOWEST-WALL run's ratio, not the lowest ratio
    observed (r14 fix): a CPU-inflated run (JIT spike, stage-accounting
    attribution) has an anomalously LOW wall/CPU ratio, and with
    best-ratio as the baseline it disqualifies the genuinely clean
    runs — observed live on minhash_incremental_probe, where two 2.2 s
    warm runs were flagged dirty because a 35 s-CPU spike run set the
    baseline. Host noise (the thing this ratio test exists to catch)
    inflates wall at unchanged CPU, so it is always ABOVE the
    best-wall run's ratio."""
    ratios = [w / max(c, 1e-3) for w, c in zip(runs, cpus)]
    ref = ratios[runs.index(min(runs))]
    return [
        s <= steal_dirty_cs and r <= ratio_dirty * ref
        for s, r in zip(steals, ratios)
    ]


def cpu_inflated(cpu_s: float, baseline_cpu_s: float) -> bool:
    """The guard the steal/ratio tests are blind to (VERDICT r13 item
    1): task-CPU inflation on an identical plan. The r13 driver refresh
    burned 10.3 s of real CPU on a row whose committed record and a
    fresh-session A/B both measure ~1.7-2 s — wall and CPU rose
    TOGETHER (ratio guard silent) with zero steal (steal guard silent),
    the signature of late-session JIT/code-cache degradation. 3x the
    committed reference plus a 1 s absolute floor: small-CPU rows
    jitter multiplicatively, heavyweight rows never legitimately
    triple their compute on an unchanged plan + fixture."""
    return cpu_s > 3.0 * baseline_cpu_s + 1.0


def _codegen_snapshot(spark) -> dict:
    """JIT-health counters for the cpu_dirty post-mortem: HotSpot
    CodeHeap pool usage (a full 'non-profiled nmethods' pool stops
    compilation session-wide — the prime code-cache-exhaustion
    suspect) and Spark's whole-stage-codegen compile counter. Best
    effort: metric access failures return what was readable."""
    out: dict = {}
    try:
        jvm = spark.sparkContext._jvm
        beans = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        it = beans.iterator()
        while it.hasNext():
            b = it.next()
            name = b.getName()
            if "CodeHeap" in name or "Code Cache" in name:
                u = b.getUsage()
                out[name.replace("'", "")] = {
                    "used_mb": round(u.getUsed() / 1048576, 1),
                    "max_mb": round(u.getMax() / 1048576, 1),
                }
    except Exception:
        pass
    try:
        jvm = spark.sparkContext._jvm
        cg = jvm.org.apache.spark.metrics.source.CodegenMetrics
        out["codegen_compile_count"] = (
            cg.METRIC_COMPILATION_TIME().getCount()
        )
        out["codegen_compile_ms_mean"] = round(
            cg.METRIC_COMPILATION_TIME().getSnapshot().getMean(), 1
        )
    except Exception:
        pass
    return out


def _maintenance_jobs(spark, sf_dir: str) -> list:
    """(name, prepare, run) jobs for the timed maintenance shapes
    (VERDICT r10 item 3): compact() rewrites its table in place, so
    `prepare` re-stages a fresh month-partitioned event table (derived
    from events.parquet, one envelope row per event, dup-heavy on
    entity_id so keep='latest' does real dedup work) before each timed
    run. Staging is outside the timed region — the bench measures the
    rewrite (read + window dedup + write + swap), not the fixture copy.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from neo4j_to_clickhouse_spark.operators.maintenance import compact
    from neo4j_to_clickhouse_spark.sources.snapshot import write_events

    work = tempfile.mkdtemp(prefix="bench_compact_")
    base = os.path.join(work, "base")
    env = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(
            F.col("event_id"),
            F.col("user_id").alias("entity_id"),
            F.col("ts").alias("event_timestamp"),
            F.date_format("ts", "yyyyMM").alias("event_month"),
            F.col("event_type"),
            F.col("props").alias("payload"),
        )
    )
    write_events(env, base)

    live = os.path.join(work, "live")

    def prepare(s) -> None:
        shutil.rmtree(live, ignore_errors=True)
        shutil.copytree(base, live)

    def run_once(s) -> int:
        months = compact(s, live, keep="latest")
        return len(months)

    return [("maintenance_compact", prepare, run_once)]


def _bm25_index_jobs(spark, sf_dir: str) -> list:
    """The index-once-query-many BM25 path (VERDICT r11 item 6): the
    inverted index is built and persisted term-bucket-partitioned ONCE
    (untimed — that cost amortizes over every query set at 100 TB);
    the timed run is the pruned load (partition pruning on term_bucket
    + pushed In(term,…)) plus the indexed scoring join, consumed with
    .collect() like every other bench row. Compare against
    bm25_multi_query_topk (the same query set scoring straight off the
    corpus text) to see what the index buys."""
    import tempfile

    from neo4j_to_clickhouse_spark.operators.retrieval import (
        bm25_topk_indexed,
        build_bm25_index,
        load_bm25_index,
        write_bm25_index,
    )
    from neo4j_to_clickhouse_spark.plans.queries import (
        _BM25_QUERY_SET,
        _t,
    )

    path = tempfile.mkdtemp(prefix="bench_bm25_") + "/idx"
    postings, stats = build_bm25_index(_t(spark, sf_dir, "documents"))
    write_bm25_index(postings, stats, path, n_buckets=32)
    state: dict = {}

    def prepare(s) -> None:
        # untimed per-run setup: the query frame is driver-side
        # construction, not part of the measured pruned-load + scoring
        state["qdf"] = s.createDataFrame(
            list(_BM25_QUERY_SET), "query_id string, term string"
        )

    def run_once(s) -> int:
        qdf = state["qdf"]
        pruned, st = load_bm25_index(s, path, queries=qdf)
        return len(
            bm25_topk_indexed(pruned, st, qdf, k=5).collect()
        )

    return [("bm25_indexed_query", prepare, run_once)]


def _classifier_prod_jobs(spark, sf_dir: str) -> list:
    """The classifier's PRODUCTION hashing path as a standing row: the
    certified registry row (quality_classifier_stats) must use md5 so
    the DuckDB oracle reproduces buckets, which is ~half the scoring
    cost; production scoring uses xxhash64 (hash_bucket docstring,
    measured 2.1 -> 1.4 s at sf0.1 in the r12 A/B). A standing row
    keeps that claim measured instead of archived."""
    from pyspark.sql import functions as F

    from neo4j_to_clickhouse_spark.operators.classifier import (
        score_documents,
        weight_table,
    )
    from neo4j_to_clickhouse_spark.plans.queries import _t

    w = weight_table(256, 7)

    def run_once(s) -> int:
        scored = score_documents(
            _t(s, sf_dir, "documents"),
            "text",
            w,
            seed=7,
            hasher="xxhash64",
        )
        return len(
            scored.groupBy("source")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(
                    F.when(F.col("score") > 0, 1).otherwise(0)
                ).alias("n_positive"),
            )
            .collect()
        )

    return [("quality_classifier_xxhash", lambda s: None, run_once)]


def _classifier_broadcast_jobs(spark, sf_dir: str) -> list:
    """Broadcast-gather scoring at the 1M-bucket operating point
    (VERDICT r14 item 5): the >100k-feature-space path — JVM-side
    xxhash64 bucketing + one Arrow numpy gather over a weight array
    shipped once per stage. The certified 256-bucket md5 sibling
    (quality_classifier_broadcast_stats) pins the kernel's
    correctness; this row keeps the production-sized shape measured."""
    from pyspark.sql import functions as F

    from neo4j_to_clickhouse_spark.operators.classifier import (
        score_documents,
        weight_table,
    )
    from neo4j_to_clickhouse_spark.plans.queries import _t

    state: dict = {}

    def prepare(s) -> None:
        # untimed: the synthetic 1M-weight vector (deterministic
        # md5-derived, weight_table's documented stand-in for a
        # trained model) builds once per session
        if "w" not in state:
            state["w"] = weight_table(1_000_000, 7)

    def run_once(s) -> int:
        scored = score_documents(
            _t(s, sf_dir, "documents"),
            "text",
            state["w"],
            seed=7,
            hasher="xxhash64",
            weight_strategy="broadcast",
        )
        return len(
            scored.groupBy("source")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(
                    F.when(F.col("score") > 0, 1).otherwise(0)
                ).alias("n_positive"),
            )
            .collect()
        )

    return [("classifier_broadcast_1m", prepare, run_once)]


def _bpe_prod_jobs(spark, sf_dir: str) -> list:
    """Byte-level GPT-2 encode at the PRODUCTION operating point
    (VERDICT r14 item 1): a 50k-merge artifact learned by the real
    incremental Sennrich loop — the corpus's real word counts unioned
    over a deterministic synthetic 100k-word Zipf tail
    (synthetic_zipf_counts; the fixture has only dozens of distinct
    words, so its chains take the top ranks and fully merge while the
    tail densifies the table to production size) — broadcast into the
    one Arrow encode map. prepare builds the artifact ONCE per session
    (~18 s untimed: one corpus aggregate + the driver merge loop) and
    PINS a 50-doc byte round-trip through the full vocab; the timed
    run is the encode scan + per-source token aggregate."""
    from pyspark.sql import functions as F

    from neo4j_to_clickhouse_spark.operators.bpe import (
        assert_byte_roundtrip,
        bpe_encode,
        gpt2_operating_point_artifact,
    )
    from neo4j_to_clickhouse_spark.plans.queries import _t

    state: dict = {}

    def prepare(s) -> None:
        if "merges" in state:
            return
        docs = _t(s, sf_dir, "documents")
        state["merges"], state["vocab"] = gpt2_operating_point_artifact(
            docs
        )
        # byte round-trip pin at the operating point, every session
        assert_byte_roundtrip(
            docs, "text", state["merges"], state["vocab"]
        )

    def run_once(s) -> int:
        enc = bpe_encode(
            _t(s, sf_dir, "documents"),
            "text",
            state["merges"],
            state["vocab"],
            pretokenize="gpt2",
        )
        return len(
            enc.groupBy("source")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(F.size("token_ids")).alias("bpe_tokens"),
            )
            .collect()
        )

    return [("bpe_encode_gpt2_50k", prepare, run_once)]


def _minhash_probe_jobs(spark, sf_dir: str) -> list:
    """The incremental near-dup PROBE, store built untimed (VERDICT r12
    nit 2): production runs probe a persisted hash-only store, so the
    headline row must time one batch's probe — banded-bucket equi-join +
    candidate-bounded digest verify — not the fixture's store bootstrap
    over 2/3 of the corpus. Same split/clone lanes as the certified
    minhash_incremental_stats registry row; the store round-trips
    through parquet exactly as the streaming chain persists it."""
    import tempfile

    from neo4j_to_clickhouse_spark.operators.dedup import (
        lsh_store,
        minhash_incremental,
    )
    from neo4j_to_clickhouse_spark.plans.queries import (
        _minhash_incremental_frames,
    )

    old, _ = _minhash_incremental_frames(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="bench_lsh_store_")
    store_b, store_d = lsh_store(old)
    store_b.write.parquet(root + "/buckets")
    store_d.write.parquet(root + "/digests")

    state: dict = {}

    def prepare(s) -> None:
        # untimed per-run setup: (old, new) AND the store DataFrames
        # are driver-side plan construction — r13 built the frames once
        # outside the timed region; r15 moves the store parquet reads
        # there too (spark.read.parquet pays schema inference at
        # DataFrame creation — metadata work a long-lived service does
        # once, not per probe). The timed region still executes the
        # store SCANS inside the probe join.
        _, state["new"] = _minhash_incremental_frames(s, sf_dir)
        state["buckets"] = s.read.parquet(root + "/buckets")
        state["digests"] = s.read.parquet(root + "/digests")

    def run_once(s) -> int:
        surv = minhash_incremental(
            state["new"],
            state["buckets"],
            state["digests"],
            threshold=0.5,
        )
        return len(surv.collect())

    return [("minhash_incremental_probe", prepare, run_once)]


def _cpus() -> str:
    """Core count of the bench session (``local[N]``)."""
    return os.environ.get("SPARK_GRAFT_CPUS", "32")


def _evidence_path(repo_dir: str, sf: str = "0.1") -> str:
    """Self-archive target (VERDICT r10 item 4): the driver snapshots
    only the tail of bench stdout, so the full per-query JSON is also
    written here, named by the round the current driver window was
    generated for. Non-default scale factors and core counts get a
    suffixed name, so neither a smoke run at sf0.001 nor an 8-core run
    can clobber the round's sf0.1 32-core record."""
    from neo4j_to_clickhouse_spark.plans.queries import _WINDOW_ROUND

    tag = "" if str(sf) == "0.1" else f"_sf{sf}"
    cpus = _cpus()
    if cpus != "32":
        tag += f"_cpus{cpus}"
    return os.path.join(
        repo_dir,
        "docs",
        "evidence",
        f"BENCH_r{_WINDOW_ROUND}{tag}_local.json",
    )


def _archive(payload: str, evidence: str) -> None:
    """Write the full bench JSON to ``evidence``. If the write fails the
    payload goes to stderr instead, so the record survives; stdout is
    left for the contract line the caller prints after this."""
    try:
        os.makedirs(os.path.dirname(evidence), exist_ok=True)
        with open(evidence, "w") as fh:
            fh.write(payload + "\n")
        print(f"# archived full JSON -> {evidence}", file=sys.stderr)
    except OSError as exc:  # archive failure must not fail the bench
        print(
            f"# evidence archive failed: {exc}; full JSON follows",
            file=sys.stderr,
        )
        print(payload, file=sys.stderr)
    sys.stderr.flush()


def _pin_caches(spark, sf_dir: str, cpus: str) -> None:
    """Session prelude: JVM/parquet-footer warmup and Python worker pool
    warmup ONLY. Extracted so a fresh-JVM cpu_dirty re-measure
    (VERDICT r13 item 1) reproduces the exact session state the first
    measurement ran under.

    r16 (VERDICT r15 item 1): the prelude previously ALSO populated the
    shared shingle + minhash-signature caches — the exact canonicalized
    plans the dedup rows persist — so no timed run ever paid cache
    population. That is an intermediate cached outside the timed region;
    it is gone, and ``spark.catalog.clearCache()`` now runs before every
    timed run (see ``_measure``), so each run computes its persists from
    the parquet inputs inside the timed region. The dedup rows'
    absolute numbers rose accordingly (re-baselined in
    docs/evidence/BENCH_r16_honest_baseline.json); JVM/JIT and
    worker-pool warmth stay, because a long-lived cluster genuinely has
    those."""
    # warm the JVM + parquet footers so per-query times measure the queries
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    # warm the Python worker pool (fork + numpy/pandas import is a one-time
    # per-worker cost, serialized through the pyspark daemon — ~0.5s x ncpu
    # if paid lazily inside a measured query; any long-lived cluster has
    # warm workers)
    def _noop(batches):
        import numpy, pandas  # noqa: F401
        for b in batches:
            yield b

    spark.range(int(cpus) * 4).repartition(int(cpus)).mapInPandas(
        _noop, "id long"
    ).count()


_STEAL_DIRTY_CS = 50  # 0.5 stolen CPU-seconds during one run
_RATIO_DIRTY = 1.6  # wall/task-CPU ratio vs the query's best run
_MAX_RUNS = 4


def _steal_cs() -> int:
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


# Per-run TASK-CPU seconds from Spark's own task metrics (VERDICT
# r09 item 2): cumulative executorCpuTime across completed stages,
# read from the AppStatusStore (present with the UI disabled),
# diffed around each run. The r09 bench recorded 2-5x wall
# regressions on runs its /proc-steal guard certified clean —
# /proc/stat steal misses co-tenant memory-bandwidth / frequency
# contention. Wall and task-CPU disambiguate: a noisy host inflates
# wall while the plan burns the same CPU (wall/CPU ratio is the
# outlier); a real plan regression inflates BOTH. A run whose
# wall/CPU ratio exceeds _RATIO_DIRTY x the query's best observed
# ratio is dirty regardless of steal. (Stage eviction caveat: the
# store retains spark.ui.retainedStages=1000 stages; a full bench
# completes ~400, so the cumulative sum never goes backwards here.)
def _task_cpu_s(s) -> float:
    jsc = s.sparkContext
    store = jsc._jsc.sc().statusStore()
    jvm, gw = jsc._jvm, jsc._gateway
    total_ns = 0
    it = store.stageList(
        jvm.java.util.ArrayList(),
        False,
        False,
        gw.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    ).iterator()
    while it.hasNext():
        total_ns += it.next().executorCpuTime()
    return total_ns / 1e9


def _codegen_compiles(spark) -> int | None:
    return _codegen_snapshot(spark).get("codegen_compile_count")


def _jit_ms(spark) -> int | None:
    """Milliseconds HotSpot's JIT compiler threads have spent so far
    (``CompilationMXBean.getTotalCompilationTime``, C1 and C2 summed;
    it counts retired compiler threads too); None when unreadable."""
    try:
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return mf.getCompilationMXBean().getTotalCompilationTime()
    except Exception:
        return None


def _restart_spark(spark, app_name: str, cpus: str):
    """Stop ``spark`` and its JVM, then build a session in a new JVM.

    ``spark.stop()`` alone keeps PySpark's py4j gateway, so the next
    ``get_spark`` would run in the same JVM, with its JIT state, code
    cache and launch options. perfbench's ``stop_spark`` also shuts the
    gateway down and waits for the JVM to exit; clearing PySpark's
    handles to it makes ``get_spark`` launch a new one."""
    from pyspark import SparkContext

    from perfbench.run import stop_spark

    stop_spark(spark)
    SparkContext._gateway = None
    SparkContext._jvm = None
    return get_spark(
        app_name, master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )


def _measure(spark, prepare, run_once):
    """Up to _MAX_RUNS timed runs of one job on the CURRENT session;
    returns (runs, cpus, compiles, jit_ms, steals, clean flags,
    rowcount). ``compiles`` is each run's count of generated classes
    compiled (a row whose classes fell out of the codegen cache
    recompiles them on every run) and ``jit_ms`` its HotSpot JIT
    compile time, both read outside the timed region."""
    runs: list[float] = []
    steals: list[int] = []
    run_cpus: list[float] = []
    compiles: list[int | None] = []
    jit_ms: list[int | None] = []

    def _clean_flags() -> list[bool]:
        return clean_run_flags(
            runs, run_cpus, steals, _STEAL_DIRTY_CS, _RATIO_DIRTY
        )

    n = 0
    while len(runs) < _MAX_RUNS and (
        len(runs) < 2 or sum(_clean_flags()) < 2
    ):
        # every timed run starts cache-cold (VERDICT r15 item 1): a
        # query's intra-plan persists (shingle/signature tables,
        # shared term counts) must populate INSIDE the timed region,
        # and run 2 of a min-of-N row must not inherit run 1's
        # caches. JIT/codegen warmth legitimately carries over (a
        # long-lived cluster has it); materialized data does not.
        spark.catalog.clearCache()
        prepare(spark)
        k0 = _codegen_compiles(spark)
        j0 = _jit_ms(spark)
        s0 = _steal_cs()
        c0 = _task_cpu_s(spark)
        t0 = time.perf_counter()
        n = run_once(spark)
        runs.append(round(time.perf_counter() - t0, 3))
        run_cpus.append(round(_task_cpu_s(spark) - c0, 3))
        steals.append(_steal_cs() - s0)
        k1 = _codegen_compiles(spark)
        j1 = _jit_ms(spark)
        compiles.append(None if k0 is None or k1 is None else k1 - k0)
        jit_ms.append(None if j0 is None or j1 is None else j1 - j0)
    return runs, run_cpus, compiles, jit_ms, steals, _clean_flags(), n


def _payload(contract: dict, runs: dict, cpu_s: dict, compiles: dict,
             jit_ms: dict, steal_cs: dict, cpu_retries: dict,
             codegen_final: dict) -> str:
    """The archived evidence: the contract plus per-run diagnostics."""
    return json.dumps(
        {
            **contract,
            "runs": runs,
            "run_cpu_s": cpu_s,
            "run_codegen_compiles": compiles,
            "run_jit_ms": jit_ms,
            "run_steal_cs": steal_cs,
            "cpu_retries": cpu_retries,
            "codegen_final": codegen_final,
        }
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = _cpus()
    spark = get_spark(
        "bench", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    _pin_caches(spark, sf_dir, cpus)

    # Two timed runs per query, min reported: the first execution of a
    # plan pays one-time JIT of its generated code (~2-3x on the heaviest
    # queries), which a long-lived cluster never sees.
    #
    # Per-run STEAL deltas (r09, VERDICT r08 item 3): the r08 bench
    # variance (dedup_minhash_lsh 2.8-9.9 s) was root-caused with an
    # instrumented probe — across 8 back-to-back runs, wall tracked
    # hypervisor steal almost 1:1 (8.29 s wall with 4.33 s of steal;
    # 1.9-2.1 s wall with ~0 steal) while BOTH persisted caches stayed
    # fully memory-resident (32/32 partitions, getRDDStorageInfo) and GC
    # stayed under 0.3 s. The "LSH signature persist / LM vocab
    # broadcast not pinned" hypothesis is refuted: the variance is
    # exogenous steal, not cache population. So each run records its
    # steal delta, and a run polluted by steal (> _STEAL_DIRTY_CS) is
    # retried rather than merely tie-broken — min-of-clean-runs is the
    # honest quiet-host number.
    waited = _wait_for_quiet_host()
    noise_before = _host_noise()
    times: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    all_steals: dict[str, list[int]] = {}
    all_cpu: dict[str, list[float]] = {}
    all_compiles: dict[str, list[int | None]] = {}
    all_jit: dict[str, list[int | None]] = {}
    # every timed run CONSUMES the full result with .collect() — the
    # same consumption as the correctness driver and a real client.
    # Rounds 1-7 timed `.count()`, under which Catalyst legitimately
    # prunes the aggregate/window expressions under test (verified:
    # pricing_summary's plan lost all three sums and kept only the
    # grouping keys), so those rounds under-measured; r08 renumbers.
    steal_dirty: list[str] = []
    ratio_dirty: list[str] = []

    # (name, prepare, run) triples: prepare() is UNTIMED per-run setup
    # (a no-op for registry queries; a fresh table copy for compact),
    # run() is the timed consumption and returns a row count.
    def _registry_job(name: str):
        spec = QUERIES[name]
        return (
            name,
            lambda s: None,
            lambda s, spec=spec: len(spec.spark(s, sf_dir).collect()),
        )

    jobs = [_registry_job(n) for n in BENCH_QUERIES]
    jobs.extend(_maintenance_jobs(spark, sf_dir))
    jobs.extend(_bm25_index_jobs(spark, sf_dir))
    jobs.extend(_minhash_probe_jobs(spark, sf_dir))
    jobs.extend(_classifier_prod_jobs(spark, sf_dir))
    jobs.extend(_classifier_broadcast_jobs(spark, sf_dir))
    jobs.extend(_bpe_prod_jobs(spark, sf_dir))

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    cpu_baseline = _load_cpu_baseline(
        os.path.dirname(os.path.abspath(__file__)), sf
    )
    cpu_dirty: list[str] = []
    cpu_retries: dict[str, dict] = {}

    for name, prepare, run_once in jobs:
        runs, run_cpus, compiles, jit_ms, steals, flags, n = _measure(
            spark, prepare, run_once
        )

        # CPU-inflation guard (VERDICT r13 item 1): wall and task-CPU
        # rising TOGETHER with quiet steal passes both older guards,
        # but on an unchanged plan + fixture it is the JIT/code-cache
        # failure signature (the r13 driver refresh burned 10.3 s CPU
        # on a committed-1.7 s row, LAST job of a ~35-query session).
        # Verdict: the SESSION is poisoned, not the host — re-measure
        # in a fresh JVM with the same pinned-cache prelude.
        base = cpu_baseline.get(name)
        clean_cpus = [c for c, ok in zip(run_cpus, flags) if ok] or run_cpus
        if base is not None and all(
            cpu_inflated(c, base) for c in clean_cpus
        ):
            jit_before = _codegen_snapshot(spark)
            print(
                f"# {name}: task-CPU {min(clean_cpus)}s > 3x committed "
                f"{base}s with quiet steal — restarting JVM to "
                f"re-measure (codegen: {jit_before})",
                file=sys.stderr,
            )
            spark = _restart_spark(spark, "bench-retry", cpus)
            _pin_caches(spark, sf_dir, cpus)
            r2, c2, k2, j2, s2, f2, n = _measure(spark, prepare, run_once)
            cpu_retries[name] = {
                "stale_session": {
                    "wall": runs, "cpu_s": run_cpus, "compiles": compiles,
                    "jit_ms": jit_ms,
                },
                "fresh_session": {
                    "wall": r2, "cpu_s": c2, "compiles": k2, "jit_ms": j2,
                },
                "codegen_at_flag": jit_before,
            }
            runs, run_cpus, compiles, jit_ms, steals, flags = (
                r2, c2, k2, j2, s2, f2
            )
            clean_cpus = [
                c for c, ok in zip(run_cpus, flags) if ok
            ] or run_cpus
            if all(cpu_inflated(c, base) for c in clean_cpus):
                # fresh JVM still hot: a real plan/code regression,
                # not session decay — keep the number, flag the row
                cpu_dirty.append(name)

        if not any(flags):
            # every run was polluted: the reported min is NOT a
            # quiet-host number — flag it so cross-round comparisons
            # don't read a polluted time as a regression/improvement
            if all(s > _STEAL_DIRTY_CS for s in steals):
                steal_dirty.append(name)
            else:
                ratio_dirty.append(name)
            times[name] = min(runs)
        else:
            times[name] = min(w for w, ok in zip(runs, flags) if ok)
        all_runs[name] = runs
        all_steals[name] = steals
        all_cpu[name] = run_cpus
        all_compiles[name] = compiles
        all_jit[name] = jit_ms
        print(
            f"# {name}: wall={runs} cpu_s={run_cpus} steal_cs={steals}"
            f" compiles={compiles} jit_ms={jit_ms} ({n} rows)",
            file=sys.stderr,
        )
    noise_after = _host_noise()
    jit_final = _codegen_snapshot(spark)

    contract = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "steal_dirty": steal_dirty,
        "ratio_dirty": ratio_dirty,
        "cpu_dirty": cpu_dirty,
        "host_noise": {
            "before": noise_before,
            "after": noise_after,
            "quiet_wait_sec": waited,
        },
    }
    payload = _payload(
        contract, all_runs, all_cpu, all_compiles, all_jit, all_steals,
        cpu_retries, jit_final,
    )
    # full-JSON self-archive FIRST: the driver's stdout snapshot is
    # tail-truncated (~2,000 chars — it lost 13/20 wall times in r10 and
    # cut r14's single full-payload line mid-JSON, emptying that round's
    # PERF prev column). The per-run diagnostics live only in this
    # archive; stdout then ends with the compact one-line contract JSON
    # (metric/value/unit/queries/sf + the dirty flags), small enough
    # that a tail capture always contains it whole, with NOTHING printed
    # after it (VERDICT r15 item 8).
    _archive(
        payload,
        _evidence_path(os.path.dirname(os.path.abspath(__file__)), sf),
    )
    print(json.dumps(contract))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
