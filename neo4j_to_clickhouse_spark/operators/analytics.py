"""The analytics query surface (SURVEY.md §2.2-2.8) as DataFrame functions.

Each function mirrors one inventoried reference query shape. All results are
made *deterministic* (explicit tie-break columns on every top-k) — the
reference merely prints results (`test-scenarios/run_tests.py:66-79`); our
oracle-checked harness needs reproducible output.

Scale notes are inline per operator; the common themes:
- group-by aggregations are partial+final hash aggregates (map-side combine
  free of charge) — no driver collection anywhere;
- top-k is TakeOrderedAndProject (per-partition heap + driver merge of k
  rows), never a global sort;
- joins: dimension sides are broadcast, fact-fact joins shuffle on the key
  and rely on AQE for skew splitting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dec(col: str | Column, scale: int = 2) -> Column:
    """Money-typed view of a double column. Casting to decimal *before*
    aggregating makes sums exact and engine-order-independent — double
    summation order differs between partitions/engines and would break
    hash-comparison; decimal addition is associative.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal(18,{scale})")


def _epoch(col: str | Column) -> Column:
    """Fractional epoch seconds of a timestamp, microsecond-exact.

    A true timestamp difference — sub-second gaps are not collapsed the
    way unix_timestamp's whole-second truncation would collapse them.
    The intermediate cast to TIMESTAMP makes this total over every
    flavor the fixtures have shipped: TIMESTAMP (no-op) and
    TIMESTAMP_NTZ (re-tagged via the session zone; Spark forbids a
    direct NTZ->double cast).
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp").cast("double")


# --- Aggregations (SURVEY.md §2.4) -----------------------------------------

def count_by_type(events: DataFrame, type_col: str = "event_type") -> DataFrame:
    """A1: `SELECT event_type, count() ... GROUP BY event_type ORDER BY count
    DESC` (`README.md:440-447`, `Makefile:77-78`)."""
    return (
        events.groupBy(type_col)
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col(type_col))
    )


def count_and_distinct_by_type(
    events: DataFrame,
    type_col: str = "event_type",
    entity_col: str = "entity_id",
    approximate: bool = False,
    rsd: float = 0.05,
) -> DataFrame:
    """A2: total + exact distinct entities per type
    (`test-scenarios/run_tests.py:91,104`).

    Exact countDistinct expands to a two-phase aggregate whose first phase
    shuffles every distinct (type, entity) pair; at 100 TB that's an
    entity-table-sized shuffle per query. ``approximate=True`` swaps in
    HyperLogLog++ (`approx_count_distinct`, relative error ``rsd``), whose
    state is a fixed-size sketch per group — the shuffle becomes
    groups x KB regardless of entity count. Parity-checked queries use
    exact; monitoring at scale should use the sketch.
    """
    distinct = (
        F.approx_count_distinct(entity_col, rsd)
        if approximate
        else F.countDistinct(entity_col)
    )
    return (
        events.groupBy(type_col)
        .agg(
            F.count("*").alias("total"),
            distinct.alias("unique_entities"),
        )
        .orderBy(type_col)
    )


def label_distribution(
    events: DataFrame, labels_col: str = "labels", k: int = 10
) -> DataFrame:
    """A3: explode array -> grouped count -> top-k
    (`initial-load/scripts/04-optimize-tables.sql:151-160`). explode happens
    before the shuffle so the map-side combine sees single labels."""
    return (
        events.select(F.explode(F.col(labels_col)).alias("label"))
        .groupBy("label")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("label"))
        .limit(k)
    )


def payload_profile(
    events: DataFrame, group_col: str = "event_type", payload_col: str = "properties_after"
) -> DataFrame:
    """A4: per-group payload size profile — `sum(length(properties_after))`
    (`initial-load/scripts/04-optimize-tables.sql:155,166`)."""
    return (
        events.groupBy(group_col)
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.length(payload_col)).alias("total_payload_chars"),
        )
        .orderBy(group_col)
    )


def duplicate_keys(events: DataFrame, key: str = "entity_id") -> DataFrame:
    """A5: GROUP BY key HAVING count>1
    (`initial-load/scripts/04-optimize-tables.sql:68-87`)."""
    return (
        events.groupBy(key)
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > 1)
        .orderBy(F.col("cnt").desc(), F.col(key))
    )


def global_totals(
    events: DataFrame,
    entity_col: str = "entity_id",
    approximate: bool = False,
    rsd: float = 0.05,
) -> DataFrame:
    """A6: global scalar aggregates
    (`initial-load/scripts/04-optimize-tables.sql:194-203`). Same
    exact-vs-sketch trade-off as :func:`count_and_distinct_by_type`."""
    distinct = (
        F.approx_count_distinct(entity_col, rsd)
        if approximate
        else F.countDistinct(entity_col)
    )
    return events.agg(
        F.count("*").alias("total_events"),
        distinct.alias("total_entities"),
    )


def degree_topk(
    nodes: DataFrame,
    edges: DataFrame,
    node_key: str = "entity_id",
    edge_fk: str = "source_id",
    k: int = 10,
) -> DataFrame:
    """A7/J1: per-node outgoing-edge count, top-k — the interfaces-per-device
    query (`initial-load/scripts/04-optimize-tables.sql:206-218`).

    The edge side aggregates on its FK *before* the join — turning a
    row-level join into a count-level join, which at 100 TB is the
    difference between shuffling the edge table and shuffling one row per
    node. The node-side join carries NO broadcast hint: both sides are
    node-cardinality (data-sized, not schema-sized), so the join strategy
    is AQE's size-based call — a forced broadcast would OOM on a large
    graph.
    """
    per_source = edges.groupBy(edge_fk).agg(F.count("*").alias("degree"))
    return (
        nodes.select(F.col(node_key), F.col("labels"))
        .join(per_source, F.col(node_key) == F.col(edge_fk), "inner")
        .select(node_key, "degree")
        .orderBy(F.col("degree").desc(), F.col(node_key))
        .limit(k)
    )


# --- Sorts / limits / sampling (SURVEY.md §2.6) -----------------------------

def latest_n(events: DataFrame, n: int = 10, ts_col: str = "event_timestamp",
             id_col: str = "event_id") -> DataFrame:
    """O2: latest-n by event time (`README.md:364-365`) with id tie-break.
    Plans as TakeOrderedAndProject — no global sort."""
    return events.orderBy(F.col(ts_col).desc(), F.col(id_col).desc()).limit(n)


def random_sample(events: DataFrame, n: int = 10, seed: int = 42) -> DataFrame:
    """O3: random sample (`initial-load/scripts/04-optimize-tables.sql:124-145`).
    The reference's ORDER BY rand() LIMIT n is a full sort at scale; the
    Spark-correct form is a seeded per-row rand + top-k (still O(rows) but
    heap-k per partition, no shuffle of the data)."""
    return events.orderBy(F.rand(seed)).limit(n)


# --- Set ops (SURVEY.md §2.7) ----------------------------------------------

def union_counts(dfs: dict[str, DataFrame]) -> DataFrame:
    """U1: UNION ALL of labeled scalar counts (`README.md:317-321`)."""
    out = None
    for name, df in dfs.items():
        part = df.agg(F.count("*").alias("cnt")).select(
            F.lit(name).alias("table_name"), F.col("cnt")
        )
        out = part if out is None else out.unionByName(part)
    return out.orderBy("table_name")


# --- Maintenance-adjacent predicates (SURVEY.md §2.2) -----------------------

def events_in_range(
    events: DataFrame,
    ts_col: str = "event_timestamp",
    start: str | None = None,
    end: str | None = None,
    month_col: str = "event_month",
) -> DataFrame:
    """P6: temporal range predicate (`README.md:583`).

    A predicate on the timestamp alone does NOT prune the month-partitioned
    layout — Spark can't derive `event_month` bounds from an
    `event_timestamp` filter (SURVEY.md §4 flags this as the one derived-
    column convention the engine must uphold). When the frame carries the
    partition column, the equivalent month bounds are added so the scan
    prunes whole partitions before reading a row; the row-level timestamp
    filter still applies within the boundary months.
    """
    out = events
    has_month = month_col in events.columns
    if start:
        s = F.lit(start).cast("timestamp")
        out = out.filter(F.col(ts_col) >= s)
        if has_month:
            out = out.filter(F.col(month_col) >= F.date_format(s, "yyyyMM"))
    if end:
        e = F.lit(end).cast("timestamp")
        out = out.filter(F.col(ts_col) < e)
        if has_month:
            out = out.filter(F.col(month_col) <= F.date_format(e, "yyyyMM"))
    return out


# --- Mergeable distinct-count sketches (uniqState/uniqMerge parity) ---------

def distinct_sketches(
    events: DataFrame,
    group_cols: list[str],
    entity_col: str = "entity_id",
    lg_k: int = 12,
) -> DataFrame:
    """Per-group HLL sketch of distinct entities — ClickHouse's
    ``uniqState`` materialized-rollup idiom (AggregatingMergeTree) on
    Spark: (group_cols..., sketch binary).

    The point at 100 TB: persist one sketch row per (month, type) at
    ingest/compaction time, and ANY date-range distinct count becomes a
    merge of a few KB-sized sketches (:func:`merge_distinct_sketches`)
    instead of a rescan of the raw log. Sketches are Apache DataSketches
    HLL (``hll_sketch_agg``) — mergeable across partitions, months, and
    even engines that speak the same format. ``lg_k`` = 2^k registers:
    12 -> ~1.6% relative error at 4 KB per sketch.
    """
    return events.groupBy(*group_cols).agg(
        F.hll_sketch_agg(F.col(entity_col), F.lit(lg_k)).alias("sketch")
    )


def merge_distinct_sketches(
    sketches: DataFrame, group_cols: list[str]
) -> DataFrame:
    """``uniqMerge``: combine sketch rows (e.g. per-month partials) into
    distinct-count estimates per ``group_cols`` (drop the rolled-up
    dimension from the list to merge across it). Output:
    (group_cols..., approx_distinct)."""
    merged = (
        sketches.groupBy(*group_cols).agg(
            F.hll_union_agg(F.col("sketch")).alias("sketch")
        )
        if group_cols
        else sketches.agg(F.hll_union_agg(F.col("sketch")).alias("sketch"))
    )
    return merged.select(
        *group_cols,
        F.hll_sketch_estimate(F.col("sketch")).alias("approx_distinct"),
    )


# --- Sessionization ---------------------------------------------------------

def sessionize(
    events: DataFrame,
    key_col: str = "user_id",
    time_col: str = "ts",
    tie_break_col: str = "event_id",
    gap_minutes: int = 30,
) -> DataFrame:
    """Assign gap-based session ids: a new session starts when the time
    since the key's previous event exceeds ``gap_minutes``. Output: input
    columns + ``session_id`` (1-based, per key, in time order).

    Pure window composition — lag to detect gaps, running sum to number
    sessions — so it is ONE hash shuffle on the key and two passes over
    each partition's sorted run, no UDFs, no state store. (The streaming
    analogue is ``streaming.monitoring.session_counts`` via
    ``F.session_window``; this is the batch/backfill form the reference's
    event log needs.) Ordering is the (time, tie-break) total order used
    everywhere else, so replayed logs sessionize identically.

    Known limit: one key is one window task (sessions chain through the
    whole history, so the per-key scan is inherently sequential — unlike
    the as-of join, a time-bucketed split cannot cut it without a second
    sequential stitch over the bucket boundaries). When per-key volume is
    the bottleneck, aggregate per session via ``session_counts`` instead:
    the session_window hash aggregate pre-combines map-side.
    """
    order = [F.col(time_col), F.col(tie_break_col)]
    w = Window.partitionBy(key_col).orderBy(*order)
    prev = F.lag(F.col(time_col)).over(w)
    new_session = (
        prev.isNull()
        | (_epoch(time_col) - _epoch(prev) > gap_minutes * 60)
    ).cast("long")
    return events.withColumn(
        "session_id",
        F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


# --- ClickHouse event-analytics parity: windowFunnel / sequenceCount --------

def window_funnel(
    events: DataFrame,
    steps: list[Column],
    key_col: str = "user_id",
    time_col: str = "ts",
    window_seconds: int | None = None,
) -> DataFrame:
    """ClickHouse ``windowFunnel``: per key, the deepest funnel step
    reached by strictly-time-ordered step events, where the chain may
    start at ANY step-1 event and the optional ``window_seconds`` bound
    is measured from that chain's own start — the reported depth is the
    max over chain starts, matching ClickHouse's search over all
    chains (greedy-from-earliest-signup underestimates whenever a later
    chain start reaches deeper inside its window). Output:
    (key, funnel_step).

    Per step i the earliest qualifying time per open chain is one
    grouped min-aggregate over events filtered by step i's predicate AND
    t > step i-1's time — ``len(steps)-1`` aggregate+join rounds, each
    shuffling one row per (key, chain-start), bounded by the step-1
    event count, never the whole event log. (A per-key sorted-array fold
    would ship full event histories instead.) The inter-step join
    carries no hint: the chain frame is data-sized at 10^8+ keys and
    must NOT be force-broadcast — AQE picks broadcast-hash only when
    genuinely small (guarded by a plan test).
    """
    # Chains are tracked per (key, chain-start): EVERY step-1 event opens
    # a candidate chain, and the reported depth is the max over chain
    # starts — a later step-1 occurrence can reach deeper within ITS
    # window than the earliest one (greedy-from-earliest, the tempting
    # one-row-per-key shortcut, underestimates exactly there). Each round
    # still shuffles only one row per open chain (bounded by the step-1
    # event count), never the event log.
    chains = (
        events.filter(steps[0])
        .select(F.col(key_col), F.col(time_col).alias("__t0"))
        .distinct()
    )
    out = chains
    t_prev = "__t0"
    for i, step in enumerate(steps[1:], start=1):
        ev = events.join(out, key_col)
        cond = step & (F.col(time_col) > F.col(t_prev))
        if window_seconds is not None:
            # _epoch = fractional-second-exact window bound
            cond = cond & (
                _epoch(time_col) - _epoch("__t0") <= window_seconds
            )
        t_i = f"__t{i}"
        stage = ev.groupBy(key_col, "__t0").agg(
            F.min(F.when(cond, F.col(time_col))).alias(t_i)
        )
        out = out.join(stage, [key_col, "__t0"], "left")
        t_prev = t_i
    step_cols = ["__t0"] + [f"__t{i}" for i in range(1, len(steps))]
    reached = None
    for i, c in enumerate(step_cols):
        term = F.when(F.col(c).isNotNull(), i + 1).otherwise(0)
        reached = term if reached is None else F.greatest(reached, term)
    return (
        out.select(F.col(key_col), reached.alias("__depth"))
        .groupBy(key_col)
        .agg(F.max("__depth").alias("funnel_step"))
    )


def window_funnel_strict_order(
    events: DataFrame,
    steps: list[Column],
    key_col: str = "user_id",
    time_col: str = "ts",
    tie_break_col: str = "event_id",
    window_seconds: int | None = None,
) -> DataFrame:
    """ClickHouse ``windowFunnel(... , 'strict_order')``: the funnel only
    advances while the steps occur as CONSECUTIVE events — any other
    event between step i and step i+1 stops the chain (the plain funnel
    allows arbitrary interleaving). Output: (key, funnel_step), keys
    reaching at least step 1.

    Construction: per key, events sorted by (time, tie-break); for every
    event matching step 1, the chain's depth is read off ``lead`` columns
    — step i+1 must match at offset i. That is ``len(steps)-1`` flat lead
    expressions over ONE window (one hash shuffle of the event log, no
    joins at all), then a grouped max. The optional ``window_seconds``
    bound compares the chain's last event time against the step-1 time,
    double-cast for sub-second exactness like the plain funnel.
    """
    order = [F.col(time_col), F.col(tie_break_col)]
    w = Window.partitionBy(key_col).orderBy(*order)
    matches = [s.cast("boolean") for s in steps]
    # depth if a chain starts at this row: innermost-out conditional sum
    # of consecutive lead matches
    depth = F.when(matches[0], F.lit(1)).otherwise(F.lit(0))
    chain_ok = matches[0]
    for i in range(1, len(steps)):
        step_here = F.lead(matches[i], i).over(w)
        in_window = F.lit(True)
        if window_seconds is not None:
            t_i = F.lead(_epoch(time_col), i).over(w)
            in_window = t_i - _epoch(time_col) <= window_seconds
        chain_ok = chain_ok & F.coalesce(
            step_here & in_window, F.lit(False)
        )
        depth = F.when(chain_ok, F.lit(i + 1)).otherwise(depth)
    return (
        events.select(F.col(key_col), depth.alias("__d"))
        .groupBy(key_col)
        .agg(F.max("__d").alias("funnel_step"))
        .filter(F.col("funnel_step") >= 1)
    )


def sequence_count(
    events: DataFrame,
    cond_a: Column,
    cond_b: Column,
    key_col: str = "user_id",
    time_col: str = "ts",
    tie_break_col: str = "event_id",
) -> DataFrame:
    """ClickHouse ``sequenceCount('(?1).*(?2)')``: per key, the number of
    non-overlapping greedy A-then-B matches (arbitrary events may sit
    between the A and its B). Output: (key, n_matches), keys with >= 1
    match.

    The greedy left-to-right matcher closes a pending A at the first
    later B, so the match count equals the number of A-run -> B-run
    transitions in the events filtered to A/B — a FLAT formulation: one
    filtered window pass with ``lag``, one conditional count. One hash
    shuffle of only the A/B events, no state machine, no UDF.
    """
    w = Window.partitionBy(key_col).orderBy(
        F.col(time_col), F.col(tie_break_col)
    )
    # filter on the RAW predicates (pushes to the parquet scan as an
    # Or/In filter), then letter the survivors — filtering on the
    # case-when letter instead would leave the scan unpruned
    lettered = (
        events.filter(cond_a | cond_b)
        .withColumn(
            "__l", F.when(cond_a, F.lit("a")).otherwise(F.lit("b"))
        )
        .withColumn("__prev", F.lag("__l").over(w))
    )
    return (
        lettered.groupBy(key_col)
        .agg(
            F.count_if(
                (F.col("__l") == "b") & (F.col("__prev") == "a")
            ).alias("n_matches")
        )
        .filter(F.col("n_matches") >= 1)
    )


# --- SCD2 state history (the interval complement of latest_state) ----------

def state_intervals(
    events: DataFrame,
    key_col: str = "user_id",
    time_col: str = "ts",
    state_col: str = "event_type",
    tie_break_col: str = "event_id",
) -> DataFrame:
    """SCD type-2 history build: collapse each key's event stream into
    state-validity intervals — consecutive events with the same state
    merge into one interval ``[valid_from, valid_to)``; the key's last
    run is open (``valid_to`` NULL, ``is_current`` true). This is the
    warehouse-history complement of ``latest_state.current_state``
    (which keeps only the final row): the reference's CDC consumers
    rebuild exactly this when they audit how an entity's state evolved
    (`clickhouse/init/01-init-tables.sql:8-20` event log).

    Gaps-and-islands in pure window algebra: change-flag via lag, run
    numbering via running sum, one group-by per run, then a lead over
    runs for the interval close. Every window and the final group share
    the SAME partitioning key, so the whole operator is ONE hash
    shuffle on the key — no UDFs, no state store, and runs-per-key is
    bounded by events-per-key, so task memory scales with a key's
    history exactly like any per-key window.

    Output: ``(key, state, valid_from, valid_to, n_events,
    is_current)``.
    """
    order = [F.col(time_col), F.col(tie_break_col)]
    w = Window.partitionBy(key_col).orderBy(*order)
    changed = (
        F.lag(F.col(state_col)).over(w).isNull()
        | (F.lag(F.col(state_col)).over(w) != F.col(state_col))
    ).cast("long")
    runs = events.withColumn(
        "__run",
        F.sum(changed).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per_run = runs.groupBy(key_col, "__run").agg(
        F.first(state_col).alias("state"),
        F.min(time_col).alias("valid_from"),
        F.count("*").alias("n_events"),
    )
    w_run = Window.partitionBy(key_col).orderBy("__run")
    return (
        per_run.withColumn(
            "valid_to", F.lead("valid_from").over(w_run)
        )
        .withColumn("is_current", F.col("valid_to").isNull())
        .drop("__run")
    )
