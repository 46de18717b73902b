"""Document deduplication operators (north star, SURVEY.md §7 step 9).

Beyond the reference's event-level dedup (`OPTIMIZE FINAL`,
`initial-load/scripts/04-optimize-tables.sql:26-48` — covered by
:mod:`.latest_state`), an LLM-training-data pipeline needs *content*
dedup over a documents table. All operators here are pure DataFrame
compositions — built-in hash functions (`xxhash64`, `md5`), explode,
hash-shuffle group-bys and equi-joins — so they scale exactly like any
Spark aggregation: no driver state, no UDFs, no per-row Python.

Scale design at 100 TB:
- exact dedup: one shuffle on a 64/128-bit content hash, never on the text.
- MinHash-LSH: per-doc signature rows are tiny (`num_hashes` longs); the
  only join is bucket-id equality on banded signatures, which by
  construction has bounded fan-out; exact Jaccard verification runs only
  on candidate pairs (a ~10^-5 fraction of the n^2 pair space).
- SimHash: banding by 16-bit chunks (pigeonhole: hamming<=3 over 64 bits
  guarantees one of 4 chunks equal) bounds the candidate join the same way.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


#: Inputs estimated under this many bytes are left un-spread: fanning a
#: sub-MB input across the cluster costs more in task scheduling + Python
#: worker round-trips than single-core processing of the whole input
#: (measured: a forced 32-way spread of a 780 KB corpus put 41 s of pure
#: overhead on a GEMM whose FLOPs are microseconds). 32 MiB single-core
#: shingling/hashing is ~seconds — below that, parallelism can't pay for
#: its own scheduling.
SPREAD_MIN_BYTES = 32 * 1024 * 1024


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for the plan (for a parquet scan: file
    bytes). Driver-side plan statistics — no job, no RDD materialization."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # non-JVM backends / stat-less plans: stay conservative
        return None


def spread(
    df: DataFrame,
    min_partitions: int | None = None,
    min_bytes: int = SPREAD_MIN_BYTES,
    by: str | None = None,
) -> DataFrame:
    """Ensure at least cluster-parallelism partitions before CPU-heavy
    narrow transforms (shingling, hashing) — but ONLY when the input is big
    enough that single-core execution would actually hurt.

    A small parquet file scans as ONE partition (one row group), which
    serializes every downstream narrow stage onto one core. At 100 TB the
    scan has thousands of splits and this is a no-op — the repartition only
    fires when the input is under-split, so it never adds a shuffle of big
    data. Conversely, for inputs under :data:`SPREAD_MIN_BYTES` the fan-out
    itself is the bottleneck (an explicit ``repartition(n)`` is exempt from
    AQE coalescing, so every downstream stage inherits n tasks), so tiny
    inputs are returned untouched and AQE sizes the rest of the plan.

    ``min_bytes`` tunes that floor per call site: the 32 MiB default was
    measured on Python/Arrow fan-out (worker round-trips dominate), but
    pure-codegen consumers (decimal aggregates, broadcast-join probes)
    amortize a fan-out at a few MB — the TPC-H rows pass ~4 MiB and
    measured 1.6 -> 1.2 s (pricing) / 2.1 -> 1.7 s (revenue_by_nation)
    at sf0.1 (r15 optimization round). At real scale both floors are
    moot: the scan is already split past cluster parallelism.

    ``by`` names a high-cardinality column to hash-partition on instead
    of round-robin: a keyless ``repartition(n)`` first pays a LOCAL SORT
    of its whole input (``spark.sql.execution.sortBeforeRepartition``,
    on since SPARK-23207 so retried tasks reproduce their row-to-
    partition assignment — guide §2.5), which tripled the fan-out's
    task-CPU on the TPC-H rows; hashing a real key is deterministic
    without the sort. Use a key with many more distinct values than
    partitions so the hash spreads evenly.
    """
    if df.isStreaming:  # .rdd is undefined on streams; micro-batch sizing
        return df  # is the trigger's job (maxOffsetsPerTrigger)
    size = _plan_size_bytes(df)
    if size is not None and size < min_bytes:
        return df
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        if by is not None:
            return df.repartition(target, F.col(by))
        return df.repartition(target)
    return df


# --- shingling ---------------------------------------------------------------

def tokens(text: Column | str) -> Column:
    """Whitespace tokenization, empty-safe.

    Flat expressions only: after stripping ALL leading/trailing
    whitespace, splitting on ``\\s+`` can produce an empty token ONLY for
    the empty string, so a flat ``when`` guard replaces the previous
    ``F.filter`` lambda — higher-order lambdas run interpreted, outside
    whole-stage codegen, and this expression sits under every shingle,
    stat, and language-ID scan in the engine.

    The strip must be ``regexp_replace(^\\s+|\\s+$)``, not ``F.trim``:
    Spark's trim removes only 0x20 spaces, so tab/newline-led text would
    otherwise leak a leading ``""`` token into shingles, MinHash
    signatures, stopword/length denominators, and language ID."""
    c = F.col(text) if isinstance(text, str) else text
    t = F.regexp_replace(c, r"^\s+|\s+$", "")
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def ngram_array(toks: Column, n: int) -> Column:
    """Sliding word n-grams of a token array, as an array column; tail
    positions with fewer than `n` words are NULL entries (filter them
    after explode, or count on `transform`/`filter` to skip them).

    Built with `zip_with` of the token array against its shifted slices
    instead of `transform(sequence(...), i -> slice(toks, i+1, n))`
    deliberately: higher-order lambdas run in the interpreted evaluator,
    where a lambda body that captures `toks` re-evaluates the whole
    tokenize expression per element — O(words^2) splits per document.
    `zip_with` evaluates each array argument once per row, so the cost is
    O(words). The tail zips against appended nulls and `concat` propagates
    them.
    """
    grams = toks
    for k in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, k + 1, F.greatest(F.size(toks) - k, F.lit(0))),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
    return grams


def shingle_sets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document distinct shingle SET as one narrow row:
    ``(id, __sh array<string>, n_sh)`` — no shuffle, no aggregate.

    This is the r16 building block under every shingle consumer: the
    dedup is per DOCUMENT (set semantics of (id, shingle)), and a
    document is one row, so it runs inside the row's gram array with
    ``array_distinct`` — the corpus-wide ``.distinct()`` exchange the
    pre-r16 :func:`word_shingles` paid is gone, and per-doc sizes
    (``n_sh``) are a ``size()`` projection instead of a corpus-wide
    groupBy.  The trailing NULL slots :func:`ngram_array` leaves are
    exactly the last ``n-1`` positions, so a ``slice`` drops them
    without a higher-order filter.  Bit-identical (id, shingle) sets to
    the corpus-wide-distinct form (260,388 rows at sf0.1; generation
    scan 1.01 -> 0.46 s); the sets are pinned by digest in
    ``tests/test_shingle_contracts.py``.

    Contract: one row per ``id`` (the documents-table invariant).  Rows
    sharing an id would no longer have their shingle sets merged — the
    pre-r16 corpus-wide distinct did that silently; no certified input
    has duplicate ids.

    The fan-out floor is 1 MiB, not spread()'s 32 MiB default: the
    zip_with n-gram chain runs in the interpreted evaluator (pure
    JVM CPU per byte, no Python worker round-trips), measured 3.3 ->
    2.5 s on the LSH row at sf0.1 from the fan-out alone; the spread
    hashes on ``id_col`` so the keyless-repartition local sort
    (sortBeforeRepartition, guide §2.5) never happens.  At real scale
    the scan is already split and spread() no-ops.

    The token array is materialized in its OWN projection before the
    n-gram expression: :func:`ngram_array`'s zip_with chain references
    its input 2(n-1) times, and common-subexpression elimination does
    not reach through higher-order lambdas — inlining ``tokens()``
    there re-runs the regex split per reference (measured 2.5x slower
    span generation at sf0.1).
    """
    toks = F.col("__tk")
    grams = F.array_distinct(
        F.slice(
            ngram_array(toks, n),
            1,
            F.greatest(F.size(toks) - (n - 1), F.lit(0)),
        )
    )
    return (
        spread(df, min_bytes=1024 * 1024, by=id_col)
        .select(F.col(id_col).alias("id"), tokens(text_col).alias("__tk"))
        .select("id", grams.alias("__sh"))
        .withColumn("n_sh", F.size("__sh").cast("long"))
    )


def word_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    The exploded view of :func:`shingle_sets` — same row set as the
    pre-r16 tokenize -> ngram -> explode -> corpus-wide distinct
    formulation (pinned in ``tests/test_shingle_contracts.py``), with
    the distinct exchange replaced by the per-row ``array_distinct``.
    """
    return shingle_sets(df, id_col, text_col, n).select(
        "id", F.explode("__sh").alias("shingle")
    )


# --- exact dedup -------------------------------------------------------------

def content_hash(text: Column | str) -> Column:
    """128-bit content fingerprint for exact dedup. md5 (hex text) so any
    engine can reproduce it; at 100 TB the hash shuffles instead of the
    document bodies."""
    return F.md5(F.col(text) if isinstance(text, str) else text)


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of byte-identical documents: (content_hash, n_docs, keep_id).

    keep_id = lowest id in the group (deterministic survivor choice).
    """
    return (
        df.select(F.col(id_col).alias("id"), content_hash(text_col).alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("n_docs"), F.min("id").alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


def dedup_exact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep one survivor (lowest id) per identical content: ONE shuffle on
    the content hash (rank window), original columns preserved. The
    groupBy-then-join-back formulation shuffles twice and re-reads the
    input; the window ranks in place, and WindowGroupLimit pushes the
    rn=1 filter into the shuffle read."""
    w = Window.partitionBy(content_hash(text_col)).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_incremental(
    new_df: DataFrame,
    seen_hashes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental exact dedup: drop new-batch documents whose content
    hash already exists in the historical fingerprint store, THEN dedup
    the batch against itself (keep-lowest-id) — the daily-ingest
    pattern where a batch joins a corpus that was already deduped.

    ``seen_hashes`` is a one-column ``(content_hash)`` DataFrame — the
    persisted fingerprint side of previous runs (store hashes, never
    bodies). Returns the surviving rows of ``new_df`` plus the batch's
    own hash column (``__content_hash``) so the caller can append the
    survivors' hashes back to the store — the loop closes without ever
    re-reading historical text.

    Scale shape: one anti-join keyed on the 128-bit hash (the store
    side is hash-only — at 10^12 documents it is ~32 TB of hex text vs
    the corpus' 100+ TB of bodies, and bucketing the store by hash
    makes the anti-join co-located), then the standard one-shuffle
    in-batch window dedup over batch-sized data only.
    """
    hashed = new_df.withColumn("__content_hash", content_hash(text_col))
    # same bind contract as the LSH store halves (_bind_store_half,
    # VERDICT r13 item 5): by NAME when the expected column is present,
    # positionally only for an exactly-one-column frame — extra columns
    # (a forgotten batch stamp, a whole survivors frame) fail loudly
    # instead of silently anti-joining on whatever sits first.
    cols = seen_hashes.columns
    if "content_hash" in cols or "__content_hash" in cols:
        key = "content_hash" if "content_hash" in cols else "__content_hash"
        if len(cols) != 1:
            extra = [c for c in cols if c != key]
            raise ValueError(
                f"seen_hashes has unexpected columns {extra}: expected "
                f"exactly ({key!r},) — select the hash column only "
                "before probing"
            )
        store = seen_hashes.select(F.col(key).alias("__content_hash"))
    elif len(cols) == 1:
        store = seen_hashes.select(
            F.col(cols[0]).alias("__content_hash")
        )
    else:
        raise ValueError(
            f"seen_hashes columns {cols} are not bindable to a single "
            "content-hash column: pass the one store column only"
        )
    fresh = hashed.join(store, "__content_hash", "left_anti")
    w = Window.partitionBy("__content_hash").orderBy(F.col(id_col))
    return (
        fresh.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# --- n-gram Jaccard ----------------------------------------------------------

def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """All-pairs n-gram Jaccard >= threshold: (id_a, id_b, jaccard), a<b.

    Inverted-index self-join on the shingle: only documents *sharing at
    least one shingle* ever meet, so cost is sum over shingles of df^2 —
    bounded by shingle frequency, not by n_docs^2.

    ``max_shingle_freq``: a shingle appearing in f documents contributes
    f·(f-1)/2 join pairs, all landing in ONE join task — at corpus scale a
    boilerplate shingle shared by 1M documents is 5·10^11 pairs and the
    job never finishes. Setting a cap drops shingles with document
    frequency above it *before* the join (the standard stop-shingle
    hardening). Denominators still count every shingle, so reported
    Jaccard is exact for pairs whose overlap isn't exclusively
    stop-shingles; pairs similar ONLY through boilerplate are the ones
    intentionally dropped. Default None = exact.

    The per-doc shingle-set table is persisted; cache lifetime is
    caller-owned (see :func:`minhash_lsh_dedup` for the full contract).

    r16 shape change (guide §2.4): the persisted table is the narrow
    :func:`shingle_sets` row per document, so per-doc sizes are a
    ``size()`` projection off the cache instead of a corpus-wide
    groupBy aggregate — one exchange gone; the exploded view feeding
    the inverted-index join derives from the same cache.  Output rows
    pinned by digest in ``tests/test_shingle_contracts.py``.
    """
    from pyspark import StorageLevel

    # sets feeds three branches (the exploded join sides + both size
    # lookups) — same explicit persist rationale as minhash_lsh_dedup
    sets = shingle_sets(df, id_col, text_col, n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sh = sets.select("id", F.explode("__sh").alias("shingle"))
    sizes = sets.select("id", "n_sh")
    if max_shingle_freq is not None:
        # Stop-list form, NOT a count-over-window: the window would
        # shuffle AND SORT every shingle occurrence by its string —
        # a corpus-wide sort far costlier than the f² blowup it guards
        # (measured 4x the uncapped join at sf0.1). A hash aggregate
        # map-side-combines to one row per distinct shingle, the
        # over-cap survivors are by construction a TINY hot-shingle
        # list (each represents > max_shingle_freq documents), and the
        # anti-join against it broadcasts.
        stop = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") > max_shingle_freq)
            .select("shingle")
        )
        sh = sh.join(stop, "shingle", "left_anti")
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --- benchmark decontamination ----------------------------------------------

def ngram_contamination(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Training-corpus decontamination: flag documents sharing word
    n-grams with a benchmark/evaluation set — the overlap check every
    public LLM training report runs before training (GPT-3 popularized
    13-gram overlap; n is caller-tuned to the corpus).

    Returns ``(id, n_shingles, n_hits, contamination)`` for every corpus
    document with at least one distinct n-gram also present in the eval
    set; ``contamination = n_hits / n_shingles`` over DISTINCT n-grams.

    Scale shape: eval suites are thousands of documents against a corpus
    of billions, so the eval shingle set is the textbook small join side
    — left-joined hint-free (AQE broadcasts it when genuinely small and
    degrades to a shuffle join instead of OOMing if a caller passes a
    data-sized "benchmark"). The corpus shingle table then shuffles once,
    on the group key.
    """
    doc_sh = word_shingles(docs, id_col, text_col, n)
    bench_sh = (
        word_shingles(bench, id_col, text_col, n)
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        doc_sh.join(bench_sh, "shingle", "left")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hits"),
        )
        .filter(F.col("n_hits") > 0)
        .withColumn(
            "contamination", F.col("n_hits") / F.col("n_shingles")
        )
    )


# --- cross-document repeated spans (substring-level dedup signal) ------------

def span_digest_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 8,
    extras: tuple[str, ...] = (),
    with_start: bool = False,
) -> DataFrame:
    """Positional ``w``-token span digests as one Arrow batch kernel:
    ``(id_col[, start][, *extras], span)`` with ``span`` the md5 hex of
    the space-joined span text — bit-identical to the JVM
    ``tokens -> ngram_array -> posexplode -> md5`` pipeline (pinned in
    ``tests/test_dedup_spans.py``; the row set itself is pinned by digest
    in ``tests/test_shingle_contracts.py``).

    Why Python here (guide §4.2, r15 optimization round): the JVM span
    build runs ``w-1`` interpreted ``zip_with`` rounds per row — each
    allocating a full intermediate string array — because higher-order
    lambdas never enter whole-stage codegen; one Arrow kernel doing the
    tokenize/slide/md5 in a tight loop measured 2x faster at sf0.1
    (1.29 s -> 0.63 s for the generation scan). Only ``id/extras``
    (taken from the incoming batch, so types pass through) and the
    40-byte digests cross the boundary back.

    At 100 TB the shape is unchanged: one corpus scan, spans travel as
    digests, downstream shuffles identical. The Python fan-out floor is
    1 MiB (not spread()'s 32 MiB default): this kernel is pure CPU per
    batch with no heavyweight per-task init, measured faster fanned out
    at sub-MiB inputs already.
    """
    import pyarrow as pa

    cols = [id_col, text_col, *extras]
    src = spread(df.select(*cols), min_bytes=1024 * 1024)
    names = (
        [id_col]
        + (["start"] if with_start else [])
        + list(extras)
        + ["span"]
    )
    schema_parts = [f"{id_col} {df.schema[id_col].dataType.simpleString()}"]
    if with_start:
        schema_parts.append("start int")
    schema_parts += [
        f"{c} {df.schema[c].dataType.simpleString()}" for c in extras
    ]
    schema_parts.append("span string")
    out_schema = ", ".join(schema_parts)

    def kern(batches):
        import re
        from hashlib import md5

        # bytes-level tokenize (r16): Arrow strings are UTF-8 already,
        # so casting the column to binary skips the per-row UTF-8
        # decode, and a bytes regex \s+ is inherently ASCII-only —
        # identical split/strip semantics to the old str path with
        # re.ASCII (multi-byte UTF-8 never contains ASCII bytes).  Each
        # document's tokens join into ONE buffer; every span is then a
        # slice of it (token byte-offsets are a running sum), so the
        # per-span w-token join+encode the old loop paid is gone.  The
        # md5 C call itself is the irreducible floor (~0.7 us/span);
        # measured 0.277 -> 0.238 s inner-loop CPU on the 235,704-span
        # sf0.1 fixture, digests bit-identical (tools/ab_span_digests.py
        # + tests/test_dedup_spans.py pin the whitespace-class edges).
        wsb = re.compile(rb"\s+")
        for batch in batches:
            texts = batch.column(1).cast(pa.binary()).to_pylist()
            idx: list[int] = []
            starts: list[int] = []
            digests: list[str] = []
            for rix, t in enumerate(texts):
                if t is None:
                    continue
                st = t.strip(b" \t\n\r\f\x0b")
                toks = wsb.split(st) if st else []
                nsp = len(toks) - w + 1
                if nsp <= 0:
                    continue
                joined = b" ".join(toks)
                offs = [0]
                o = 0
                for tk in toks:
                    o += len(tk) + 1
                    offs.append(o)
                idx.extend([rix] * nsp)
                if with_start:
                    starts.extend(range(nsp))
                digests.extend(
                    md5(joined[offs[j] : offs[j + w] - 1]).hexdigest()
                    for j in range(nsp)
                )
            take = pa.array(idx, pa.int32())
            arrays = [batch.column(0).take(take)]
            if with_start:
                arrays.append(pa.array(starts, pa.int32()))
            for k in range(2, batch.num_columns):
                arrays.append(batch.column(k).take(take))
            arrays.append(pa.array(digests, pa.string()))
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return src.mapInArrow(kern, out_schema)


def repeated_span_report(
    df: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "source",
    text_col: str = "text",
    w: int = 8,
) -> DataFrame:
    """Exact substring-level duplication audit: the fraction of each
    group's ``w``-token span *occurrences* that also appear in at least
    one OTHER document — the signal behind substring deduplication
    (repeated boilerplate/template spans inflate memorization even when
    whole-document dedup passes).  Beyond-reference op; the reference
    pipeline ships payloads without content analysis.

    Per group: ``total_spans``, ``repeated_spans`` (occurrences whose
    span text occurs in >= 2 distinct documents), ``repeated_ratio``,
    and ``flagged_docs`` (documents where repeated occurrences are at
    least half of their spans — integer comparison, no float
    threshold).  Documents shorter than ``w`` tokens contribute no
    spans and cannot be flagged.

    Scale shape: the corpus is tokenized/shingled ONCE (the Arrow span
    kernel, :func:`span_digest_rows` — r15), and spans travel as md5
    digests, never as the ``w``-token strings.  Per-occurrence
    repeat flags come from a window over the span digest — "occurs in
    >= 2 distinct docs" is just ``min(id) != max(id)`` over the span's
    partition, so the window state is two longs per span (no set
    materialization, boilerplate-span-skew-tolerant; WindowExec spills
    the narrow buffered rows).  This replaces the earlier
    aggregate-then-join-back formulation, which scanned and shingled
    the corpus twice — measured 2.3x slower at sf0.1 for identical
    output.  Total: one scan, one occurrence shuffle on the digest, one
    map-side-combined per-doc aggregate.
    """
    occ = span_digest_rows(
        df, id_col, text_col, w, extras=(group_col,)
    ).select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("grp"),
        "span",
    )
    w_span = Window.partitionBy("span")
    per_doc = (
        occ.withColumn(
            "__rep",
            (
                F.min("id").over(w_span) != F.max("id").over(w_span)
            ).cast("long"),
        )
        .groupBy("id", "grp")
        .agg(
            F.count("*").alias("n_sp"),
            F.sum("__rep").alias("n_rep"),
        )
    )
    return (
        per_doc.groupBy("grp")
        .agg(
            F.sum("n_sp").alias("total_spans"),
            F.sum("n_rep").alias("repeated_spans"),
            (
                F.round(
                    F.sum("n_rep").cast("double") / F.sum("n_sp"), 6
                )
                + F.lit(0.0)
            ).alias("repeated_ratio"),
            F.sum(
                (F.col("n_rep") * 2 >= F.col("n_sp")).cast("long")
            ).alias("flagged_docs"),
        )
        .select(
            F.col("grp").alias(group_col),
            "total_spans",
            "repeated_spans",
            "repeated_ratio",
            "flagged_docs",
        )
        .orderBy(group_col)
    )


def remove_repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 8,
) -> DataFrame:
    """Exact substring deduplication REWRITE (the Lee et al. 2022 move:
    don't just audit repeated spans — emit the corpus with them removed).

    Contract: for every distinct ``w``-token span text, the globally
    first occurrence (minimum ``(id, start)``) is canonical; every other
    occurrence is a duplicate, and ALL token positions covered by at
    least one duplicate occurrence are dropped.  The document is then
    re-joined from its surviving tokens in position order.  Aggressive
    by design (overlap with a duplicate span kills a token even if some
    other span covering it is canonical) — deterministic, integer-exact,
    and expressible in any SQL engine, which is what the driver oracle
    certifies via the rewrite-stats rollup.

    Returns ``(id, text, n_tokens_before, n_tokens_after)``.

    Scale shape (r15 optimization round — the rewrite now edits the
    token ARRAY per document instead of exploding, anti-joining and
    re-collecting every corpus token): two narrow scans of the corpus
    (span table + token-array table) — scan-bound, no document bodies
    in any shuffle except the one id-keyed join that attaches each
    document's covered-position set; spans shuffle once as md5 digests
    for the canonical-occurrence window; duplicate coverage explodes to
    at most ``w`` (id, pos) rows per duplicate occurrence, distincts
    map-side, and aggregates to ONE row per affected document. The old
    formulation shuffled every corpus token twice (exploded anti-join
    on (id, pos) + collect_list/array_sort rebuild); this one moves
    each surviving document's tokens once, as an array, and drops /
    rejoins positions with flat array expressions (array_except +
    element_at) — measured 3.3 s -> 2.1 s at sf0.1 for identical
    output, and at 100 TB one corpus-sized shuffle replaces two.
    Documents shorter than ``w`` tokens pass through untouched.
    """
    spans = span_digest_rows(
        df, id_col, text_col, w, with_start=True
    ).select(F.col(id_col).alias("id"), "start", "span")
    w_span = Window.partitionBy("span").orderBy("id", "start")
    dup_occ = (
        spans.withColumn("__rn", F.row_number().over(w_span))
        .filter(F.col("__rn") > 1)
        .select("id", "start")
    )
    covpos = (
        dup_occ.select(
            "id",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + (w - 1))
            ).alias("pos"),
        )
        .distinct()
        .groupBy("id")
        .agg(F.collect_list("pos").alias("__cov"))
    )
    base = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("__tk")
    )
    n_tok = F.size("__tk")
    # surviving positions in ascending order: array_except preserves
    # the first argument's (sequence) order; __cov order is irrelevant
    kept = F.when(
        F.col("__cov").isNull(),
        F.sequence(F.lit(0), n_tok - 1),
    ).otherwise(
        F.array_except(F.sequence(F.lit(0), n_tok - 1), F.col("__cov"))
    )
    joined = base.join(covpos, "id", "left").withColumn(
        "__kp", F.when(n_tok > 0, kept)
    )
    return joined.select(
        F.col("id").alias(id_col),
        F.when(
            n_tok > 0,
            F.array_join(
                F.transform(
                    F.col("__kp"),
                    lambda p: F.element_at(F.col("__tk"), p + 1),
                ),
                " ",
            ),
        )
        .otherwise(F.lit(""))
        .alias(text_col),
        n_tok.cast("long").alias("n_tokens_before"),
        F.coalesce(F.size("__kp"), F.lit(0))
        .cast("long")
        .alias("n_tokens_after"),
    )


# --- MinHash + LSH -----------------------------------------------------------

def minhash_signatures(
    shingle_df: DataFrame, num_hashes: int = 64
) -> DataFrame:
    """(id, sig) where sig = array of `num_hashes` min-hash values, from the
    exploded (id, shingle) table (:func:`word_shingles`).

    Hash family: ``xxhash64(seed_i, shingle)`` — Spark's built-in 64-bit
    hash with the seed folded in as a literal, i.e. `num_hashes` independent
    permutation approximations with zero Python. The whole signature is ONE
    hash aggregate with `num_hashes` `min` columns: flat (non-higher-order)
    expressions that stay inside whole-stage codegen, partial-aggregated
    map-side, so the shuffle moves `num_hashes` longs per doc regardless of
    document size.

    (A previous formulation — `transform` over seeds of `array_min` over a
    per-doc shingle array — benched 40x slower: higher-order functions drop
    out of codegen into interpreted eval, and projection collapse inlined
    the shingle construction once per seed.)
    """
    aggs = [
        F.min(F.xxhash64(F.lit(s), F.col("shingle"))).alias(f"_h{s}")
        for s in range(num_hashes)
    ]
    return (
        shingle_df.groupBy("id")
        # n_sh rides along in the same aggregate: callers that also need
        # per-doc shingle counts (exact-Jaccard verification denominators)
        # get them without a second pass over the shingle table
        .agg(*aggs, F.count("*").alias("n_sh"))
        .select(
            "id",
            F.array(*[f"_h{s}" for s in range(num_hashes)]).alias("sig"),
            "n_sh",
        )
    )


def band_buckets(
    signatures: DataFrame, bands: int = 32, num_hashes: int = 64
) -> DataFrame:
    """(id, bucket) banded-LSH rows from minhash signatures.

    Each signature is cut into `bands` contiguous bands of
    ``num_hashes/bands`` rows; the bucket id is a hash of (band_index,
    band values) so downstream join keys are a single long. This is the
    persistable HALF of the LSH pipeline: write these rows (bucketed by
    ``bucket``) as the historical store for
    :func:`minhash_incremental`, or self-join them via
    :func:`lsh_candidate_pairs` for the one-shot batch pipeline.

    The band cut is generated as `bands` FLAT bucket expressions (python
    loop over literal indices), not a `transform(sequence(...))` lambda:
    higher-order lambdas run row-at-a-time in the interpreted evaluator,
    while flat element references stay inside whole-stage codegen.
    """
    if bands > num_hashes:
        raise ValueError(
            f"bands ({bands}) must be <= num_hashes ({num_hashes}): a "
            "zero-width band hashes every doc to one bucket -> O(n^2) join"
        )
    if num_hashes % bands:
        raise ValueError(
            f"num_hashes ({num_hashes}) must divide evenly into bands "
            f"({bands}): trailing signature elements would be silently "
            "ignored, changing the collision probability"
        )
    width = num_hashes // bands
    buckets = [
        F.xxhash64(
            F.lit(b),
            F.concat_ws(
                ",",
                *[
                    F.col("sig")[b * width + i].cast("string")
                    for i in range(width)
                ],
            ),
        )
        for b in range(bands)
    ]
    # runtime guard: if the signatures were built with a different
    # num_hashes, element references past the end are NULL and concat_ws
    # silently skips them — the upper bands become per-band CONSTANTS and
    # every doc collides there (the O(n^2) blowup the ValueErrors above
    # exist to prevent). Fail loudly instead of degrading quietly.
    guarded = F.when(F.size("sig") == num_hashes, F.array(*buckets)).otherwise(
        F.raise_error(
            F.concat(
                F.lit("band_buckets: signature length "),
                F.size("sig").cast("string"),
                F.lit(f" != num_hashes {num_hashes}"),
            )
        )
    )
    return signatures.select("id", F.explode(guarded).alias("bucket"))


def lsh_candidate_pairs(
    signatures: DataFrame, bands: int = 32, num_hashes: int = 64
) -> DataFrame:
    """Banded-LSH candidate pairs (id_a, id_b), a<b, from minhash
    signatures: docs agreeing on *any* full band collide in a bucket.
    Default 32 bands x 2 rows: at J=0.5 the candidate-recall is
    1-(1-0.25)^32 ~ 0.9999 — err on recall, since the exact-Jaccard
    verification step prunes false candidates cheaply. The self-join
    shuffles (id, bucket) pairs only (see :func:`band_buckets`).
    """
    banded = band_buckets(signatures, bands, num_hashes)
    a = banded.select(F.col("id").alias("id_a"), "bucket")
    b = banded.select(F.col("id").alias("id_b"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 32,
    threshold: float = 0.5,
    caches: list | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle -> signature -> banded
    buckets -> candidate pairs -> exact-Jaccard verification >= threshold.

    Returns verified (id_a, id_b, jaccard). The verification join re-uses
    the same exploded shingle table the signatures aggregate over — one
    shingle computation feeds both paths; only candidate pairs pay the
    exact-Jaccard cost.

    Shape (r16, guide §2.4 — candidate generation and verification share
    ONE narrow per-document table): :func:`shingle_sets` gives each
    document's distinct-shingle ARRAY and size scan-side (no shuffle);
    the signature aggregate runs over its exploded view (flat codegen
    min columns, partial-aggregated map-side — unchanged); candidates
    come from the banded self-join as before; verification attaches each
    side's shingle array by id and counts the overlap with
    ``array_intersect`` — exact set intersection, bit-identical Jaccard.
    The pre-r16 formulation instead re-joined the exploded shingle table
    twice (an (id_b, shingle)-keyed join over every candidate shingle
    occurrence) and re-aggregated pairs — corpus-shingle-sized exchanges
    that no longer exist (26 -> 17 Exchanges, 7 -> 4 scans at sf0.1;
    same-session A/B 2.9-3.0 -> 2.5-2.7 s; output rows pinned by digest
    in ``tests/test_shingle_contracts.py``).

    One table is persisted (memory-and-disk, LRU-evicted), because
    Catalyst only reuses *identical* subplans: the per-document set
    table — one narrow row per document — feeds the signature path and
    both verification sides.  The exploded shingle rows now have exactly
    one consumer, so their persist is gone.  Per-row size is bounded by
    the document itself (the shingle array is ~n x the document's token
    bytes), so rows stay well-formed at 100 TB — no cross-document state
    concentrates anywhere, and the candidate joins ship each candidate
    document's array exactly as many times as the old shape shipped its
    exploded shingle rows.

    Cache lifetime is caller-owned: unpersisting here is impossible (the
    return value is lazy — the cache must outlive the caller's action).
    Distinct input corpora each hold one MEMORY_AND_DISK entry until LRU
    eviction; a long-lived session processing many corpora should call
    ``spark.catalog.clearCache()`` between them.
    """
    from pyspark import StorageLevel

    sets = shingle_sets(df, id_col, text_col, n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    if caches is not None:
        caches.append(sets)
    sig = minhash_signatures(
        sets.select("id", F.explode("__sh").alias("shingle")), num_hashes
    )
    cand = lsh_candidate_pairs(sig, bands, num_hashes)
    a = sets.select(
        F.col("id").alias("id_a"),
        F.col("n_sh").alias("n_a"),
        F.col("__sh").alias("__sh_a"),
    )
    b = sets.select(
        F.col("id").alias("id_b"),
        F.col("n_sh").alias("n_b"),
        F.col("__sh").alias("__sh_b"),
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "n_inter",
            F.size(F.array_intersect("__sh_a", "__sh_b")).cast("long"),
        )
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        # n_inter > 0: at threshold 0 a disjoint candidate pair (a band
        # collision without a shared shingle) is not a pair, as it never
        # is in jaccard_pairs, whose join meets only on a shared shingle
        .filter((F.col("jaccard") >= threshold) & (F.col("n_inter") > 0))
        .select("id_a", "id_b", "jaccard")
    )


def lsh_store_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 32,
) -> DataFrame:
    """(id, bucket) rows for the persistent LSH store — the candidate-
    generation half of :func:`minhash_incremental`. Write bucketed by
    ``bucket`` (sources/bucketed.py) so incremental probes co-locate."""
    sh = word_shingles(df, id_col, text_col, n)
    return band_buckets(minhash_signatures(sh, num_hashes), bands, num_hashes)


def lsh_store_digests(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(id, digest) rows — md5 shingle digests for the persistent store's
    verification half. Hash-only, like :func:`dedup_incremental`'s
    fingerprint store: at 10^12 documents the digests are a fraction of
    the corpus bodies, and no text is ever re-read to verify."""
    return word_shingles(df, id_col, text_col, n).select(
        F.col("id"), F.md5("shingle").alias("digest")
    )


def lsh_store(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 32,
    caches: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Both store halves — ``(buckets, digests)`` — from ONE shingle
    pass: the tokenize→ngram→distinct pipeline is the dominant cost of
    building the store, and the separate :func:`lsh_store_buckets` /
    :func:`lsh_store_digests` calls each recompute it. The shared
    shingle table persists MEMORY_AND_DISK (same caller-owned-cache
    contract as :func:`minhash_lsh_dedup`), so bootstrapping a store
    over a historical corpus scans it once, not twice."""
    from pyspark import StorageLevel

    sh = word_shingles(df, id_col, text_col, n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    if caches is not None:
        caches.append(sh)
    buckets = band_buckets(
        minhash_signatures(sh, num_hashes), bands, num_hashes
    )
    digests = sh.select(F.col("id"), F.md5("shingle").alias("digest"))
    return buckets, digests


def _bind_store_half(store: DataFrame, key: str) -> DataFrame:
    """Bind one persisted LSH-store half to (old_id, <key>) — by NAME
    when the expected columns ('id', key) are present, positionally only
    for an exactly-two-column frame with other names. A frame with extra
    columns (the classic slip: a caller forgetting to drop the 'batch'
    stamp after the replay filter) fails loudly instead of silently
    mis-binding the id/key roles and corrupting candidate generation."""
    cols = store.columns
    if "id" in cols and key in cols:
        if len(cols) != 2:
            extra = [c for c in cols if c not in ("id", key)]
            raise ValueError(
                f"store half has unexpected columns {extra}: expected "
                f"exactly ('id', {key!r}) — drop the replay/batch stamp "
                "before probing"
            )
        return store.select(
            F.col("id").alias("old_id"), F.col(key).alias(key)
        )
    if len(cols) == 2:
        return store.select(
            F.col(cols[0]).alias("old_id"), F.col(cols[1]).alias(key)
        )
    raise ValueError(
        f"store half columns {cols} are not bindable to ('id', {key!r}): "
        "pass the two store columns only, named as lsh_store_* produce "
        "them"
    )


def minhash_incremental(
    new_df: DataFrame,
    seen_buckets: DataFrame,
    seen_digests: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 32,
    threshold: float = 0.5,
    caches: list | None = None,
) -> DataFrame:
    """Incremental NEAR-dup: drop new-batch documents whose verified
    Jaccard against the historical corpus reaches ``threshold`` — the
    daily-ingest companion of :func:`dedup_incremental` (which is
    exact-hash only). The store is hash-only: ``seen_buckets`` =
    :func:`lsh_store_buckets` rows (candidate generation),
    ``seen_digests`` = :func:`lsh_store_digests` rows (exact-Jaccard
    verification over md5 shingle digests — identical counts to raw
    shingles). Returns the surviving rows of ``new_df``; append the
    survivors' own bucket/digest rows to the store to close the loop.

    Scale shape (r16 — same candidate+verify fusion as
    :func:`minhash_lsh_dedup`): the batch's :func:`shingle_sets` rows
    carry each document's shingle array, size, and (via a one-pass
    ``transform``) its md5 digest array scan-side; the batch's
    (id, bucket) rows probe the store with one equi-join on the band
    hash (bucketed store ⇒ co-located, shuffle ∝ batch); verification
    touches only candidate old-docs' digests (semi-join first, then ONE
    aggregate that yields each candidate old-doc's distinct digest set,
    so duplicate store rows never deflate the Jaccard — the store is
    never fully aggregated), and the overlap is
    ``array_intersect`` per candidate pair.  The pre-r16 formulation
    re-joined the exploded batch digests against the exploded candidate
    store digests on (old_id, digest) and re-aggregated pairs —
    per-occurrence exchanges that no longer exist.  The store PARQUET
    LAYOUT is unchanged: digests persist as exploded hash-only
    (id, digest) rows exactly as :func:`lsh_store_digests` writes them;
    arrays exist only inside this probe's plan.  Candidate recall at
    J>=threshold follows the 1-(1-J^r)^b band bound documented on
    :func:`lsh_candidate_pairs`.
    Documents with fewer than ``n`` words have no shingles and always
    survive (nothing to match on — pair them with exact-hash dedup).
    In-batch duplicates are NOT dropped here: run the batch through
    :func:`minhash_lsh_dedup`/:func:`dedup_by_pairs` first if the batch
    itself may contain near-dups.
    """
    from pyspark import StorageLevel

    sets = shingle_sets(new_df, id_col, text_col, n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    if caches is not None:
        caches.append(sets)
    sig = minhash_signatures(
        sets.select("id", F.explode("__sh").alias("shingle")), num_hashes
    )
    nb = band_buckets(sig, bands, num_hashes)
    sb = _bind_store_half(seen_buckets, "bucket")
    cand = (
        nb.join(sb, "bucket")
        .select(F.col("id").alias("new_id"), "old_id")
        .distinct()
    )
    od = _bind_store_half(seen_digests, "digest")
    # only candidate old-docs' digests move: semi-join before the
    # aggregate, then one distinct digest set per candidate — a document
    # appended to the store twice must not count its shingles twice
    old_sets = (
        od.join(cand.select("old_id").distinct(), "old_id")
        .groupBy("old_id")
        .agg(F.collect_set("digest").alias("__dg_b"))
    )
    na = sets.select(
        F.col("id").alias("new_id"),
        F.col("n_sh").alias("n_a"),
        # one interpreted pass per row (md5 of each shingle) — NOT the
        # per-seed re-evaluation trap minhash_signatures documents: the
        # lambda body references only its element
        F.transform("__sh", F.md5).alias("__dg_a"),
    )
    dup_ids = (
        cand.join(na, "new_id")
        .join(old_sets, "old_id")
        .withColumn(
            "n_inter",
            F.size(F.array_intersect("__dg_a", "__dg_b")).cast("long"),
        )
        .withColumn(
            "jaccard",
            F.col("n_inter")
            / (F.col("n_a") + F.size("__dg_b") - F.col("n_inter")),
        )
        # n_inter > 0: at threshold 0 a store document sharing no
        # shingle with the new one does not make it a duplicate
        .filter((F.col("jaccard") >= threshold) & (F.col("n_inter") > 0))
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    return new_df.join(dup_ids, id_col, "left_anti")


# --- pair graph -> clusters -> survivors -------------------------------------

def duplicate_clusters(
    pairs: DataFrame, max_iterations: int = 20
) -> DataFrame:
    """Connected components of a near-dup pair graph: (id, cluster_id),
    cluster_id = the component's minimum id, one row per id that appears
    in any pair. Pair emitters (:func:`jaccard_pairs`,
    :func:`minhash_lsh_dedup`, SimHash/embedding near-dup) say *which*
    documents collide; deduping a corpus needs the transitive closure —
    A~B and B~C must retire B AND C, not just one of each pair.

    Algorithm: iterative min-label propagation. Every node starts labeled
    with itself; each round it adopts the minimum label among itself and
    its neighbors; converged when a round changes nothing. Rounds needed =
    graph diameter — near-dup components are small quasi-cliques (diameter
    1-3), so 2-4 rounds in practice; ``max_iterations`` bounds adversarial
    chains. Scale shape per round: one broadcast-or-shuffle equi-join of
    (edge, label) + a min aggregate — labels are (long, long) pairs, the
    document text never enters the loop.

    Each round's label frame is ``localCheckpoint``-ed (eager): without
    lineage TRUNCATION — persist alone is not enough — every iteration's
    plan embeds the whole history and Catalyst re-analysis grows
    super-linearly, the classic iterative-algorithm stall (measured: a
    12-round chain spent minutes planning, milliseconds executing). On a
    cluster with a checkpoint dir, ``checkpoint()`` gives the same
    truncation plus executor-loss safety. Checkpoint storage lives
    OUTSIDE the SQL CacheManager (``DataFrame.unpersist`` is a silent
    no-op on it): superseded rounds are freed by the ContextCleaner as
    the loop rebinds past them, and the final frame the same way once
    the caller drops its reference — nothing here needs (or can use) a
    caller-side unpersist.
    """
    from pyspark import StorageLevel

    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("id_b").alias("src"), F.col("id_a").alias("dst")
            )
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("lbl"))
        .select(
            F.col("src").alias("id"),
            F.least(F.col("src"), F.col("lbl")).alias("lbl"),
        )
        .localCheckpoint()
    )
    changed = 0
    for _ in range(max_iterations):
        # neighbor's current label, keyed by this node
        neighbor_lbl = (
            edges.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("lbl").alias("nlbl"))
        )
        new_labels = (
            labels.join(
                neighbor_lbl.withColumnRenamed("src", "id"), "id", "left"
            )
            .select(
                "id",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))
                ).alias("lbl"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .count()
        )
        # the superseded round's localCheckpoint RDD is dead weight the
        # moment `changed` is counted; rebinding drops the last Python
        # reference and the ContextCleaner frees its storage (checkpoint
        # frames live outside the SQL CacheManager — DataFrame.unpersist
        # would be a silent no-op on them)
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0:
        # a component with diameter > max_iterations would otherwise be
        # SILENTLY split into several clusters (extra dedup survivors) —
        # truncation must be visible to the caller
        warnings.warn(
            f"duplicate_clusters: label propagation did not converge in "
            f"{max_iterations} iterations ({changed} labels still "
            "changing) — components wider than the iteration bound are "
            "split; raise max_iterations",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select("id", F.col("lbl").alias("cluster_id"))


def dedup_by_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    keep_by: Column | str | None = None,
) -> DataFrame:
    """Materialize the deduplicated corpus: keep one survivor per
    near-dup cluster, all original columns preserved.

    Survivor rule: the minimum id by default; with ``keep_by`` (a column
    name or expression over ``df``) the survivor is the cluster's ARGMAX
    of that metric, ties broken by lowest id — the RefinedWeb-style
    "keep the longest / highest-quality duplicate" rule
    (``keep_by="n_chars"`` or a quality score).

    Scale shape: the cluster table is pair-graph-sized (tiny vs the
    corpus); with ``keep_by`` the metric values for CLUSTERED ids only
    join in (AQE-broadcast of the cluster side), the per-cluster argmax
    is a cluster-count-sized aggregate, and the removal stays a
    left-anti join of ids — with NO broadcast hint: the loser count is
    DATA-sized (a heavily duplicated corpus retires a large fraction of
    itself), so AQE broadcasts when the set is actually small and falls
    back to a shuffle join instead of OOMing on a forced hint."""
    clusters = duplicate_clusters(pairs)
    if keep_by is None:
        losers = clusters.filter(
            F.col("id") != F.col("cluster_id")
        ).select(F.col("id").alias(id_col))
        return df.join(losers, id_col, "left_anti")
    m = F.col(keep_by) if isinstance(keep_by, str) else keep_by
    memb = df.select(
        F.col(id_col).alias("id"), m.alias("__m")
    ).join(clusters, "id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("__m").desc_nulls_last(), F.col("id")
    )
    losers = (
        memb.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > 1)
        .select(F.col("id").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")


# --- SimHash -----------------------------------------------------------------

def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash per document: (id, simhash).

    Each token hashes to 64 bits (`xxhash64`); bit b of the document hash
    is the sign of sum over tokens of (+1 if bit set else -1). Expressed as
    64 native aggregate expressions over the exploded token table — heavy
    but fully JVM-side and embarrassingly parallel.
    """
    tok = spread(df).select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("t")
    ).withColumn("h", F.xxhash64("t"))
    bit_sums = [
        F.sum(
            (F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"b{b}")
        for b in range(64)
    ]
    agg = tok.groupBy("id").agg(*bit_sums)
    # reassemble: set bit b iff sum_b > 0 (use bit 63 via two 32-bit halves
    # to avoid sign issues: build as sum of powers in a long)
    expr = None
    for b in range(64):
        term = F.when(F.col(f"b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
            F.lit(0).cast("long")
        )
        expr = term if expr is None else expr.bitwiseOR(term)
    return agg.select("id", expr.alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.

    Candidate generation by 16-bit chunk banding: for hamming<=3 over 64
    bits, at least one of the 4 chunks is identical (pigeonhole), so the
    equi-join on (chunk_index, chunk_value) finds all true pairs without
    an n^2 comparison. Exact distance via bit_count(xor).
    """
    sh = simhash(df, id_col, text_col)
    chunks = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_idx"),
                        F.shiftright(F.col("simhash"), c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk_val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("c"),
    ).select("id", "simhash", "c.chunk_idx", "c.chunk_val")
    a = chunks.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"),
        "chunk_idx", "chunk_val",
    )
    b = chunks.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"),
        "chunk_idx", "chunk_val",
    )
    return (
        a.join(b, ["chunk_idx", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
