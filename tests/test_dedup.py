"""Deduplication operator tests: exact, n-gram Jaccard, MinHash-LSH,
SimHash — semantics on a hand-built corpus with known duplicate structure."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from neo4j_to_clickhouse_spark.operators import dedup as D

# doc 1 == doc 2 (byte-identical); doc 3 is a near-dup of 1 (one word
# changed out of 12); doc 4 is unrelated; doc 5 is a near-dup of 4.
CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog near the river"),
    (2, "the quick brown fox jumps over the lazy dog near the river"),
    (3, "the quick brown fox jumps over the lazy cat near the river"),
    (4, "spark structured streaming writes month partitioned parquet tables downstream"),
    (5, "spark structured streaming writes month partitioned parquet files downstream"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(CORPUS, ["doc_id", "text"])


def test_exact_duplicates(docs):
    groups = D.exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0].n_docs == 2
    assert groups[0].keep_id == 1


def test_dedup_exact_keeps_survivor(docs):
    kept = {r.doc_id for r in D.dedup_exact(docs).collect()}
    assert kept == {1, 3, 4, 5}  # doc 2 collapsed into doc 1


def test_word_shingles(docs):
    sh = D.word_shingles(docs.filter(F.col("doc_id") == 1), n=3).collect()
    shingles = {r.shingle for r in sh}
    assert "the quick brown" in shingles
    assert "near the river" in shingles
    # 12 tokens -> 10 trigrams, all distinct here except none repeat
    assert len(shingles) == 10


def test_shingles_short_doc_empty(spark):
    """Docs shorter than n tokens produce no shingles (not a crash)."""
    short = spark.createDataFrame([(9, "too short")], ["doc_id", "text"])
    assert D.word_shingles(short, n=3).count() == 0


def test_jaccard_pairs_find_near_dups(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0  # identical
    assert 0.5 <= pairs[(1, 3)] < 1.0  # one-word edit
    assert (1, 4) not in pairs  # unrelated
    assert (4, 5) in pairs


def test_minhash_lsh_matches_exact_jaccard(docs):
    """LSH candidates that survive verification carry the *exact* Jaccard
    value, so on a corpus this small LSH must find the same pairs as the
    brute-force operator (identical or one-edit docs always collide in
    at least one band)."""
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.jaccard_pairs(docs, threshold=0.5).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.minhash_lsh_dedup(docs, threshold=0.5).collect()
    }
    assert lsh == exact


def test_simhash_is_deterministic_64bit(docs):
    a = {r.id: r.simhash for r in D.simhash(docs).collect()}
    b = {r.id: r.simhash for r in D.simhash(docs).collect()}
    assert a == b
    assert a[1] == a[2]  # identical docs -> identical simhash


def test_simhash_near_duplicates(docs):
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in D.simhash_near_duplicates(docs, max_hamming=3).collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 4) not in pairs


def test_jaccard_stop_shingle_cap(spark):
    """A shingle shared by every doc is dropped by the frequency cap; pairs
    whose only overlap is the stop-shingle disappear, pairs with other
    shared shingles survive (with their intersection reduced)."""
    boiler = "terms of service apply here"
    corpus = [
        (1, f"alpha beta gamma delta {boiler}"),
        (2, f"alpha beta gamma delta {boiler}"),
        (3, f"omega psi chi phi {boiler}"),
    ]
    docs = spark.createDataFrame(corpus, ["doc_id", "text"])
    uncapped = {
        (r.id_a, r.id_b)
        for r in D.jaccard_pairs(docs, threshold=0.05).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in D.jaccard_pairs(
            docs, threshold=0.05, max_shingle_freq=2
        ).collect()
    }
    assert (1, 3) in uncapped and (2, 3) in uncapped  # boilerplate-only link
    assert (1, 2) in capped  # real near-dups survive the cap
    assert (1, 3) not in capped and (2, 3) not in capped


def test_duplicate_clusters_transitive(spark):
    """A~B and B~C must land A, B, C in ONE cluster labeled min(A,B,C) —
    pairwise output alone would retire only one of each pair. A disjoint
    pair forms its own cluster; untouched ids appear in no cluster."""
    pairs = spark.createDataFrame(
        [(2, 5), (5, 9), (20, 30)], ["id_a", "id_b"]
    )
    got = {r.id: r.cluster_id for r in D.duplicate_clusters(pairs).collect()}
    assert got == {2: 2, 5: 2, 9: 2, 20: 20, 30: 20}


def test_duplicate_clusters_long_chain_converges(spark):
    """A path graph is the propagation worst case (diameter = n-1); the
    loop must still converge to a single component."""
    chain = [(i, i + 1) for i in range(12)]
    pairs = spark.createDataFrame(chain, ["id_a", "id_b"])
    got = {r.id: r.cluster_id for r in D.duplicate_clusters(pairs).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 13


def test_duplicate_clusters_warns_on_truncation(spark):
    """A component wider than the iteration bound is split — that
    truncation must surface as a warning, never silently."""
    import warnings

    chain = [(i, i + 1) for i in range(12)]
    pairs = spark.createDataFrame(chain, ["id_a", "id_b"])
    with pytest.warns(RuntimeWarning, match="did not converge"):
        D.duplicate_clusters(pairs, max_iterations=1).collect()
    # converged runs must stay silent
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        D.duplicate_clusters(pairs).collect()


def test_lsh_rejects_wrong_signature_length(spark):
    """Signatures built with a different num_hashes must fail loudly:
    out-of-range band elements are NULL, concat_ws skips them, and the
    upper bands silently become constants (every doc collides)."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "g h i j k l")], ["doc_id", "text"]
    )
    sh = D.word_shingles(docs, "doc_id", "text", 3)
    sig32 = D.minhash_signatures(sh, num_hashes=32)
    with pytest.raises(SparkRuntimeException, match="signature length 32"):
        D.lsh_candidate_pairs(sig32, bands=32, num_hashes=64).collect()


def test_dedup_by_pairs_keeps_cluster_minimum(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 4, 5)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(2, 4), (4, 5)], ["id_a", "id_b"])
    kept = sorted(
        r.doc_id for r in D.dedup_by_pairs(docs, pairs, "doc_id").collect()
    )
    assert kept == [1, 2, 3]  # 4 and 5 retired into 2's cluster


def test_hash_sample_partition_invariant(spark):
    """The sample member set must be a pure function of the data — same
    rows regardless of physical partitioning (df.sample is NOT)."""
    from neo4j_to_clickhouse_spark.operators.sampling import hash_sample

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(500)], ["doc_id", "text"]
    )
    a = {r.doc_id for r in hash_sample(docs, "doc_id", 0.2).collect()}
    b = {
        r.doc_id
        for r in hash_sample(docs.repartition(7), "doc_id", 0.2).collect()
    }
    assert a == b
    assert 40 <= len(a) <= 160  # Bernoulli around 100, generous bounds


def test_stratified_sample_exact_counts(spark):
    from neo4j_to_clickhouse_spark.operators.sampling import stratified_sample

    rows = [(i, "big" if i < 90 else "small") for i in range(100)]
    docs = spark.createDataFrame(rows, ["doc_id", "source"])
    out = stratified_sample(docs, "source", "doc_id", 7)
    by_src = {
        r.source: r.cnt
        for r in out.groupBy("source").agg(F.count("*").alias("cnt")).collect()
    }
    assert by_src == {"big": 7, "small": 7}
    # deterministic: a rerun picks the identical member set
    again = stratified_sample(docs, "source", "doc_id", 7)
    assert {r.doc_id for r in out.collect()} == {r.doc_id for r in again.collect()}


def test_duplicate_clusters_matches_union_find(spark):
    """Property check on random graphs: the distributed min-label
    propagation must produce exactly the components a reference union-find
    computes (including min-id labeling)."""
    import random

    rng = random.Random(42)
    for trial in range(4):
        n = rng.randint(5, 40)
        edges = sorted(
            {
                tuple(sorted(rng.sample(range(n * 3), 2)))
                for _ in range(rng.randint(1, n))
            }
        )
        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {x: find(x) for x in parent}

        pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
        got = {
            r.id: r.cluster_id for r in D.duplicate_clusters(pairs).collect()
        }
        assert got == want, f"trial {trial}: {edges}"


def test_hash_sample_boundary_fractions(spark):
    """fraction=1.0 must keep EVERY row (the naive 9-hex-char threshold
    would lexicographically drop ~15/16), fraction=0.0 keeps none."""
    from neo4j_to_clickhouse_spark.operators.sampling import hash_sample

    docs = spark.createDataFrame(
        [(i,) for i in range(200)], ["doc_id"]
    )
    assert hash_sample(docs, "doc_id", 1.0).count() == 200
    assert hash_sample(docs, "doc_id", 0.0).count() == 0
    with pytest.raises(ValueError):
        hash_sample(docs, "doc_id", 1.5)


def test_tokens_strip_all_whitespace(spark):
    """Regression (round-4 ADVICE): Spark's trim strips only 0x20 spaces,
    so tab/newline-led text leaked a leading '' token into shingles,
    minhash signatures, and stat denominators."""
    df = spark.createDataFrame(
        [
            (1, "\thello world"),
            (2, "hello world\n"),
            (3, "\t\t"),
            (4, " \n \t "),
            (5, ""),
            (6, "\r\nhello\t world \r"),
            (7, "plain text"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r.doc_id: r.toks
        for r in df.select(
            "doc_id", D.tokens("text").alias("toks")
        ).collect()
    }
    assert rows[1] == ["hello", "world"]
    assert rows[2] == ["hello", "world"]
    assert rows[3] == []
    assert rows[4] == []
    assert rows[5] == []
    assert rows[6] == ["hello", "world"]
    assert rows[7] == ["plain", "text"]


def test_tokens_whitespace_only_prefix_dedups_identically(spark):
    """Texts differing only in leading/trailing tabs/newlines must produce
    identical shingle sets (and therefore identical minhash signatures)."""
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "\n\tthe quick brown fox jumps\t")],
        ["doc_id", "text"],
    )
    sh = D.word_shingles(df, n=3).collect()
    by_doc = {}
    for r in sh:
        by_doc.setdefault(r.id, set()).add(r.shingle)
    assert by_doc[1] == by_doc[2]


def test_ngram_contamination_flags_planted_overlap(spark):
    """A corpus doc sharing a 5-gram run with the eval set is flagged
    with the exact distinct-shingle counts; clean docs are absent."""
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            # shares two 5-grams: "the quick brown fox jumps",
            # "quick brown fox jumps over"
            (1, "so the quick brown fox jumps over a fence"),
            (2, "completely unrelated text with many distinct words here"),
            (3, "the quick brown fox jumps"),  # exactly one shingle, hit
        ],
        ["doc_id", "text"],
    )
    rows = {
        r.id: r
        for r in D.ngram_contamination(
            corpus, bench, "doc_id", "text", n=5
        ).collect()
    }
    assert set(rows) == {1, 3}
    assert (rows[1].n_shingles, rows[1].n_hits) == (5, 2)
    assert (rows[3].n_shingles, rows[3].n_hits) == (1, 1)
    assert abs(rows[3].contamination - 1.0) < 1e-12


def test_temperature_sample_quotas_and_determinism(spark):
    """alpha=0 -> equal quotas; alpha=1 -> proportional; members are the
    lowest-md5 keys so reruns are identical."""
    import pyspark.sql.functions as F

    from neo4j_to_clickhouse_spark.operators.sampling import (
        temperature_sample,
    )

    rows = [(i, "big" if i < 90 else "small") for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    # alpha=1: proportional — quota big=floor(20*90/100)=18, small=2
    out1 = temperature_sample(df, "source", "doc_id", 20, alpha=1.0)
    c1 = {r["source"]: r["n"] for r in out1.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert c1 == {"big": 18, "small": 2}
    # alpha=0: equal weights — each source floor(20/2)=10 (small has 10 rows)
    out0 = temperature_sample(df, "source", "doc_id", 20, alpha=0.0)
    c0 = {r["source"]: r["n"] for r in out0.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert c0 == {"big": 10, "small": 10}
    # alpha=0.5 upweights the small source vs proportional
    oh = temperature_sample(df, "source", "doc_id", 20, alpha=0.5)
    ch = {r["source"]: r["n"] for r in oh.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert ch["small"] > 2 and ch["big"] < 18
    # deterministic rerun
    a = sorted(r.doc_id for r in oh.collect())
    b = sorted(r.doc_id for r in temperature_sample(df, "source", "doc_id", 20, alpha=0.5).collect())
    assert a == b


# --- repeated spans (substring-level dedup signal) ---------------------------

def _span_report(spark, rows, w=2):
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    from neo4j_to_clickhouse_spark.operators.dedup import repeated_span_report

    return {
        r["source"]: r.asDict()
        for r in repeated_span_report(df, "doc_id", "source", "text", w=w).collect()
    }


def test_repeated_spans_cross_doc_only(spark):
    # "x y" occurs in docs 1 and 2 -> repeated; every other span unique.
    out = _span_report(
        spark,
        [(1, "s", "x y z"), (2, "s", "x y q"), (3, "s", "u v w")],
    )["s"]
    assert out["total_spans"] == 6
    assert out["repeated_spans"] == 2
    assert out["repeated_ratio"] == round(2 / 6, 6)
    # docs 1 and 2 are half-repeated (1*2 >= 2) -> flagged; doc 3 not
    assert out["flagged_docs"] == 2


def test_within_doc_repetition_does_not_count(spark):
    # "p q" appears twice but only in ONE document -> not cross-doc repeated
    out = _span_report(spark, [(1, "s", "p q p q")])["s"]
    assert out["repeated_spans"] == 0
    assert out["flagged_docs"] == 0


def test_docs_shorter_than_window_emit_no_spans(spark):
    out = _span_report(
        spark, [(1, "s", "solo"), (2, "s", "a b"), (3, "s", "a b")]
    )["s"]
    # doc 1 has 0 spans (1 token < w=2) and cannot be flagged
    assert out["total_spans"] == 2
    assert out["repeated_spans"] == 2
    assert out["flagged_docs"] == 2


def test_span_groups_roll_up_per_source(spark):
    out = _span_report(
        spark,
        [(1, "a", "dup span here"), (2, "b", "dup span there")],
    )
    # "dup span" crosses sources; occurrences counted in each source
    assert out["a"]["repeated_spans"] == 1
    assert out["b"]["repeated_spans"] == 1


# --- incremental MinHash-LSH vs a persisted hash-only store ------------------


def test_minhash_incremental_drops_store_near_dups(spark):
    from neo4j_to_clickhouse_spark.operators.dedup import (
        lsh_store_buckets,
        lsh_store_digests,
        minhash_incremental,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    old = spark.createDataFrame(
        [(1, base), (2, "completely different historical content here ok")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, base),  # exact clone of old 1 -> drop
            # near-dup of old 1 (one word changed) -> J well above 0.5
            (11, base.replace("lazy", "sleepy")),
            (12, "unrelated fresh document with entirely novel words"),
            (13, "tiny"),  # < n words: no shingles, must survive
        ],
        "doc_id long, text string",
    )
    surv = minhash_incremental(
        new, lsh_store_buckets(old), lsh_store_digests(old)
    )
    ids = sorted(r["doc_id"] for r in surv.select("doc_id").collect())
    assert ids == [12, 13]


def test_minhash_incremental_duplicate_store_rows_do_not_deflate_jaccard(spark):
    """A document appended to the store twice still matches its clone
    at J = 1: the store side counts each distinct digest once, like the
    array_intersect overlap does."""
    from neo4j_to_clickhouse_spark.operators.dedup import (
        lsh_store_buckets,
        lsh_store_digests,
        minhash_incremental,
    )

    text = "the quick brown fox jumps over the lazy dog near the river"
    old = spark.createDataFrame([(1, text)], "doc_id long, text string")
    new = spark.createDataFrame([(10, text)], "doc_id long, text string")
    buckets, digests = lsh_store_buckets(old), lsh_store_digests(old)
    surv = minhash_incremental(
        new,
        buckets.unionAll(buckets),
        digests.unionAll(digests),
        threshold=0.8,
    )
    assert surv.count() == 0


def test_minhash_incremental_threshold_zero_needs_a_shared_shingle(spark):
    """At threshold 0 a store document that collides on a band but
    shares no shingle does not make the new document a duplicate. The
    collision is forced by pairing the new text's bucket rows with a
    disjoint text's digest rows under one store id."""
    from neo4j_to_clickhouse_spark.operators.dedup import (
        lsh_store_buckets,
        lsh_store_digests,
        minhash_incremental,
    )

    text = "the quick brown fox jumps over the lazy dog near the river"
    other = "completely different historical content sits here ok"
    new = spark.createDataFrame([(10, text)], "doc_id long, text string")
    colliding = spark.createDataFrame([(1, text)], "doc_id long, text string")
    disjoint = spark.createDataFrame([(1, other)], "doc_id long, text string")
    buckets, digests = lsh_store_buckets(colliding), lsh_store_digests(disjoint)
    surv = minhash_incremental(new, buckets, digests, threshold=0.0)
    assert [r["doc_id"] for r in surv.collect()] == [10]
    # one shared shingle is enough at threshold 0
    shared = lsh_store_digests(colliding).limit(1)
    surv = minhash_incremental(
        new, buckets, digests.unionAll(shared), threshold=0.0
    )
    assert surv.count() == 0


def test_minhash_incremental_store_roundtrip(spark, tmp_path):
    # the store persists as plain parquet and the loop closes by
    # appending survivors' own rows
    import os

    from neo4j_to_clickhouse_spark.operators.dedup import (
        lsh_store_buckets,
        lsh_store_digests,
        minhash_incremental,
    )

    old = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    bp = os.path.join(str(tmp_path), "buckets")
    dp = os.path.join(str(tmp_path), "digests")
    lsh_store_buckets(old).write.parquet(bp)
    lsh_store_digests(old).write.parquet(dp)

    batch1 = spark.createDataFrame(
        [(10, "one two three four five six seven eight nine")],
        "doc_id long, text string",
    )
    s1 = minhash_incremental(
        batch1, spark.read.parquet(bp), spark.read.parquet(dp)
    )
    assert s1.count() == 1  # novel -> survives
    lsh_store_buckets(s1).write.mode("append").parquet(bp)
    lsh_store_digests(s1).write.mode("append").parquet(dp)

    # replaying the same content in batch 2 now hits the grown store
    batch2 = spark.createDataFrame(
        [(20, "one two three four five six seven eight nine")],
        "doc_id long, text string",
    )
    s2 = minhash_incremental(
        batch2, spark.read.parquet(bp), spark.read.parquet(dp)
    )
    assert s2.count() == 0


def test_band_buckets_shape_and_guard(spark):
    import pytest

    from neo4j_to_clickhouse_spark.operators.dedup import (
        band_buckets,
        minhash_signatures,
        word_shingles,
    )

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f")],
        "doc_id long, text string",
    )
    sig = minhash_signatures(word_shingles(df, "doc_id", "text", 3), 64)
    bb = band_buckets(sig, 32, 64)
    rows = bb.collect()
    assert len(rows) == 2 * 32  # one row per (doc, band)
    # identical docs share every bucket
    b1 = sorted(r["bucket"] for r in rows if r["id"] == 1)
    b2 = sorted(r["bucket"] for r in rows if r["id"] == 2)
    assert b1 == b2
    with pytest.raises(ValueError):
        band_buckets(sig, 48, 64)  # does not divide evenly


def test_lsh_store_tuple_matches_separate_builders(spark):
    from neo4j_to_clickhouse_spark.operators.dedup import (
        lsh_store,
        lsh_store_buckets,
        lsh_store_digests,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (2, "one two three four five six")],
        "doc_id long, text string",
    )
    b2, d2 = lsh_store(df)
    b1 = lsh_store_buckets(df)
    d1 = lsh_store_digests(df)
    assert sorted(map(tuple, b1.collect())) == sorted(map(tuple, b2.collect()))
    assert sorted(map(tuple, d1.collect())) == sorted(map(tuple, d2.collect()))


def test_dedup_by_pairs_keep_by_metric(spark):
    from neo4j_to_clickhouse_spark.operators.dedup import dedup_by_pairs

    df = spark.createDataFrame(
        [
            (1, "short", 5),
            (2, "the long version of it", 22),   # cluster {1,2,3}: argmax len
            (3, "medium one", 10),
            (4, "solo", 4),                       # unclustered: survives
            (5, "tie a", 7),
            (6, "tie b", 7),                      # tie -> lowest id (5) wins
        ],
        "doc_id long, text string, n_chars int",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    got = sorted(
        r["doc_id"]
        for r in dedup_by_pairs(df, pairs, "doc_id", keep_by="n_chars")
        .select("doc_id")
        .collect()
    )
    assert got == [2, 4, 5]
    # default rule unchanged: lowest id per cluster
    got_id = sorted(
        r["doc_id"]
        for r in dedup_by_pairs(df, pairs, "doc_id").select("doc_id").collect()
    )
    assert got_id == [1, 4, 5]


def test_bind_store_half_rejects_extra_columns(spark):
    from neo4j_to_clickhouse_spark.operators.dedup import _bind_store_half

    good = spark.createDataFrame([(1, 2)], "id long, bucket long")
    assert _bind_store_half(good, "bucket").columns == ["old_id", "bucket"]
    renamed = spark.createDataFrame([(1, 2)], "doc long, b long")
    assert _bind_store_half(renamed, "bucket").columns == ["old_id", "bucket"]
    stamped = spark.createDataFrame(
        [(1, 2, 0)], "id long, bucket long, batch long"
    )
    with pytest.raises(ValueError, match="batch"):
        _bind_store_half(stamped, "bucket")
    with pytest.raises(ValueError, match="not bindable"):
        _bind_store_half(
            spark.createDataFrame([(1, 2, 3)], "a long, b long, c long"),
            "bucket",
        )


def test_dedup_incremental_store_bind_contract(spark):
    """dedup_incremental's seen_hashes store binds by NAME with the
    same loud-error contract as the LSH halves (VERDICT r13 item 5):
    a named hash column rides along extra columns -> error; a
    one-column frame of any name binds positionally."""
    from neo4j_to_clickhouse_spark.operators.dedup import (
        content_hash,
        dedup_incremental,
    )

    batch = spark.createDataFrame(
        [(0, "alpha beta"), (1, "alpha beta"), (2, "gamma")],
        "doc_id long, text string",
    )
    seen = batch.filter("doc_id = 0").select(
        content_hash("text").alias("content_hash")
    )
    got = sorted(
        r["doc_id"]
        for r in dedup_incremental(batch, seen, "doc_id", "text").collect()
    )
    assert got == [2]
    # any one-column name binds positionally (legacy contract)
    legacy = seen.select(F.col("content_hash").alias("h"))
    got2 = sorted(
        r["doc_id"]
        for r in dedup_incremental(batch, legacy, "doc_id", "text").collect()
    )
    assert got2 == [2]
    # a named hash column + a stray stamp fails loudly
    stamped = seen.withColumn("batch", F.lit(0))
    with pytest.raises(ValueError, match="unexpected columns.*batch"):
        dedup_incremental(batch, stamped, "doc_id", "text")
    # a multi-column frame with no recognizable hash column fails too
    with pytest.raises(ValueError, match="not bindable"):
        dedup_incremental(
            batch,
            spark.createDataFrame([("x", "y")], "a string, b string"),
            "doc_id",
            "text",
        )
