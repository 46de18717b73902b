"""Pinned output contracts of the shingle-based dedup operators.

``shingle_sets`` is the building block under every shingle consumer; a
restructure of it (or of the exact-Jaccard / LSH-verify shapes built on
it) may change how rows are produced, never which rows come out. The
digests below are sha256 over the sorted outputs on a seeded documents
table built by ``tools/gen_sf_fixture.py``'s document generator (200
documents, ~4.5% planted near-duplicates, ~0.2% exact duplicates).
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pytest

from pyspark.sql import functions as F

from neo4j_to_clickhouse_spark.operators.dedup import (
    jaccard_pairs,
    minhash_lsh_dedup,
    shingle_sets,
)

sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"),
)

SEED = 20240
N_DOCS = 200

# (row count, sha256) of each sorted output; a mismatch means the row
# set changed, not just how it is computed
EXPECTED = {
    "shingle_sets": (
        200, "922b1261aee37fcd84484ced4c9b757753a3e53ad0909b7774fee4df749cd198"
    ),
    "jaccard_pairs": (
        44, "0fb5e753cb7491371f0781e7059ffe4e74f83895b27f8abb104b34ab748016e3"
    ),
    "minhash_lsh_dedup": (
        7, "a3215576279be1755571028ab920e3c0bc55a4be85e7d7540475b8b4ac62925f"
    ),
}


def _digest(rows) -> tuple[int, str]:
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()


@pytest.fixture(scope="module")
def documents(spark, tmp_path_factory):
    import gen_sf_fixture

    out = str(tmp_path_factory.mktemp("shingle_docs"))
    gen_sf_fixture.gen_documents(np.random.default_rng(SEED), out, N_DOCS)
    return spark.read.parquet(os.path.join(out, "documents.parquet"))


def test_shingle_sets_rows_pinned(documents):
    rows = [
        (r["id"], tuple(sorted(r["__sh"])), r["n_sh"])
        for r in shingle_sets(documents, "doc_id", "text", n=3).collect()
    ]
    assert _digest(rows) == EXPECTED["shingle_sets"]


def test_jaccard_pairs_rows_pinned(documents):
    # a low threshold so the pin also covers the incidental overlaps
    # between unrelated documents, not only the planted clones
    pairs = jaccard_pairs(documents, "doc_id", "text", n=3, threshold=0.02)
    rows = [
        tuple(r)
        for r in pairs.select(
            "id_a", "id_b", F.round("jaccard", 6).alias("j")
        ).collect()
    ]
    assert _digest(rows) == EXPECTED["jaccard_pairs"]


def test_minhash_lsh_dedup_rows_pinned(documents):
    pairs = minhash_lsh_dedup(
        documents, "doc_id", "text", n=3, num_hashes=64, bands=32,
        threshold=0.5,
    )
    rows = [
        tuple(r)
        for r in pairs.select(
            "id_a", "id_b", F.round("jaccard", 6).alias("j")
        ).collect()
    ]
    assert _digest(rows) == EXPECTED["minhash_lsh_dedup"]
