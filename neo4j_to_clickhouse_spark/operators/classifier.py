"""Hashed n-gram linear classifier inference — the fastText-style quality
filter (DCLM, FineWeb-Edu) — plus exact top-fraction selection without a
global sort.

Modern pretraining pipelines score every document with a cheap linear
model over hashed word n-grams and keep the top percentile (DCLM-baseline
keeps the top ~10% by a fastText classifier; FineWeb-Edu thresholds an
edu-quality score). The reference has no analogue — this extends the
engine's curation family (SURVEY.md §2 north-star ops) the same way
``operators/lm.py`` does for perplexity filtering.

Scale shape (100 TB posture):
- The model is the ONLY state: a ``n_buckets``-entry integer weight
  vector folded into the plan as a LITERAL array — no broadcast table, no
  join, no shuffle. Scoring is one array-aggregate per row inside the
  scan; the corpus never moves. Above the ~100k plan-literal ceiling
  the weights ship to executors once per stage and an Arrow-batched
  numpy gather replaces the literal chain (``weight_strategy``, still
  zero shuffle, bit-equal scores) — large feature spaces are a flag,
  not a wall.
- Feature hashing (the fastText trick) bounds memory at ``n_buckets``
  regardless of vocabulary size, so the same plan serves a 100 TB corpus
  and a unit test.
- :func:`select_top_fraction` takes the top ``fraction`` of rows by score
  WITHOUT sorting the corpus: a histogram of the (bounded-cardinality)
  rounded scores finds the threshold, a broadcast join filters, and only
  the boundary-score tie set is ever ranked. Shuffle = one tiny
  aggregate, not a global ``ORDER BY``.

Cross-engine determinism (house rules, see ``plans/queries.py`` header):
- bucket = first 8 hex chars of ``md5(seed ':' gram)`` mod ``n_buckets``
  — the one hash every engine computes identically (``sampling.py``).
- weights are integer micro-units (1e-6); the per-document sum is exact
  BIGINT arithmetic, and the only floating op is a single
  correctly-rounded division + round(6), so a DuckDB oracle reproduces
  scores bit-for-bit.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from neo4j_to_clickhouse_spark.operators.dedup import ngram_array, tokens
from neo4j_to_clickhouse_spark.operators.sampling import md5_u32

#: micro-units per 1.0 of score weight (weights are ints; exact sums).
WEIGHT_SCALE = 1_000_000

#: plan-literal weight vectors embed ``n_buckets`` literals into every
#: scoring/gradient expression; past ~100k the Catalyst plan itself
#: becomes the bottleneck (the documented cliff at
#: :func:`score_documents`). Above the ceiling the engine switches to
#: the broadcast-gather formulation automatically
#: (``weight_strategy="auto"``): the weights ship to executors as ONE
#: task-binary payload and an Arrow-batched numpy gather replaces the
#: literal ``element_at`` chain — same exact integer arithmetic,
#: bit-equal scores (pinned in ``tests/test_classifier.py``).
MAX_PLAN_LITERAL_BUCKETS = 100_000

#: ceiling for the broadcast-gather TRAINING path: each gradient round
#: shuffles and collects ``n_buckets`` rows to the driver; past ~4M
#: that collect (and the weight vector itself) stops being a
#: driver-side rounding error. Scoring has no such collect — its only
#: per-executor cost is the weight array itself.
MAX_BROADCAST_BUCKETS = 4_000_000


def _resolve_weight_strategy(
    weight_strategy: str, n_buckets: int, training: bool = False
) -> str:
    """Map ``auto`` to literal/broadcast by ``n_buckets`` and fail the
    explicit-literal path loudly above the plan-compile cliff (ADVICE
    r14: load-then-score must fail as loudly as fit)."""
    if weight_strategy not in ("auto", "literal", "broadcast"):
        raise ValueError(
            f"unknown weight_strategy: {weight_strategy!r} "
            "(expected 'auto', 'literal', or 'broadcast')"
        )
    strategy = weight_strategy
    if strategy == "auto":
        strategy = (
            "literal"
            if n_buckets <= MAX_PLAN_LITERAL_BUCKETS
            else "broadcast"
        )
    if strategy == "literal" and n_buckets > MAX_PLAN_LITERAL_BUCKETS:
        raise ValueError(
            f"n_buckets={n_buckets} exceeds the plan-literal ceiling "
            f"({MAX_PLAN_LITERAL_BUCKETS}): the job degrades at "
            "plan-compile time, not run time. Use "
            "weight_strategy='broadcast' (or 'auto') above the ceiling."
        )
    if training and n_buckets > MAX_BROADCAST_BUCKETS:
        raise ValueError(
            f"n_buckets={n_buckets} exceeds the training ceiling "
            f"({MAX_BROADCAST_BUCKETS}): every gradient round collects "
            "n_buckets rows to the driver. Shrink the feature space — "
            "feature hashing at 4M buckets already separates anything "
            "a linear model can."
        )
    return strategy


def _gather_sum_udf(weights):
    """Arrow-batched ``array<int> buckets -> long total`` gather: the
    broadcast-weight scoring kernel. The int64 numpy sum is exact for
    any realistic document (|w| <= ~2^31 micro-units x n_grams), so the
    result is bit-equal to the literal ``element_at`` chain. The weight
    array rides the pickled closure — shipped once per stage via
    Spark's task-broadcast machinery (~8 MB at 1M buckets), never once
    per row or per task."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    w = np.asarray(weights, dtype=np.int64)

    @pandas_udf("long")
    def gather(buckets: pd.Series) -> pd.Series:
        out = np.zeros(len(buckets), dtype=np.int64)
        for i, b in enumerate(buckets):
            if b is not None and len(b):
                out[i] = int(w[np.asarray(b, dtype=np.int64)].sum())
        return pd.Series(out)

    return gather


@dataclasses.dataclass(frozen=True)
class ClassifierModel:
    """One self-describing training artifact: the micro-unit weight
    vector PLUS the feature-space parameters it was trained in.

    The hashed-feature map is only meaningful as a tuple — weights
    trained with ``hasher='md5', seed=3, bigrams=False`` scored through
    any other (hasher, seed, bigrams, n_buckets) produce silently
    meaningless numbers. Passing the model (instead of a bare weight
    list) to :func:`score_documents` makes the bucket space travel WITH
    the weights, so the train→score boundary cannot drift.
    """

    weights: tuple[int, ...]
    hasher: str = "md5"
    seed: int = 7
    bigrams: bool = True

    def __post_init__(self) -> None:
        if self.hasher not in ("md5", "xxhash64"):
            raise ValueError(f"unknown hasher: {self.hasher!r}")
        object.__setattr__(self, "weights", tuple(int(w) for w in self.weights))

    @property
    def n_buckets(self) -> int:
        return len(self.weights)

    def to_json(self) -> str:
        return json.dumps(
            {
                "weights": list(self.weights),
                "hasher": self.hasher,
                "seed": self.seed,
                "bigrams": self.bigrams,
                "weight_scale": WEIGHT_SCALE,
            }
        )

    @classmethod
    def from_json(cls, s: str) -> "ClassifierModel":
        d = json.loads(s)
        scale = d.get("weight_scale", WEIGHT_SCALE)
        if scale != WEIGHT_SCALE:
            raise ValueError(
                f"artifact weight_scale {scale} != engine {WEIGHT_SCALE}"
            )
        return cls(
            weights=tuple(d["weights"]),
            hasher=d["hasher"],
            seed=d["seed"],
            bigrams=d["bigrams"],
        )


def weight_table(n_buckets: int = 256, seed: int = 7) -> list[int]:
    """Deterministic synthetic weight vector in micro-units, uniform over
    ``[-WEIGHT_SCALE/2, WEIGHT_SCALE/2]`` — a stand-in for trained
    fastText weights with the same storage/plan shape. Derived from
    ``md5('w:' seed ':' i)`` so every engine / test run agrees without
    shipping a model artifact.
    """
    out = []
    for i in range(n_buckets):
        h = int(
            hashlib.md5(f"w:{seed}:{i}".encode()).hexdigest()[:8], 16
        )
        out.append(h % (WEIGHT_SCALE + 1) - WEIGHT_SCALE // 2)
    return out


def hash_bucket(
    gram: Column, n_buckets: int, seed: int = 7, hasher: str = "md5"
) -> Column:
    """Feature-hash a gram to ``[0, n_buckets)``.

    ``hasher="md5"`` (default) is the house cross-engine idiom (first 8
    hex chars as a 32-bit integer) — a DuckDB oracle reproduces the
    bucket, which is what the certified query pins. ``hasher="xxhash64"``
    is the throughput path: measured 2.1 s -> 1.4 s on the sf0.1
    document scan (the md5 string digest is ~half the scoring cost),
    still a pure function of the gram (reruns and repartitionings keep
    the same buckets) but not computable by an ANSI oracle — the same
    trade MinHash signatures make (dedup.py:528).
    """
    if hasher == "xxhash64":
        return F.pmod(F.xxhash64(F.lit(seed), gram), F.lit(n_buckets))
    if hasher != "md5":
        raise ValueError(f"unknown hasher: {hasher!r}")
    return md5_u32(F.concat(F.lit(f"{seed}:"), gram)) % n_buckets


def ngram_features(text: Column | str, bigrams: bool = True) -> Column:
    """Unigram (+word-bigram) feature grams as one array column.

    Bigrams reuse :func:`dedup.ngram_array` (zip_with — O(words), stays
    out of the interpreted lambda trap documented there) and slice off
    its NULL tail position, so ``size(grams) = 2*words - 1``.

    The returned expression references its token subtree FOUR times
    (concat + zip_with + two slice bounds), and Catalyst's subexpression
    elimination does not reach through higher-order lambdas — callers on
    a hot path should tokenize into a materialized column first and pass
    that (see :func:`_stage_grams`), or the regex split runs 4x per row.
    """
    toks = text if isinstance(text, Column) else tokens(text)
    if not bigrams:
        return toks
    bg = F.slice(
        ngram_array(toks, 2),
        1,
        F.greatest(F.size(toks) - 1, F.lit(0)),
    )
    return F.concat(toks, bg)


def _stage_grams(
    df: DataFrame, text_col: Column | str, bigrams: bool, out: str
) -> DataFrame:
    """Materialize the feature-gram array as column ``out`` with the
    tokenize step in its OWN projection first (the word_shingles trick,
    r15 optimization round): the scoring expression references the gram
    array ~3x and the gram expression references the token array 4x, and
    projection collapse + subexpression elimination both stop at
    higher-order lambdas — inlined, the regex tokenize ran ~10x per row
    (visible verbatim in the r15 before-plan). Two staged projections
    make it run exactly once: measured 2.7 s -> 1.4 s (md5 literal),
    3.0 s -> 0.9 s (xxhash64 literal), 2.9 s -> 1.0 s (1M-bucket
    broadcast gather) on the sf0.1 bench rows, bit-equal scores.
    """
    tk = f"{out}_tk"
    for c in (tk, out):
        if c in df.columns:
            raise ValueError(
                f"column {c!r} already exists: pick another out name"
            )
    return (
        df.withColumn(tk, tokens(text_col))
        .withColumn(out, ngram_features(F.col(tk), bigrams=bigrams))
        .drop(tk)
    )


def score_documents(
    df: DataFrame,
    text_col: str,
    weights: "list[int] | ClassifierModel",
    seed: int | None = None,
    bigrams: bool | None = None,
    out_col: str = "score",
    hasher: str | None = None,
    weight_strategy: str = "auto",
) -> DataFrame:
    """Linear-classifier score per document: mean hashed-gram weight,
    rounded to 6 decimals. ``score = round(sum(w[h(g)]) / (n * 1e6), 6)``
    with the sum exact in BIGINT micro-units; empty documents score 0.

    One array-aggregate per row — zero shuffle, zero Python, the weight
    vector a plan literal (broadcast-free). The higher-order aggregate
    runs interpreted (outside codegen), but an A/B against the codegen
    explode→partial-agg→join-back formulation measured the aggregate
    FASTER once the hash is cheap (1.4 s vs 1.8 s at sf0.1 with
    xxhash64) and it keeps the corpus shuffle-free — the join-back form
    re-keys the full corpus on the id. Pass ``hasher="xxhash64"`` for
    the 2x-throughput production path (see :func:`hash_bucket`).

    ``weights`` may be a :class:`ClassifierModel`, in which case its
    (hasher, seed, bigrams) define the bucket space and any explicit
    conflicting argument raises — the safe way to carry a trained
    artifact across the train→score boundary. With a bare weight list
    the legacy defaults apply (seed=7, bigrams=True, hasher='md5').

    ``weight_strategy``: ``"literal"`` embeds the weights as plan
    literals (zero Python, whole-stage codegen; capped at
    ``MAX_PLAN_LITERAL_BUCKETS`` — explicit literal above it raises,
    ADVICE r14); ``"broadcast"`` hashes buckets JVM-side and gathers
    weights in one Arrow-batched numpy kernel (the large-feature-space
    path — bit-equal scores, weights shipped once per stage);
    ``"auto"`` (default) picks literal up to the ceiling, broadcast
    above it — so a persisted >100k-bucket model scores correctly
    instead of hitting the plan-compile cliff.
    """
    if isinstance(weights, ClassifierModel):
        model = weights
        for name, given, have in (
            ("seed", seed, model.seed),
            ("bigrams", bigrams, model.bigrams),
            ("hasher", hasher, model.hasher),
        ):
            if given is not None and given != have:
                raise ValueError(
                    f"explicit {name}={given!r} conflicts with the "
                    f"ClassifierModel's trained {name}={have!r} — score "
                    "in the bucket space the weights were trained in"
                )
        weights = list(model.weights)
        seed, bigrams, hasher = model.seed, model.bigrams, model.hasher
    else:
        seed = 7 if seed is None else seed
        bigrams = True if bigrams is None else bigrams
        hasher = "md5" if hasher is None else hasher
    n_buckets = len(weights)
    strategy = _resolve_weight_strategy(weight_strategy, n_buckets)
    # grams staged through their own projections (see _stage_grams):
    # tokenize and gram-build each run once per row instead of ~10x
    staged = _stage_grams(df, text_col, bigrams, "__sd_g")
    grams = F.col("__sd_g")
    if strategy == "broadcast":
        # buckets in their own projection too, so the Arrow gather's
        # input column is a plain attribute, not an inline transform
        staged = staged.withColumn(
            "__sd_b",
            F.transform(
                grams,
                lambda g: hash_bucket(g, n_buckets, seed, hasher).cast(
                    "int"
                ),
            ),
        ).drop("__sd_g")
        grams = F.col("__sd_b")
        total = _gather_sum_udf(weights)(grams)
        tmp = "__sd_b"
    else:
        w_arr = F.array(*[F.lit(int(w)) for w in weights])
        total = F.aggregate(
            grams,
            F.lit(0).cast("long"),
            lambda acc, g: acc
            + F.element_at(
                w_arr,
                (hash_bucket(g, n_buckets, seed, hasher) + 1).cast(
                    "int"
                ),
            ),
        )
        tmp = "__sd_g"
    n = F.size(grams)
    score = F.when(
        n > 0,
        F.round(total / (n.cast("double") * float(WEIGHT_SCALE)), 6),
    ).otherwise(F.lit(0.0))
    return staged.withColumn(out_col, score).drop(tmp)


def score_documents_multiclass(
    df: DataFrame,
    text_col: str,
    class_weights: "dict[str, list[int]]",
    seed: int = 7,
    bigrams: bool = True,
    hasher: str = "md5",
    score_prefix: str = "score_",
    label_col: str = "label",
    weight_strategy: str = "auto",
) -> DataFrame:
    """One-vs-all multi-class linear scoring + argmax label — the
    topic/domain tagger of a curation pipeline (tag -> per-domain
    mixture weights, the taxonomy step FineWeb-style pipelines run
    after binary quality filtering). ``class_weights`` maps class name
    -> micro-unit weight vector; every class MUST share one bucket
    space (same length, same (seed, bigrams, hasher)).

    Adds one ``score_<class>`` column per class (same rounding
    contract as :func:`score_documents` — mean hashed-gram
    micro-weight, round 6) and ``label_col`` = the argmax class with
    DETERMINISTIC first-in-sorted-name-order tie-break (an all-zero
    document labels as the first class). Cross-engine restatable: the
    certified lane's oracle replays the same sums and the same
    tie-break as CASE comparisons over rounded scores.

    Scale shape: the gram array and its bucket hashes are computed
    ONCE in a projection and every class total aggregates over that
    shared array — k classes cost k array-sums, not k tokenize+hash
    passes; zero shuffle, zero join. ``weight_strategy`` as in
    :func:`score_documents` (per-class literal arrays up to the
    ceiling; the Arrow gather kernel above it)."""
    if not class_weights:
        raise ValueError("class_weights must name at least one class")
    names = sorted(class_weights)
    sizes = {len(class_weights[n]) for n in names}
    if len(sizes) != 1:
        raise ValueError(
            "every class must share ONE bucket space: got vector "
            f"lengths {sorted(sizes)}"
        )
    n_buckets = sizes.pop()
    strategy = _resolve_weight_strategy(weight_strategy, n_buckets)
    # grams staged first (_stage_grams) so tokenize runs once per row,
    # then the bucket hashes in their own projection shared by every
    # class total (r15 optimization round)
    out = (
        _stage_grams(df, text_col, bigrams, "__mc_g")
        .withColumn(
            "__mc_buckets",
            F.transform(
                F.col("__mc_g"),
                lambda g: hash_bucket(g, n_buckets, seed, hasher).cast(
                    "int"
                ),
            ),
        )
        .drop("__mc_g")
    )
    n = F.size("__mc_buckets")
    for name in names:
        w = class_weights[name]
        if strategy == "broadcast":
            total = _gather_sum_udf(w)(F.col("__mc_buckets"))
        else:
            w_arr = F.array(*[F.lit(int(x)) for x in w])
            total = F.aggregate(
                F.col("__mc_buckets"),
                F.lit(0).cast("long"),
                lambda acc, i: acc + F.element_at(w_arr, i + 1),
            )
        score = F.when(
            n > 0,
            F.round(
                total / (n.cast("double") * float(WEIGHT_SCALE)), 6
            ),
        ).otherwise(F.lit(0.0))
        out = out.withColumn(f"{score_prefix}{name}", score)
    scores = F.array(
        *[F.col(f"{score_prefix}{n_}") for n_ in names]
    )
    # argmax with first-in-sorted-order tie-break: array_position
    # returns the FIRST index holding the max — pure codegen
    label = F.element_at(
        F.array(*[F.lit(n_) for n_ in names]),
        F.array_position(scores, F.array_max(scores)).cast("int"),
    )
    return out.withColumn(label_col, label).drop("__mc_buckets")


def fit_classifier(
    df: DataFrame,
    text_col: str,
    label_col: str,
    n_buckets: int = 256,
    seed: int = 7,
    bigrams: bool = True,
    iters: int = 20,
    lr: float = 2.0,
    l2: float = 0.0,
    hasher: str = "md5",
    init: list[int] | None = None,
    weight_strategy: str = "auto",
) -> list[int]:
    """Train the hashed-n-gram logistic classifier the DCLM/FineWeb-Edu
    loop needs — distributed full-batch gradient descent producing the
    exact micro-unit weight vector :func:`score_documents` consumes.

    Model: ``p_i = sigmoid(w · x_i)`` with the SAME feature map as
    inference — ``x_i[b] = count of grams hashing to b / n_grams`` — so
    a trained model's scores are its margins and the fitted weights
    plug straight into scoring/selection.

    Determinism (bit-for-bit across any partitioning / cluster size,
    the house posture): the per-document residual ``(p_i - y_i)/n_i``
    is QUANTIZED to integer micro-units on the executors, so the
    per-bucket gradient is an exact BIGINT sum — order-independent,
    unlike a float reduction — and the driver applies a fixed number
    of integer weight updates. A pure-numpy replica reproduces the
    final vector exactly (``tests/test_classifier_fit.py``).

    Scale shape: the corpus is bucketized ONCE (tokenize + hash, the
    dominant cost) and persisted; each of the ``iters`` rounds is one
    scan computing margins with the current weights as a plan literal
    (zero join) plus one ``n_buckets``-bounded aggregate — the ONLY
    shuffle, ``n_buckets`` rows. Nothing Python touches the corpus;
    the driver handles ``n_buckets`` integers per round. Plan-literal
    weights cap practical ``n_buckets`` at ~100k (plan size); above
    the ceiling ``weight_strategy="auto"`` (default) switches the
    margin computation to the broadcast-gather kernel
    (:func:`_gather_sum_udf` — bit-identical updates, pinned in
    ``tests/test_classifier_fit.py``), bounded in turn by
    ``MAX_BROADCAST_BUCKETS`` (each round collects ``n_buckets``
    gradient rows to the driver).

    Docs with no grams carry no feature signal and are excluded (they
    score 0 at inference regardless). Returns micro-unit integer
    weights, ``init`` (default zeros) updated in place semantics-free.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    strategy = _resolve_weight_strategy(
        weight_strategy, n_buckets, training=True
    )
    from pyspark import StorageLevel

    # grams staged first (_stage_grams) so the one-time bucketize pass
    # tokenizes each row once, not 4x (r15 optimization round)
    b = (
        _stage_grams(df, text_col, bigrams, "__fit_g")
        .select(
            F.col(label_col).cast("int").alias("__y"),
            # validated on the RAW value: cast('int') truncates, so a
            # fractional label (0.9 — a score column passed as the
            # label) would otherwise become a legal 0 and silently
            # train on corrupted labels
            F.col(label_col).cast("double").isin(0.0, 1.0).alias("__y_ok"),
            F.transform(
                F.col("__fit_g"),
                lambda g: hash_bucket(g, n_buckets, seed, hasher).cast(
                    "int"
                ),
            ).alias("__b"),
        )
        .withColumn("__n", F.size("__b"))
        .filter(F.col("__n") > 0)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        n_docs = b.count()
        if n_docs == 0:
            raise ValueError("no documents with features to fit on")
        # logistic loss needs y ∈ {0, 1}: a stray label (NULL from a
        # bad cast, a 5 from a score column, a fractional 0.9) would
        # silently poison every gradient — one cheap aggregate over
        # the already-persisted frame fails loudly instead
        bad = b.filter(
            ~F.col("__y_ok") | F.col("__y_ok").isNull()
        ).count()
        if bad:
            raise ValueError(
                f"{label_col} must be 0/1 (binary labels): "
                f"{bad} rows are NULL, fractional, or outside {{0, 1}}"
            )
        w = list(init) if init is not None else [0] * n_buckets
        if len(w) != n_buckets:
            raise ValueError(
                f"init has {len(w)} weights, expected {n_buckets}"
            )
        for _ in range(iters):
            if strategy == "broadcast":
                total = _gather_sum_udf(w)(F.col("__b"))
            else:
                w_arr = F.array(*[F.lit(int(x)) for x in w])
                total = F.aggregate(
                    F.col("__b"),
                    F.lit(0).cast("long"),
                    lambda acc, i: acc + F.element_at(w_arr, i + 1),
                )
            margin = total / (
                F.col("__n").cast("double") * float(WEIGHT_SCALE)
            )
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
            resid_q = F.round(
                (p - F.col("__y"))
                / F.col("__n")
                * float(WEIGHT_SCALE),
                0,
            ).cast("long")
            grad = (
                b.withColumn("__r", resid_q)
                .select(
                    F.explode("__b").alias("__bkt"), F.col("__r")
                )
                .groupBy("__bkt")
                .agg(F.sum("__r").alias("__g"))
                .collect()
            )
            g = {row["__bkt"]: row["__g"] for row in grad}
            for bkt in range(n_buckets):
                step = round(lr * g.get(bkt, 0) / n_docs)
                if l2:
                    step += round(lr * l2 * w[bkt])
                w[bkt] -= int(step)
        return w
    finally:
        b.unpersist()


def save_classifier_model(model: ClassifierModel, path: str) -> None:
    """Persist the artifact as one JSON file (atomic same-filesystem
    replace, like ``save_bpe_artifacts``): the weights AND their bucket
    space travel as one file, so a deployment can never load weights
    without the (hasher, seed, bigrams) they were trained in."""
    import os

    d = os.path.dirname(path)
    if d:
        os.makedirs(d, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(model.to_json())
    os.replace(tmp, path)


def load_classifier_model(path: str) -> ClassifierModel:
    """Read a :func:`save_classifier_model` artifact back; validates
    the weight scale and hasher on load."""
    with open(path, encoding="utf-8") as fh:
        return ClassifierModel.from_json(fh.read())


def fit_classifier_model(
    df: DataFrame,
    text_col: str,
    label_col: str,
    n_buckets: int = 256,
    seed: int = 7,
    bigrams: bool = True,
    iters: int = 20,
    lr: float = 2.0,
    l2: float = 0.0,
    hasher: str = "md5",
    init: list[int] | None = None,
    weight_strategy: str = "auto",
) -> ClassifierModel:
    """:func:`fit_classifier`, returning the weights BUNDLED with the
    bucket-space parameters they were trained in as one
    :class:`ClassifierModel` artifact. Prefer this for anything that
    crosses a boundary (streaming ingest, persisted artifacts): scoring
    a model validates the space instead of trusting call-site defaults.
    """
    w = fit_classifier(
        df,
        text_col,
        label_col,
        n_buckets=n_buckets,
        seed=seed,
        bigrams=bigrams,
        iters=iters,
        lr=lr,
        l2=l2,
        hasher=hasher,
        init=init,
        weight_strategy=weight_strategy,
    )
    return ClassifierModel(
        weights=tuple(w), hasher=hasher, seed=seed, bigrams=bigrams
    )


def confusion_counts(
    df: DataFrame,
    score_col: str,
    label_col: str,
    threshold: float = 0.0,
    by: str | None = None,
) -> DataFrame:
    """Integer-exact confusion counts of ``score > threshold`` against
    a 0/1 label, optionally per ``by`` group: (tp, fp, tn, fn) — the
    evaluation half of the train→score→select loop. Pure single-pass
    aggregate."""
    pred = (F.col(score_col) > F.lit(float(threshold))).cast("int")
    y = F.col(label_col).cast("int")
    aggs = [
        F.sum(((pred == 1) & (y == 1)).cast("long")).alias("tp"),
        F.sum(((pred == 1) & (y == 0)).cast("long")).alias("fp"),
        F.sum(((pred == 0) & (y == 0)).cast("long")).alias("tn"),
        F.sum(((pred == 0) & (y == 1)).cast("long")).alias("fn"),
    ]
    if by is not None:
        return df.groupBy(by).agg(*aggs).orderBy(by)
    return df.agg(*aggs)


def _top_fraction_threshold_from_hist(
    hist: DataFrame, score_col: str, n_col: str, fraction: float
) -> DataFrame:
    """The histogram half of the shared threshold plan, over a
    PRE-AGGREGATED ``(score, count)`` frame — lets callers that already
    maintain histograms (the streaming recalibrator merges per-batch
    histogram rows) reuse the exact batch algebra. Returns the
    ``(__t, __r)`` threshold row (see :func:`_top_fraction_threshold`).
    ``hist`` must hold one row per distinct score."""
    s = F.col(score_col)
    w = Window.orderBy(s.desc_nulls_last()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        s,
        F.col(n_col).alias("__n"),
        F.sum(n_col).over(w).alias("__cum"),
    )
    total = cum.agg(F.sum("__n").alias("__total"))
    return (
        cum.crossJoin(F.broadcast(total))
        .withColumn(
            "__k", F.ceil(F.lit(float(fraction)) * F.col("__total"))
        )
        .filter(
            (F.col("__cum") >= F.col("__k"))
            & (F.col("__cum") - F.col("__n") < F.col("__k"))
        )
        .select(
            s.alias("__t"),
            (F.col("__k") - (F.col("__cum") - F.col("__n"))).alias(
                "__r"
            ),
        )
    )


def _top_fraction_threshold(
    df: DataFrame, sel_col: str, fraction: float
) -> DataFrame:
    """The shared histogram-threshold plan: one bounded-cardinality
    score histogram, a tiny cumulative window over it, and the row
    where the descending cumulative count first reaches
    ``k = ceil(fraction * n)`` — returned as ``(__t, __r)`` (threshold
    score, residue = how many ties AT ``__t`` belong in the top-k).
    The exact batch ranker (:func:`select_top_fraction`) and the online
    calibrator (:func:`calibrate_threshold`) are both this plan."""
    hist = df.groupBy(sel_col).agg(F.count("*").alias("__hn"))
    return _top_fraction_threshold_from_hist(
        hist, sel_col, "__hn", fraction
    )


def calibrate_threshold(
    df: DataFrame,
    score_col: str,
    fraction: float,
    round_decimals: int | None = 6,
) -> float | None:
    """The top-``fraction`` score threshold as ONE driver-side float —
    the calibrate-then-broadcast half of online selection (VERDICT r13
    item 6): :func:`select_top_fraction` is batch-global (it must rank
    the boundary ties), so a STREAM cannot gate documents with it. The
    production pattern is: calibrate the threshold on a batch sample
    once, then filter the stream with the literal, which keeps
    ``score >= t`` inside the scan — zero state, zero shuffle, and the
    threshold is a plan literal exactly like the weight vector.

    Same bounded-histogram plan as :func:`select_top_fraction` (one
    tiny aggregate, no global sort), same rounding contract. Returns
    the boundary score ``t``: filtering ``score >= t`` keeps the top
    ``ceil(fraction * n)`` rows PLUS any ties at ``t`` beyond the
    residue — at corpus scale the tie overshoot is noise, and exact-k
    semantics remain the batch ranker's job. Returns ``None`` when the
    threshold group is the NULL-score group (``k`` exceeds the
    non-null count): gate with "keep everything" in that regime.
    """
    if not 0.0 < fraction <= 1.0:
        raise ValueError(f"fraction must be in (0, 1], got {fraction}")
    s = F.round(F.col(score_col).cast("double"), round_decimals) if (
        round_decimals is not None
    ) else F.col(score_col)
    rows = (
        _top_fraction_threshold(
            df.select(s.alias("__s")), "__s", fraction
        )
        .select("__t")
        .collect()
    )
    if not rows:
        return None  # empty input
    return rows[0]["__t"]


def rolling_threshold_report(
    df: DataFrame,
    score_col: str,
    batch_col: str,
    fraction: float,
    window: int = 3,
) -> DataFrame:
    """Per-batch trailing-window top-``fraction`` thresholds — the
    batch restatement of the streaming recalibration loop (VERDICT r14
    item 4), and the auditable trajectory of a drifting corpus's gate:
    for each batch ``b``, the threshold is calibrated on the score
    histogram of batches ``(b - window, b]`` and applied to batch
    ``b``'s own documents (``score >= t``, ties kept — the gate
    semantics, not exact-k).

    Returns one row per batch: ``(batch, threshold, pool_docs,
    batch_docs, batch_kept)``.

    Scale shape: the corpus is touched exactly once (the score scan
    feeding the ``(batch, score)`` histogram — cardinality bounded by
    batches x score domain); the trailing-window join, cumulative
    window, and kept-count all run on histogram rows. The
    window-alignment join is a broadcast over the distinct-batch
    frame, so no corpus-sized shuffle exists anywhere."""
    from pyspark import StorageLevel

    s = F.col(score_col)
    # the histogram feeds FOUR downstream branches (batch list, pool,
    # batch_docs, kept) and Catalyst does not reuse the aggregate
    # exchange across them (verified: 10 corpus FileScans unpersisted,
    # 0 ReusedExchange) — persist the bounded frame so the corpus is
    # genuinely touched once (same idiom as threshold_selection_stats'
    # scored persist; cache-manager keys on the canonicalized plan)
    hist = (
        df.groupBy(batch_col, score_col)
        .agg(F.count("*").alias("__n"))
        .withColumnRenamed(batch_col, "__hb")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # distinct batches FROM THE HISTOGRAM (not a second corpus scan):
    # every corpus batch has >= 1 histogram row, so the sets are equal
    batches = hist.select(
        F.col("__hb").alias("__b")
    ).distinct()
    pool = (
        hist.join(
            F.broadcast(batches),
            (F.col("__hb") <= F.col("__b"))
            & (F.col("__hb") > F.col("__b") - F.lit(int(window))),
        )
        .groupBy("__b", score_col)
        .agg(F.sum("__n").alias("__pn"))
    )
    w = Window.partitionBy("__b").orderBy(
        s.desc_nulls_last()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = pool.select(
        "__b",
        s,
        F.col("__pn"),
        F.sum("__pn").over(w).alias("__cum"),
    )
    totals = pool.groupBy("__b").agg(F.sum("__pn").alias("__total"))
    thr = (
        cum.join(totals, "__b")
        .withColumn(
            "__k", F.ceil(F.lit(float(fraction)) * F.col("__total"))
        )
        .filter(
            (F.col("__cum") >= F.col("__k"))
            & (F.col("__cum") - F.col("__pn") < F.col("__k"))
        )
        .select("__b", s.alias("__t"), "__total")
    )
    batch_docs = hist.groupBy("__hb").agg(
        F.sum("__n").alias("__bd")
    )
    kept = (
        hist.join(
            F.broadcast(thr), F.col("__hb") == F.col("__b")
        )
        .filter(s >= F.col("__t"))
        .groupBy("__b")
        .agg(F.sum("__n").alias("__bk"))
    )
    return (
        thr.join(
            batch_docs, F.col("__b") == F.col("__hb")
        )
        .join(kept, "__b", "left")
        .select(
            F.col("__b").alias("batch"),
            (F.col("__t") + F.lit(0.0)).alias("threshold"),
            F.col("__total").cast("long").alias("pool_docs"),
            F.col("__bd").cast("long").alias("batch_docs"),
            F.coalesce(F.col("__bk"), F.lit(0))
            .cast("long")
            .alias("batch_kept"),
        )
        .orderBy("batch")
    )


def select_top_fraction(
    df: DataFrame,
    score_col: str,
    id_col: str,
    fraction: float,
    round_decimals: int | None = 6,
) -> DataFrame:
    """Exactly the top ``ceil(fraction * n)`` rows by
    ``(score DESC, id ASC)`` — equivalent to a global
    ``row_number() <= k`` window, computed WITHOUT a global sort.

    The selection KEY is the score rounded to ``round_decimals``
    (output rows are returned unmodified): the plan's 100 TB-safety
    rests on the histogram's cardinality being bounded by the score
    DOMAIN, and an unrounded continuous score would silently degrade
    the cumulative window below into a single-partition sort of
    corpus-cardinality distinct values. The default enforces the
    bound inside the function instead of relying on callers having
    rounded (rows within half an ulp of the rounding become ties,
    broken by id). ``round_decimals=None`` opts out for callers whose
    score domain is ALREADY discrete (integer grades, pre-rounded
    scores) and must match a naive window on the raw values.

    Algorithm (two broadcast joins, no corpus shuffle):
    1. histogram: ``groupBy(score).count()`` — cardinality bounded by
       the score domain (6-decimal rounding ⇒ ≤ ~1e6+1 distinct values
       for scores in [-0.5, 0.5]), so the cumulative window over the
       histogram is tiny no matter the corpus size;
    2. threshold row: the score ``t`` where the descending cumulative
       count first reaches ``k = ceil(fraction * total)``, and the
       residue ``r`` = how many of the ties AT ``t`` belong in the top-k;
    3. keep ``score > t`` outright (a broadcast-literal filter), and rank
       only the ``score == t`` tie set by id — a window partitioned on a
       single score value whose input is just the boundary ties.

    NULL scores sort LAST (``desc_nulls_last``, matching the naive
    window's default): they are selected only when ``k`` exceeds the
    non-null row count, in id order — all comparisons against the
    threshold are null-safe, so a NULL boundary cannot silently drop
    rows.

    The certified oracle for this operator states the naive global
    window; this plan is the 100 TB-safe equivalent (shuffle = one
    histogram aggregate + the boundary ties).
    """
    if not 0.0 < fraction <= 1.0:
        raise ValueError(f"fraction must be in (0, 1], got {fraction}")
    out_cols = df.columns
    if round_decimals is not None:
        df = df.withColumn(
            "__sel_score",
            F.round(F.col(score_col).cast("double"), round_decimals),
        )
        sel_col = "__sel_score"
    else:
        sel_col = score_col
    s = F.col(sel_col)
    thresh = _top_fraction_threshold(df, sel_col, fraction)
    joined = df.crossJoin(F.broadcast(thresh))
    # null-safe: when the threshold group is the NULL-score group,
    # every NON-null score is "above" it; otherwise plain >
    above = joined.filter(
        F.when(F.col("__t").isNull(), s.isNotNull()).otherwise(
            s > F.col("__t")
        )
    ).drop("__t", "__r")
    tie_w = Window.partitionBy(sel_col).orderBy(F.col(id_col))
    ties = (
        joined.filter(s.eqNullSafe(F.col("__t")))
        .withColumn("__rn", F.row_number().over(tie_w))
        .filter(F.col("__rn") <= F.col("__r"))
        .drop("__t", "__r", "__rn")
    )
    return above.unionByName(ties).select(*out_cols)
