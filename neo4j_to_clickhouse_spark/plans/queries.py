"""The engine's declared query inventory (SURVEY.md §2 + north-star ops).

Each :class:`QuerySpec` holds a Spark program and the ANSI SQL that the
DuckDB oracle runs. Where that SQL is valid Spark SQL and is itself the
computation the query documents, it is the program too (:func:`q_sql`):
Spark runs the same text over views of the tables, and the oracle check
compares the two engines on one query. Every other spec (:func:`q`)
carries a hand-built DataFrame program — it calls a package operator,
carries hand tuning, plans better than the SQL, or is checked against a
closed-form oracle that never reads the payload. Specs without oracle
SQL are operators whose hash functions are Spark-specific (xxhash64) or
seeded-random; their check counts rows only.

Determinism rules applied throughout (both sides):
- every top-k carries a total-order tie-break;
- money/metric sums cast to DECIMAL *before* aggregating (double summation
  is order-dependent across partitions/engines; decimal addition is exact),
  then cast to DOUBLE once for a stable final representation;
- averages are exact-decimal sums divided by counts, never double avg();
- all computed columns aliased identically in Spark and SQL.

The `events` table plays the role of the reference's CDC event log
(event_id/ts/user_id ~ event_id/event_timestamp/entity_id,
`clickhouse/init/01-init-tables.sql:8-20`); `documents`/`embeddings` feed
the LLM-pipeline operators.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from neo4j_to_clickhouse_spark.functions import variant as VR
from neo4j_to_clickhouse_spark.operators import dedup as D
from neo4j_to_clickhouse_spark.operators import graph as G
from neo4j_to_clickhouse_spark.operators import similarity as S
from neo4j_to_clickhouse_spark.operators import text as TX
from neo4j_to_clickhouse_spark.schemas import TESTDATA_TABLES
from neo4j_to_clickhouse_spark.sources.tables import (
    load_table as _t,
    register_views,
)


def _avg(col, scale: int = 6):
    """Deterministic average: exact decimal sum / count, one double cast."""
    return (
        F.sum(col.cast(f"decimal(28,{scale})")).cast("double")
        / F.count("*").cast("double")
    )


@dataclass
class QuerySpec:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}


def q(name: str, oracle: str | None, doc: str = ""):
    def reg(fn):
        QUERIES[name] = QuerySpec(spark=fn, oracle=oracle, doc=doc)
        return fn

    return reg


@dataclass(frozen=True)
class SqlProgram:
    """A Spark program that is its oracle SQL, run by Spark SQL.

    A call registers temp views of only the tables the SQL names (one
    parquet footer read each) and returns ``spark.sql(sql)``. Spark
    analyzes the query at once, so the DataFrame keeps reading its
    ``sf_dir`` after the views are re-registered for another one. The
    views are session-global: two threads building for different
    directories in one session at the same moment can read each other's.
    """

    sql: str

    def __call__(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        tables = tuple(
            t for t in TESTDATA_TABLES if re.search(rf"\b{t}\b", self.sql)
        )
        register_views(spark, sf_dir, tables)
        return spark.sql(self.sql)


def q_sql(name: str, oracle: str, doc: str = "") -> None:
    """Register a query whose program is its oracle SQL."""
    QUERIES[name] = QuerySpec(spark=SqlProgram(oracle), oracle=oracle, doc=doc)


# =====================================================================
# Reference parity — aggregations (SURVEY.md §2.4)
# =====================================================================

q_sql(
    "count_by_event_type",
    """SELECT event_type, count(*) AS cnt
       FROM events GROUP BY event_type
       ORDER BY cnt DESC, event_type""",
    "A1: the `make verify-clickhouse` query (README.md:440-447)",
)


q_sql(
    "count_distinct_by_type",
    """SELECT event_type, count(*) AS total,
              count(DISTINCT user_id) AS unique_entities
       FROM events GROUP BY event_type ORDER BY event_type""",
    "A2: test-scenarios/run_tests.py:91,104",
)


@q(
    "embedding_dimension_stats",
    # per-dimension drift profile over the full corpus. Means/extrema are
    # rounded to 4dp: each dimension aggregates thousands of floats and
    # summation order differs between engines (both accumulate in double,
    # so agreement at 4dp is robust; min/max are exact)
    # `+ 0` after round: IEEE -0.0 + 0.0 = +0.0, so a mean that rounds
    # to negative zero (DuckDB keeps the sign, Spark doesn't) compares
    # equal across engines
    """SELECT dim,
              round(avg(CAST(v AS DOUBLE)), 4) + 0 AS mean_v,
              round(min(CAST(v AS DOUBLE)), 4) + 0 AS min_v,
              round(max(CAST(v AS DOUBLE)), 4) + 0 AS max_v
       FROM (SELECT generate_subscripts(embedding, 1) - 1 AS dim,
                    unnest(embedding) AS v
             FROM embeddings) t
       GROUP BY dim ORDER BY dim""",
    "per-dimension embedding stats (drift detection): 64 groups out of a "
    "corpus-sized explode, map-side combined",
)
def embedding_dimension_stats(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select(F.posexplode("embedding").alias("dim", "v"))
        .groupBy("dim")
        .agg(
            (F.round(F.avg(F.col("v").cast("double")), 4) + F.lit(0.0)).alias(
                "mean_v"
            ),
            (F.round(F.min(F.col("v").cast("double")), 4) + F.lit(0.0)).alias(
                "min_v"
            ),
            (F.round(F.max(F.col("v").cast("double")), 4) + F.lit(0.0)).alias(
                "max_v"
            ),
        )
        .orderBy("dim")
    )


@q(
    "supplier_triangle_count",
    # co-supply graph: suppliers sharing a high-quantity order line are
    # linked; triangle count is orientation-independent, so the oracle
    # uses the plain canonical three-way join while the engine runs the
    # degree-ordered form (operators/graph.py::triangle_count)
    """WITH os AS (
         SELECT DISTINCT l_orderkey AS o, l_suppkey AS s
         FROM lineitem WHERE l_quantity > 45),
       e AS (
         SELECT DISTINCT a.s AS x, b.s AS y
         FROM os a JOIN os b ON a.o = b.o AND a.s < b.s)
       SELECT count(*) AS n_triangles
       FROM e e1
       JOIN e e2 ON e1.x = e2.x AND e1.y < e2.y
       JOIN e e3 ON e3.x = e1.y AND e3.y = e2.y""",
    "exact triangle count of the co-supply graph via degree-ordered "
    "wedge join — hub-proof at scale",
)
def supplier_triangle_count(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.graph import triangle_count

    os_ = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    a = os_.select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s1"))
    b = os_.select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s2"))
    edges = a.join(b, "o").filter(F.col("s1") < F.col("s2"))
    return triangle_count(edges, "s1", "s2")


#: the co-supply edge CTEs (supplier_pagerank's graph) — must define
#: ``e(s, t)``, symmetrized so there are no dangling nodes
_COSUPPLY_EDGES_CTE = """os AS (
         SELECT DISTINCT l_orderkey AS o, l_suppkey AS s
         FROM lineitem WHERE l_quantity > 45),
       ud AS (
         SELECT DISTINCT a.s AS x, b.s AS y
         FROM os a JOIN os b ON a.o = b.o AND a.s < b.s),
       e AS (SELECT x AS s, y AS t FROM ud UNION ALL
             SELECT y AS s, x AS t FROM ud)"""


def _pagerank_oracle_sql(
    iters: int, damping: float = 0.85, edges_cte: str | None = None
) -> str:
    """Unroll the fixed-iteration power method into chained CTEs — an
    iterative algorithm certified against a closed-form SQL oracle.
    ``edges_cte`` must define ``e(s, t)`` SYMMETRIZED (no dangling
    nodes, so the dangling-mass term is identically zero on both
    sides); default is the co-supply graph."""
    head = f"""WITH {edges_cte or _COSUPPLY_EDGES_CTE},
       nodes AS (SELECT DISTINCT s AS node FROM e),
       nn AS (SELECT count(*) AS n FROM nodes),
       outdeg AS (SELECT s, count(*) AS od FROM e GROUP BY s),
       r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes, nn)"""
    body = ""
    for i in range(1, iters + 1):
        body += f""",
       r{i} AS (
         SELECT n.node,
                (1.0 - {damping}) / nn.n
                  + {damping} * COALESCE(c.inflow, 0) AS rank
         FROM nodes n
         LEFT JOIN (
           SELECT e.t AS node, sum(r.rank / od.od) AS inflow
           FROM e JOIN r{i - 1} r ON e.s = r.node
           JOIN outdeg od ON od.s = e.s
           GROUP BY e.t) c ON c.node = n.node
         CROSS JOIN nn)"""
    return (
        head
        + body
        + f"""
       SELECT node, round(rank, 5) + 0 AS rank
       FROM r{iters} ORDER BY node"""
    )


@q(
    "supplier_pagerank",
    _pagerank_oracle_sql(4),
    "PageRank centrality of the co-supply graph (crawl-quality signal): "
    "4 power iterations, certified against an unrolled-CTE oracle",
)
def supplier_pagerank(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.graph import pagerank

    os_ = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    a = os_.select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s1"))
    b = os_.select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s2"))
    ud = a.join(b, "o").filter(F.col("s1") < F.col("s2")).distinct()
    edges = ud.select(F.col("s1").alias("src"), F.col("s2").alias("dst")).unionAll(
        ud.select(F.col("s2").alias("src"), F.col("s1").alias("dst"))
    )
    return (
        pagerank(edges, iterations=4)
        .select("node", (F.round("rank", 5) + F.lit(0.0)).alias("rank"))
        .orderBy("node")
    )


@q(
    "first_event_salted",
    # the salted two-stage argmin must reproduce the rank-window answer
    # exactly: per user, the (ts, event_id)-least event row
    """WITH ranked AS (
         SELECT user_id, ts, event_id, event_type,
                row_number() OVER (
                  PARTITION BY user_id ORDER BY ts, event_id) AS rn
         FROM events)
       SELECT user_id, ts, event_id, event_type
       FROM ranked WHERE rn = 1 ORDER BY user_id""",
    "explicit two-stage argmin via salted_min_by (operators/skew.py) — "
    "equivalence pin for the salted shuffle shape; Spark 4's "
    "WindowGroupLimit already heap-prunes the plain rank window, which "
    "measures FASTER (docs/SCALING.md round-8 correction)",
)
def first_event_salted(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.skew import salted_min_by

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    return (
        salted_min_by(ev, ["user_id"], "ts", buckets=16)
        .select("user_id", "ts", "event_id", "event_type")
        .orderBy("user_id")
    )


@q(
    "count_distinct_salted",
    # exact same semantics as count_distinct_by_type's distinct count —
    # the salted two-stage formulation changes the SHUFFLE SHAPE, not the
    # result, so the plain oracle applies verbatim
    """SELECT event_type, count(DISTINCT user_id) AS unique_entities
       FROM events GROUP BY event_type ORDER BY event_type""",
    "explicit two-stage exact count-distinct (operators/skew.py) — "
    "equivalence pin for the salted shuffle shape; the planner's native "
    "(key, value) distinct expansion already spreads hot keys and "
    "measures comparable-or-faster (docs/SCALING.md round-8 correction)",
)
def count_distinct_salted(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.skew import (
        salted_count_distinct,
    )

    return salted_count_distinct(
        _t(spark, sf_dir, "events"),
        ["event_type"],
        "user_id",
        buckets=16,
        out_col="unique_entities",
    ).orderBy("event_type")


@q(
    "word_distribution",
    """SELECT word, count(*) AS cnt
       FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part) t
       GROUP BY word ORDER BY cnt DESC, word LIMIT 10""",
    "A3: arrayJoin + grouped count + top-k (04-optimize-tables.sql:151-160)",
)
def word_distribution(spark, sf_dir):
    return (
        _t(spark, sf_dir, "part")
        .select(F.explode(F.split("p_name", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "word")
        .limit(10)
    )


@q(
    "topk_words_approx",
    # ClickHouse topK() parity through the mergeable-summary operator.
    # capacity >> per-batch distinct words makes the summaries exact and
    # every err_bound 0 BY CONSTRUCTION (the IVF-full-probe trick), so
    # the exact per-group top-k with (count desc, word asc) tie-break is
    # a legitimate hard oracle for the whole summarize+merge machinery.
    """WITH w AS (
         SELECT source, unnest(string_split(p.word_src, ' ')) AS item
         FROM (SELECT source, text AS word_src FROM documents) p),
       c AS (
         SELECT source, item, count(*) AS est_count FROM w
         GROUP BY source, item),
       r AS (
         SELECT source, item, est_count,
                row_number() OVER (PARTITION BY source
                                   ORDER BY est_count DESC, item) AS rn
         FROM c)
       SELECT source, item, est_count, CAST(0 AS BIGINT) AS err_bound
       FROM r WHERE rn <= 5 ORDER BY source, est_count DESC, item""",
    "approximate per-source top-5 words (ClickHouse topK parity: "
    "mergeable truncated-count summaries, certified error bounds)",
)
def topk_words_approx(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.heavy_hitters import (
        approx_top_k,
    )

    words = (
        _t(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("word"))
    )
    return approx_top_k(
        words, ["source"], "word", k=5, capacity=1_000_000
    ).orderBy("source", F.col("est_count").desc(), "item")


q_sql(
    "payload_profile",
    """SELECT event_type, count(*) AS cnt,
              CAST(sum(length(props)) AS BIGINT) AS total_payload_chars
       FROM events GROUP BY event_type ORDER BY event_type""",
    "A4: sum(length(properties)) profiling (04-optimize-tables.sql:155,166)",
)


q_sql(
    "duplicate_keys",
    """SELECT user_id, count(*) AS cnt FROM events
       GROUP BY user_id HAVING count(*) > 1
       ORDER BY cnt DESC, user_id LIMIT 20""",
    "A5: GROUP BY ... HAVING count>1 (04-optimize-tables.sql:68-87)",
)


q_sql(
    "global_totals",
    """SELECT count(*) AS total_events,
              count(DISTINCT user_id) AS total_entities
       FROM events""",
    "A6: global scalar aggregates (04-optimize-tables.sql:194-203)",
)


@q(
    "orders_per_customer_topk",
    """SELECT c.c_custkey, c.c_name, count(*) AS order_cnt
       FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
       GROUP BY c.c_custkey, c.c_name
       ORDER BY order_cnt DESC, c.c_custkey LIMIT 10""",
    "A7/J1: degree query — interfaces-per-device shape (04-optimize-tables.sql:206-218)",
)
def orders_per_customer_topk(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(F.count("*").alias("order_cnt"))
    return (
        F.broadcast(customer.select("c_custkey", "c_name"))
        .join(per_cust, customer.c_custkey == per_cust.o_custkey)
        .select("c_custkey", "c_name", "order_cnt")
        .orderBy(F.col("order_cnt").desc(), "c_custkey")
        .limit(10)
    )


@q(
    "summary_stats",
    """SELECT event_type, count(*) AS cnt,
              CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                / CAST(count(*) AS DOUBLE) AS avg_value,
              list_aggregate(list_sort(list(DISTINCT user_id % 10)),
                             'string_agg', ',') AS user_buckets
       FROM events GROUP BY event_type ORDER BY event_type""",
    "A8: count/avg/collect(DISTINCT) (test-scenarios/07 summary block)",
)
def summary_stats(spark, sf_dir):
    # user_buckets is serialized to a sorted comma-joined string (not a raw
    # array column): the collect(DISTINCT) semantics are identical, but a
    # scalar string stays hashable/sortable for any downstream consumer.
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            _avg(F.col("value")).alias("avg_value"),
            F.array_join(
                F.array_sort(F.collect_set(F.col("user_id") % 10)).cast(
                    "array<string>"
                ),
                ",",
            ).alias("user_buckets"),
        )
        .orderBy("event_type")
    )


# =====================================================================
# Sorts / limits / sampling / set ops (SURVEY.md §2.6-2.7)
# =====================================================================

q_sql(
    "latest_events",
    """SELECT event_id, ts, user_id, event_type FROM events
       ORDER BY ts DESC, event_id DESC LIMIT 10""",
    "O2: latest-n by time (README.md:364-365)",
)


@q(
    "random_sample",
    None,  # seeded rand() is engine-specific -> rows-only check
    "O3: ORDER BY rand() LIMIT n (04-optimize-tables.sql:124-145)",
)
def random_sample(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .orderBy(F.rand(42))
        .limit(10)
        .select("event_id", "event_type")
    )


q_sql(
    "sorted_regions",
    "SELECT r_regionkey, r_name FROM region ORDER BY r_name",
    "O4: plain sort by key",
)


q_sql(
    "union_counts",
    """SELECT 'customer' AS table_name, count(*) AS cnt FROM customer
       UNION ALL SELECT 'orders', count(*) FROM orders
       UNION ALL SELECT 'lineitem', count(*) FROM lineitem
       ORDER BY table_name""",
    "U1: UNION ALL of labeled counts (README.md:317-321)",
)


# =====================================================================
# Predicates (SURVEY.md §2.2)
# =====================================================================

q_sql(
    "filter_event_type",
    """SELECT event_id, user_id, value FROM events
       WHERE event_type = 'purchase'
       ORDER BY event_id LIMIT 50""",
    "P3: equality predicate on the event-type enum",
)


@q(
    "filter_array_membership",
    """SELECT p_brand, count(*) AS cnt FROM part
       WHERE list_contains(string_split(p_name, ' '), 'widget')
       GROUP BY p_brand ORDER BY p_brand""",
    "P4: has(labels, x) -> array_contains (README.md:361)",
)
def filter_array_membership(spark, sf_dir):
    return (
        _t(spark, sf_dir, "part")
        .filter(F.array_contains(F.split("p_name", " "), "widget"))
        .groupBy("p_brand")
        .agg(F.count("*").alias("cnt"))
        .orderBy("p_brand")
    )


@q(
    "filter_json_path",
    """SELECT event_type, count(*) AS cnt FROM events
       WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
       GROUP BY event_type ORDER BY event_type""",
    "P5/F1: JSONExtractString predicate (README.md:362)",
)
def filter_json_path(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .filter(F.get_json_object("props", "$.k").cast("int") > 50)
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
        .orderBy("event_type")
    )


@q(
    "filter_json_path_variant",
    """SELECT event_type, count(*) AS cnt FROM events
       WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
       GROUP BY event_type ORDER BY event_type""",
    "P5/F1 through Spark 4 VariantType: parse_json once, typed variant_get "
    "navigation — the engine-native form of the reference's unused "
    "experimental JSON type (config.xml:18, SURVEY.md §1.2)",
)
def filter_json_path_variant(spark, sf_dir):
    return (
        VR.with_variant_properties(_t(spark, sf_dir, "events"), cols=("props",))
        .filter(VR.vget("props_v", "$.k", "int") > 50)
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
        .orderBy("event_type")
    )


q_sql(
    "filter_time_range",
    """SELECT event_type, count(*) AS cnt FROM events
       WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
         AND ts <  TIMESTAMP '2024-01-20 00:00:00'
       GROUP BY event_type ORDER BY event_type""",
    "P6: temporal range predicate (README.md:583)",
)


@q(
    "conjunctive_filters",
    """SELECT count(*) AS cnt FROM events
       WHERE event_type = 'click'
         AND CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
         AND ts >= TIMESTAMP '2024-01-05 00:00:00'""",
    "P7: conjunctive predicates (04-optimize-tables.sql:212-215)",
)
def conjunctive_filters(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .filter(F.get_json_object("props", "$.k").cast("int") > 50)
        .filter(F.col("ts") >= F.lit("2024-01-05 00:00:00").cast("timestamp"))
        .agg(F.count("*").alias("cnt"))
    )


# =====================================================================
# Latest-state / dedup semantics (SURVEY.md §2.5, §2.9 M1-M3)
# =====================================================================

q_sql(
    "latest_state_per_entity",
    """WITH ranked AS (
         SELECT event_type,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
         FROM events)
       SELECT event_type, count(*) AS entity_cnt FROM ranked
       WHERE rn = 1 GROUP BY event_type ORDER BY event_type""",
    "M1: OPTIMIZE FINAL semantics as window dedup (04-optimize-tables.sql:26-48)",
)


q_sql(
    "dedup_validation",
    """SELECT count(*) AS entities_with_dups FROM (
         SELECT user_id FROM events WHERE event_type = 'signup'
         GROUP BY user_id HAVING count(*) > 1) t""",
    "M2: post-dedup validation — entities holding >1 event of one kind",
)


q_sql(
    "retention_candidates",
    """SELECT event_type, count(*) AS cnt FROM events
       WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
       GROUP BY event_type ORDER BY event_type""",
    "M3: retention delete candidates (README.md:582-584), fixed cutoff",
)


# =====================================================================
# TPC-H-style benchmark heads (BASELINE.md scale targets)
# =====================================================================

@q(
    "pricing_summary",
    """SELECT l_returnflag, l_linestatus,
              CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
              CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
              CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                / CAST(count(*) AS DOUBLE) AS avg_qty,
              count(*) AS count_order
       FROM lineitem
       GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus""",
    "flagship: TPC-H Q1-style pricing summary over the fact table",
)
def pricing_summary(spark, sf_dir):
    # spread: a single-row-group fixture file scans as ONE task,
    # serializing the decimal aggregate onto one core; at real SF the
    # scan is already split and this is a no-op (dedup.spread docstring,
    # r15 optimization round — 1.6 -> 1.2 s at sf0.1)
    li = D.spread(
        _t(spark, sf_dir, "lineitem"),
        min_bytes=4 * 1024 * 1024,
        by="l_orderkey",
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_base_price"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("sum_disc_price"),
            (
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
                / F.count("*").cast("double")
            ).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@q(
    "top_revenue_orders",
    """SELECT o.o_orderkey, c.c_mktsegment,
              CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                   AS DECIMAL(18,4))) AS DOUBLE) AS revenue
       FROM customer c
       JOIN orders o ON o.o_custkey = c.c_custkey
       JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       WHERE c.c_mktsegment = 'BUILDING'
       GROUP BY o.o_orderkey, c.c_mktsegment
       ORDER BY revenue DESC, o.o_orderkey LIMIT 10""",
    "TPC-H Q3-style: filtered dim broadcast -> fact join -> top-k revenue",
)
def top_revenue_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    # spread: see pricing_summary — parallelizes the broadcast-join
    # probe over the single-row-group fixture scan; no-op at real SF
    li = D.spread(
        _t(spark, sf_dir, "lineitem"),
        min_bytes=4 * 1024 * 1024,
        by="l_orderkey",
    )
    return (
        li.join(
            F.broadcast(
                o.join(
                    F.broadcast(c.select("c_custkey", "c_mktsegment")),
                    o.o_custkey == F.col("c_custkey"),
                ).select("o_orderkey", "c_mktsegment")
            ),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "c_mktsegment")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
    )


@q(
    "revenue_by_nation",
    """SELECT n.n_name,
              CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                   AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
              count(*) AS line_cnt
       FROM lineitem l
       JOIN orders o ON l.l_orderkey = o.o_orderkey
       JOIN customer c ON o.o_custkey = c.c_custkey
       JOIN nation n ON c.c_nationkey = n.n_nationkey
       GROUP BY n.n_name ORDER BY n.n_name""",
    "TPC-H Q5-style multi-join rollup (two-hop join shape, SURVEY.md §2.3 J2)",
)
def revenue_by_nation(spark, sf_dir):
    # The broadcast hints here INCLUDE the orders side — intentional, not a
    # scale bug: F.broadcast is advisory, and when orders outgrows the
    # broadcast threshold at real SF, AQE falls back to a shuffle join on
    # l_orderkey, which is then the correct plan. At bench SF the hint
    # keeps the whole chain broadcast so the fact table never shuffles
    # (plan-asserted in tests/test_plan_shapes.py). Do not "fix" by
    # removing the hint.
    # spread: see pricing_summary — parallelizes the broadcast-join
    # probe over the single-row-group fixture scan; no-op at real SF
    li = D.spread(
        _t(spark, sf_dir, "lineitem"),
        min_bytes=4 * 1024 * 1024,
        by="l_orderkey",
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    cust_nation = F.broadcast(
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
            "c_custkey", "n_name"
        )
    )
    order_nation = F.broadcast(
        o.join(cust_nation, o.o_custkey == F.col("c_custkey")).select(
            "o_orderkey", "n_name"
        )
    )
    return (
        li.join(order_nation, li.l_orderkey == F.col("o_orderkey"))
        .groupBy("n_name")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("line_cnt"),
        )
        .orderBy("n_name")
    )


q_sql(
    "order_priority_count",
    """SELECT o_orderpriority, count(*) AS order_cnt FROM orders
       WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
       GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "TPC-H Q4-style priority rollup with date filter",
)


q_sql(
    "acctbal_by_segment",
    """SELECT c_mktsegment, count(*) AS customers,
              CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
       FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "dimension rollup with exact decimal money sum",
)


# =====================================================================
# Graph-pattern queries through the CDC operators (SURVEY.md §2.3 J2, §7.8)
# =====================================================================
#
# The graph operators (`operators.graph.two_hop` / `.degree`) consume CDC
# event logs. To put them under the SQL-oracle gate we synthesize a
# deterministic property graph from TPC-H: customers and order-priority buckets are nodes,
# orders are (customer)-[PLACED_WITH]->(priority) edges. DELETE events are
# mixed in (negative-balance customers, 'F'-status orders) so the
# DELETE-aware `current_state` reconstruction — the semantics the
# reference's raw-log queries never implement — is what the oracle checks.

_GRAPH_TS = "2026-01-01 00:00:00"


def _graph_events(spark, sf_dir):
    """(node_events, rel_events) synthesized from customer/orders."""
    ts = F.lit(_GRAPH_TS).cast("timestamp")
    later = ts + F.expr("INTERVAL 1 HOUR")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    cust_nodes = cust.select(
        F.concat(F.lit("ins-c"), "c_custkey").alias("event_id"),
        F.lit("INSERT").alias("event_type"),
        ts.alias("event_timestamp"),
        F.concat(F.lit("c"), "c_custkey").alias("entity_id"),
        F.array(F.lit("Customer")).alias("labels"),
        F.lit(None).cast("string").alias("properties_before"),
        F.to_json(F.struct("c_name", "c_acctbal")).alias("properties_after"),
    )
    clerk_nodes = (
        orders.select("o_orderpriority")
        .distinct()
        .select(
            F.concat(F.lit("ins-"), "o_orderpriority").alias("event_id"),
            F.lit("INSERT").alias("event_type"),
            ts.alias("event_timestamp"),
            F.col("o_orderpriority").alias("entity_id"),
            F.array(F.lit("Priority")).alias("labels"),
            F.lit(None).cast("string").alias("properties_before"),
            F.to_json(F.struct("o_orderpriority")).alias("properties_after"),
        )
    )
    cust_deletes = cust.filter(F.col("c_acctbal") < 0).select(
        F.concat(F.lit("del-c"), "c_custkey").alias("event_id"),
        F.lit("DELETE").alias("event_type"),
        later.alias("event_timestamp"),
        F.concat(F.lit("c"), "c_custkey").alias("entity_id"),
        F.array(F.lit("Customer")).alias("labels"),
        F.to_json(F.struct("c_name", "c_acctbal")).alias("properties_before"),
        F.lit(None).cast("string").alias("properties_after"),
    )
    node_events = cust_nodes.unionByName(clerk_nodes).unionByName(cust_deletes)
    edge_ins = orders.select(
        F.concat(F.lit("ins-o"), "o_orderkey").alias("event_id"),
        F.lit("INSERT").alias("event_type"),
        ts.alias("event_timestamp"),
        F.concat(F.lit("o"), "o_orderkey").alias("entity_id"),
        F.lit("PLACED_WITH").alias("relationship_type"),
        F.concat(F.lit("c"), "o_custkey").alias("source_id"),
        F.col("o_orderpriority").alias("target_id"),
        F.lit(None).cast("string").alias("properties_before"),
        F.to_json(F.struct("o_orderstatus")).alias("properties_after"),
    )
    edge_del = orders.filter(F.col("o_orderstatus") == "F").select(
        F.concat(F.lit("del-o"), "o_orderkey").alias("event_id"),
        F.lit("DELETE").alias("event_type"),
        later.alias("event_timestamp"),
        F.concat(F.lit("o"), "o_orderkey").alias("entity_id"),
        F.lit("PLACED_WITH").alias("relationship_type"),
        F.concat(F.lit("c"), "o_custkey").alias("source_id"),
        F.col("o_orderpriority").alias("target_id"),
        F.to_json(F.struct("o_orderstatus")).alias("properties_before"),
        F.lit(None).cast("string").alias("properties_after"),
    )
    return node_events, edge_ins.unionByName(edge_del)


@q(
    "graph_two_hop_topk",
    """WITH live_cust AS (
         SELECT 'c' || CAST(c_custkey AS VARCHAR) AS id
         FROM customer WHERE c_acctbal >= 0),
       live_edges AS (
         SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src, o_orderpriority AS dst
         FROM orders WHERE o_orderstatus <> 'F')
       SELECT dst AS priority, count(*) AS n_orders,
              count(DISTINCT src) AS n_customers
       FROM live_edges JOIN live_cust ON src = live_cust.id
       GROUP BY dst ORDER BY n_orders DESC, priority LIMIT 10""",
    "J2: (a)-[r]->(b) motif via two_hop over CDC current_state, "
    "DELETE-aware (02-export-relationships.cypher:185-204)",
)
def graph_two_hop_topk(spark, sf_dir):
    nodes, edges = _graph_events(spark, sf_dir)
    motif = G.two_hop(nodes, edges)
    return (
        motif.groupBy(F.col("target_id").alias("priority"))
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("source_id").alias("n_customers"),
        )
        .orderBy(F.col("n_orders").desc(), "priority")
        .limit(10)
    )


@q(
    "graph_degree_topk",
    """SELECT 'c' || CAST(o_custkey AS VARCHAR) AS entity_id,
              count(*) AS degree
       FROM orders WHERE o_orderstatus <> 'F'
       GROUP BY o_custkey ORDER BY degree DESC, entity_id LIMIT 10""",
    "A7/J1 through the graph operator: out-degree over live edges only",
)
def graph_degree_topk(spark, sf_dir):
    _, edges = _graph_events(spark, sf_dir)
    return (
        G.degree(edges, direction="out")
        .orderBy(F.col("degree").desc(), "entity_id")
        .limit(10)
    )


# =====================================================================
# LLM-pipeline: deduplication (north star)
# =====================================================================

q_sql(
    "dedup_exact_docs",
    """SELECT source, count(*) AS n_docs,
              count(DISTINCT md5(text)) AS n_unique
       FROM documents GROUP BY source ORDER BY source""",
    "exact content-hash dedup accounting per source",
)


@q(
    "dedup_ngram_jaccard",
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       sh AS (
         SELECT DISTINCT doc_id,
                list_aggregate(w[i:i+2], 'string_agg', ' ') AS shingle
         FROM d, (SELECT unnest(range(1, 100000)) AS i) idx
         WHERE i <= len(w) - 2),
       sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       inter AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
         FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         GROUP BY a.doc_id, b.doc_id)
       SELECT id_a, id_b,
              round(CAST(n_inter AS DOUBLE)
                    / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
       FROM inter
       JOIN sizes sa ON sa.doc_id = id_a
       JOIN sizes sb ON sb.doc_id = id_b
       WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
       ORDER BY id_a, id_b""",
    "n-gram Jaccard near-dup pairs via inverted-index self-join",
)
def dedup_ngram_jaccard(spark, sf_dir):
    pairs = D.jaccard_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", n=3, threshold=0.5
    )
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("id_a", "id_b")


# Deterministic eval-set split for the fixture: every 20th doc_id is
# the "benchmark"; the rest are the training corpus. Overlap over
# DISTINCT 4-gram shingles — the proportional analogue, on these
# short fixture docs, of the 13-gram practice public LLM training
# reports apply to full documents (beyond-reference op).  Shared by the
# exact operator and its Bloom-reduced scale path: the Bloom probe has
# no false negatives and is followed by an exact verify join, so BOTH
# plans must reproduce this oracle bit-for-bit.
_DECON_ORACLE = """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       sh AS (
         SELECT DISTINCT doc_id,
                list_aggregate(w[i:i+3], 'string_agg', ' ') AS shingle
         FROM d, (SELECT unnest(range(1, 100000)) AS i) idx
         WHERE i <= len(w) - 3),
       bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
       corpus AS (SELECT * FROM sh WHERE doc_id % 20 <> 0)
       SELECT doc_id,
              count(*) AS n_shingles,
              count(b.shingle) AS n_hits,
              round(CAST(count(b.shingle) AS DOUBLE) / count(*), 6)
                AS contamination
       FROM corpus LEFT JOIN bench b USING (shingle)
       GROUP BY doc_id
       HAVING count(b.shingle) > 0
       ORDER BY doc_id"""


@q(
    "decontamination_overlap",
    _DECON_ORACLE,
    "eval-set n-gram decontamination: corpus docs sharing 4-grams with bench",
)
def decontamination_overlap(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = D.ngram_contamination(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0),
        "doc_id",
        "text",
        n=4,
    )
    return out.select(
        F.col("id").alias("doc_id"),
        "n_shingles",
        "n_hits",
        F.round("contamination", 6).alias("contamination"),
    ).orderBy("doc_id")


@q(
    "decontamination_bloom",
    _DECON_ORACLE,
    "Bloom-reduced decontamination (scale path): scan-side bitmap probe "
    "+ exact verify — shuffle scales with contamination rate, not corpus "
    "size; certified against the exact operator's oracle",
)
def decontamination_bloom(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.bloom import (
        ngram_contamination_bloom,
    )

    docs = _t(spark, sf_dir, "documents")
    out = ngram_contamination_bloom(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0),
        "doc_id",
        "text",
        n=4,
    )
    return out.select(
        F.col("id").alias("doc_id"),
        "n_shingles",
        "n_hits",
        F.round("contamination", 6).alias("contamination"),
    ).orderBy("doc_id")


@q(
    "dedup_jaccard_capped",
    # the stop-shingle skew cap certified: shingles with document
    # frequency above 20 are dropped from the INTERSECTION join (the
    # hot-key f^2 blowup guard) while denominators still count them, so
    # reported Jaccard stays exact for non-boilerplate overlap. Cap 20
    # bounds per-shingle join fan-in at 190 pairs yet keeps every true
    # pair at sf0.1 (clone clusters run larger than the old cap of 3,
    # which zeroed the sf0.1 result set)
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       sh AS (
         SELECT DISTINCT doc_id,
                list_aggregate(w[i:i+2], 'string_agg', ' ') AS shingle
         FROM d, (SELECT unnest(range(1, 100000)) AS i) idx
         WHERE i <= len(w) - 2),
       sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       freq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
       kept AS (SELECT sh.doc_id, sh.shingle
                FROM sh JOIN freq USING (shingle) WHERE freq.df <= 20),
       inter AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
         FROM kept a JOIN kept b
           ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         GROUP BY a.doc_id, b.doc_id)
       SELECT id_a, id_b,
              round(CAST(n_inter AS DOUBLE)
                    / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
       FROM inter
       JOIN sizes sa ON sa.doc_id = id_a
       JOIN sizes sb ON sb.doc_id = id_b
       WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
       ORDER BY id_a, id_b""",
    "n-gram Jaccard with the max_shingle_freq stop-shingle cap (=20) — "
    "the hot-shingle hardening path, exactly certified",
)
def dedup_jaccard_capped(spark, sf_dir):
    pairs = D.jaccard_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, threshold=0.5, max_shingle_freq=20,
    )
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("id_a", "id_b")


@q(
    "dedup_minhash_lsh",
    # The minhash signatures are engine-specific (xxhash64), but the
    # OUTPUT is exact verified Jaccard over the LSH candidate set. With
    # 32 bands x 2 rows, candidate recall at J>=0.5 is 1-(1-J^2)^32
    # >= 0.9999 and the pipeline is fully deterministic (fixed seeds) —
    # at sf0.01 the result is verified identical to the exhaustive
    # inverted-index join, so the exact-Jaccard oracle applies verbatim.
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       sh AS (
         SELECT DISTINCT doc_id,
                list_aggregate(w[i:i+2], 'string_agg', ' ') AS shingle
         FROM d, (SELECT unnest(range(1, 100000)) AS i) idx
         WHERE i <= len(w) - 2),
       sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       inter AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
         FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         GROUP BY a.doc_id, b.doc_id)
       SELECT id_a, id_b,
              round(CAST(n_inter AS DOUBLE)
                    / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
       FROM inter
       JOIN sizes sa ON sa.doc_id = id_a
       JOIN sizes sb ON sb.doc_id = id_b
       WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
       ORDER BY id_a, id_b""",
    "MinHash+LSH near-dup: shingle -> 64-hash signature -> 32 bands -> verify",
)
def dedup_minhash_lsh(spark, sf_dir):
    return D.minhash_lsh_dedup(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, num_hashes=64, bands=32, threshold=0.5,
    ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")).orderBy(
        "id_a", "id_b"
    )


_JACCARD_PAIRS_CTE = """
       d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       sh AS (
         SELECT DISTINCT doc_id,
                list_aggregate(w[i:i+2], 'string_agg', ' ') AS shingle
         FROM d, (SELECT unnest(range(1, 100000)) AS i) idx
         WHERE i <= len(w) - 2),
       sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       inter AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
         FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         GROUP BY a.doc_id, b.doc_id),
       pairs AS (
         SELECT id_a, id_b FROM inter
         JOIN sizes sa ON sa.doc_id = id_a
         JOIN sizes sb ON sb.doc_id = id_b
         WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5),
       edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                 UNION SELECT id_b, id_a FROM pairs),
       reach(id, r) AS (
         SELECT src, dst FROM edges
         UNION
         SELECT reach.id, edges.dst
         FROM reach JOIN edges ON reach.r = edges.src),
       clusters AS (
         SELECT id, least(id, min(r)) AS cluster_id FROM reach GROUP BY id)
"""


@q(
    "dedup_clusters",
    # connected components via transitive closure (recursive CTE) — the
    # oracle-side ground truth for the iterative min-label propagation
    "WITH RECURSIVE" + _JACCARD_PAIRS_CTE
    + "SELECT id, cluster_id FROM clusters ORDER BY id",
    "near-dup clusters: connected components of the Jaccard>=0.5 pair "
    "graph, cluster_id = component min",
)
def dedup_clusters(spark, sf_dir):
    pairs = D.jaccard_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", n=3, threshold=0.5
    )
    return D.duplicate_clusters(pairs).orderBy("id")


@q(
    "dedup_survivors_by_source",
    # corpus minus per-cluster losers, counted per source: what a training
    # pipeline actually ships after near-dup removal
    "WITH RECURSIVE" + _JACCARD_PAIRS_CTE
    + """SELECT source, count(*) AS n_docs
       FROM documents
       WHERE doc_id NOT IN (SELECT id FROM clusters WHERE id <> cluster_id)
       GROUP BY source ORDER BY source""",
    "deduplicated corpus size per source (keep one survivor per cluster)",
)
def dedup_survivors_by_source(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    return (
        D.dedup_by_pairs(docs, pairs, "doc_id")
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("source")
    )


@q(
    "dedup_simhash",
    None,  # xxhash64-based -> rows-only check
    "SimHash near-dup pairs, hamming<=3 via 16-bit chunk banding",
)
def dedup_simhash(spark, sf_dir):
    return D.simhash_near_duplicates(
        _t(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=3
    ).orderBy("id_a", "id_b")


# =====================================================================
# LLM-pipeline: similarity search (north star)
# =====================================================================

_COS = (
    "list_dot_product(qv, cv)"
    " / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))"
)

@q(
    "embedding_knn",
    f"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                  FROM embeddings WHERE vec_id < 5),
       c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
             FROM embeddings),
       scored AS (
         SELECT query_id, neighbor_id, {_COS} AS sim
         FROM q JOIN c ON query_id <> neighbor_id),
       ranked AS (
         SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rank,
                sim
         FROM scored)
       SELECT query_id, neighbor_id, rank, round(sim, 6) AS cosine_sim
       FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
    "brute-force cosine top-5 for query vectors (exact ANN baseline)",
)
def embedding_knn(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    out = S.brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=5)
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("cosine_sim", 6).alias("cosine_sim")
    ).orderBy("query_id", "rank")


@q(
    "embedding_near_duplicates",
    f"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       p AS (
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                list_dot_product(a.e, b.e)
                  / (sqrt(list_dot_product(a.e, a.e))
                     * sqrt(list_dot_product(b.e, b.e))) AS sim
         FROM v a JOIN v b ON a.vec_id < b.vec_id)
       SELECT id_a, id_b, round(sim, 6) AS cosine_sim
       FROM p WHERE sim >= 0.4 ORDER BY id_a, id_b""",
    "embedding-cosine near-dup pairs (threshold tuned to corpus sim range)",
)
def embedding_near_duplicates(spark, sf_dir):
    return (
        S.cosine_near_duplicates(_t(spark, sf_dir, "embeddings"), threshold=0.4)
        .select("id_a", "id_b", F.round("cosine_sim", 6).alias("cosine_sim"))
        .orderBy("id_a", "id_b")
    )


@q(
    "semantic_dedup_survivors",
    # SemDeDup (keep-lowest-id within cosine threshold) retention
    # accounting per label: of every near-dup pair (id_a < id_b) the
    # higher id is dropped. Reuses the certified exact-pairs predicate;
    # the survivor algebra is an anti-join, integer-exact.
    f"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                  FROM embeddings),
       p AS (
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                list_dot_product(a.e, b.e)
                  / (sqrt(list_dot_product(a.e, a.e))
                     * sqrt(list_dot_product(b.e, b.e))) AS sim
         FROM v a JOIN v b ON a.vec_id < b.vec_id),
       dr AS (SELECT DISTINCT id_b FROM p WHERE sim >= 0.4)
       SELECT label,
              count(*) AS n_vectors,
              CAST(sum(CASE WHEN d.id_b IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_survivors,
              CAST(sum(CASE WHEN d.id_b IS NULL THEN 0 ELSE 1 END)
                   AS BIGINT) AS n_dropped
       FROM embeddings e LEFT JOIN dr d ON e.vec_id = d.id_b
       GROUP BY label ORDER BY label""",
    "SemDeDup retention accounting: per-label survivor/drop counts "
    "under keep-lowest-id cosine dedup (threshold 0.4)",
)
def semantic_dedup_survivors(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    out = S.semantic_dedup_survivors(emb, threshold=0.4)
    return (
        out.groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.sum(F.col("is_survivor").cast("long")).alias("n_survivors"),
            F.sum((~F.col("is_survivor")).cast("long")).alias("n_dropped"),
        )
        .orderBy("label")
    )


@q(
    "embedding_lsh_near_dup",
    # The planted-clone construction has a closed-form answer: scaling
    # preserves cosine exactly, so the only pairs at cosine>=0.9 are each
    # vector with its own clone (random 64-dim vectors never reach 0.9),
    # and sign-LSH recall on cosine=1 pairs is guaranteed (identical sign
    # signatures collide in every band). Verified: 500/500 recovered,
    # all at round(cosine,6)=1.0.
    """SELECT vec_id AS id_a, vec_id + 1000000 AS id_b,
              CAST(1.0 AS DOUBLE) AS cosine_sim
       FROM embeddings ORDER BY id_a, id_b""",
    "hyperplane-LSH near-dup: sign signatures -> bucket join -> exact "
    "cosine verify (the scale path for embedding_near_duplicates). The "
    "testdata embeddings are random (no natural cosine>=0.9 pairs), so "
    "every vector is unioned with a scaled clone at vec_id+10^6: scaling "
    "preserves cosine exactly, sign-LSH recall on cosine=1 pairs is "
    "guaranteed, and the operator must recover one pair per vector.",
)
def embedding_lsh_near_dup(spark, sf_dir):
    base = _t(spark, sf_dir, "embeddings")
    clones = base.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).cast(
            "array<float>"
        ).alias("embedding"),
    )
    corpus = base.select("vec_id", "embedding").unionByName(clones)
    return (
        S.lsh_near_duplicates(corpus, threshold=0.9)
        .select("id_a", "id_b", F.round("cosine_sim", 6).alias("cosine_sim"))
        .orderBy("id_a", "id_b")
    )


@q(
    "embedding_ivf_topk",
    None,  # approximate by design -> rows-only check
    "IVF-probed approximate top-k (scale path: nprobe/num_centroids recall knob)",
)
def embedding_ivf_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    out = S.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=5, num_centroids=8, nprobe=4
    )
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("cosine_sim", 6).alias("cosine_sim")
    ).orderBy("query_id", "rank")


@q(
    "embedding_ivf_full_probe",
    # With nprobe == num_centroids every cell is probed, so IVF degenerates
    # to exact kNN BY CONSTRUCTION — the probe machinery (centroid pick,
    # cell assignment, cell equi-join, rank) is exercised end-to-end while
    # the result is provably the brute-force answer, giving the IVF path a
    # hard value-hash gate (the default-nprobe variant above stays
    # rows-only, as recall there is a tuning knob, not a contract).
    f"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                  FROM embeddings WHERE vec_id < 5),
       c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
             FROM embeddings),
       scored AS (
         SELECT query_id, neighbor_id, {_COS} AS sim
         FROM q JOIN c ON query_id <> neighbor_id),
       ranked AS (
         SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rank,
                sim
         FROM scored)
       SELECT query_id, neighbor_id, rank, round(sim, 6) AS cosine_sim
       FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
    "IVF with every cell probed: must equal exact kNN (hard gate on the "
    "index/probe machinery)",
)
def embedding_ivf_full_probe(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    out = S.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=5, num_centroids=8, nprobe=8
    )
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("cosine_sim", 6).alias("cosine_sim")
    ).orderBy("query_id", "rank")


@q(
    "embedding_ivf_recall",
    # The pruned-probe IVF path (nprobe < num_centroids) is approximate
    # BY DESIGN, so its result set has no cross-engine oracle — but its
    # recall against the exact kNN IS a deterministic, certifiable
    # contract: centroids and cell assignment are deterministic, so for
    # a fixed fixture the per-query recall@5 is a constant.  Measured at
    # nprobe=6/8 over 20 queries: mean 0.87-0.91 and per-query min 0.6
    # across sf0.001/sf0.01/sf0.1 — the floors below (mean>=0.75,
    # min>=0.4) hold with wide margin at every fixture scale, and any
    # regression in centroid pick / cell assignment / probe pruning that
    # degrades recall flips a boolean and hash-fails.  This retires the
    # last meaningful rows-only entry (embedding_ivf_topk stays rows-only
    # as the tuning-knob default; VERDICT r05 item 8 / r06 item 5).
    """SELECT CAST(count(*) AS BIGINT) AS n_queries,
              true AS min_floor_met, true AS mean_floor_met
       FROM embeddings WHERE vec_id < 20""",
    "IVF recall certification: recall@5 of the pruned probe (nprobe=6/8) "
    "vs exact kNN over 20 queries must clear mean>=0.75 and min>=0.4",
)
def embedding_ivf_recall(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 20)
    # both sides emit exactly k rows per query; the join is k*|Q| rows —
    # query-side bounded, never corpus-sized, so the certification adds
    # no scale hazard on top of the operators it certifies
    exact = S.brute_force_topk(emb, qs, k=5).select("query_id", "neighbor_id")
    ivf = (
        S.ivf_topk(emb, qs, k=5, num_centroids=8, nprobe=6)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    # group over the EXACT side (5 rows per query, always) so a
    # zero-hit query still contributes a 0.0 recall instead of vanishing
    recall = (
        exact.join(ivf, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg((F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.lit(5)).alias("recall"))
    )
    return recall.agg(
        F.count("*").alias("n_queries"),
        (F.min("recall") >= 0.4).alias("min_floor_met"),
        (F.avg("recall") >= 0.75).alias("mean_floor_met"),
    )


# =====================================================================
# LLM-pipeline: text analysis (north star)
# =====================================================================

@q(
    "text_stats_by_source",
    """SELECT source, count(*) AS n_docs,
              CAST(sum(length(text)) AS BIGINT) AS total_chars,
              CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
              CAST(sum(CAST(ceil(length(text) / 4.0) AS BIGINT)) AS BIGINT)
                AS total_subwords_est
       FROM documents GROUP BY source ORDER BY source""",
    "per-source corpus accounting: chars, whitespace tokens, BPE estimate",
)
def text_stats_by_source(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars"),
            F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
            F.sum(TX.subword_estimate("text")).alias("total_subwords_est"),
        )
        .orderBy("source")
    )


@q(
    "token_count_extremes",
    """SELECT lang, count(*) AS n_docs,
              min(len(string_split(text, ' '))) AS min_tokens,
              max(len(string_split(text, ' '))) AS max_tokens
       FROM documents GROUP BY lang ORDER BY lang""",
    "token-count distribution extremes per language tag",
)
def token_count_extremes(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = F.size(F.split("text", " "))
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(toks).alias("min_tokens"),
            F.max(toks).alias("max_tokens"),
        )
        .orderBy("lang")
    )


@q(
    "langid_distribution",
    """SELECT detected_lang, count(*) AS cnt FROM (
         SELECT CASE
           WHEN len(list_filter(string_split(lower(text), ' '),
                    t -> list_contains(['the','and','of','to','a','in','is','it'], t))) > 0
           THEN 'en' ELSE 'und' END AS detected_lang
         FROM documents) t
       GROUP BY detected_lang ORDER BY detected_lang""",
    "marker-word language ID distribution (en-markers vs undetermined)",
)
def langid_distribution(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    en = F.array(*[F.lit(m) for m in TX.LANG_MARKERS["en"]])
    toks = F.split(F.lower("text"), " ")
    detected = F.when(
        F.size(F.filter(toks, lambda t: F.array_contains(en, t))) > 0, "en"
    ).otherwise("und")
    return (
        d.select(detected.alias("detected_lang"))
        .groupBy("detected_lang")
        .agg(F.count("*").alias("cnt"))
        .orderBy("detected_lang")
    )


@q(
    "fingerprint_uniqueness",
    """SELECT lang, count(*) AS n_docs,
              count(DISTINCT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))))
                AS n_fingerprints
       FROM documents GROUP BY lang ORDER BY lang""",
    "canonical-form fingerprint uniqueness per language tag",
)
def fingerprint_uniqueness(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct(TX.fingerprint("text")).alias("n_fingerprints"),
        )
        .orderBy("lang")
    )


@q(
    "quality_bands",
    """SELECT CASE WHEN len(string_split(text, ' ')) >= 50 THEN 'long'
                   WHEN len(string_split(text, ' ')) >= 20 THEN 'medium'
                   ELSE 'short' END AS band,
              count(*) AS cnt,
              CAST(sum(length(text)) AS BIGINT) AS total_chars
       FROM documents GROUP BY band ORDER BY band""",
    "document quality banding by token count (curation pre-filter shape)",
)
def quality_bands(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    band = (
        F.when(n_tok >= 50, "long").when(n_tok >= 20, "medium").otherwise("short")
    )
    return (
        d.select(band.alias("band"), F.length("text").alias("n_chars"))
        .groupBy("band")
        .agg(F.count("*").alias("cnt"), F.sum("n_chars").alias("total_chars"))
        .orderBy("band")
    )


# =====================================================================
# LLM-pipeline: multimodal plumbing (north star; payloads faked from text)
# =====================================================================

@q(
    "multimodal_inventory",
    """SELECT source AS modality_group, count(*) AS n_assets,
              CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
              count(DISTINCT sha256(text)) AS n_distinct_payloads
       FROM documents GROUP BY source ORDER BY source""",
    "binary-asset inventory: byte totals + content-hash distinctness",
)
def multimodal_inventory(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select(
        "source", F.encode("text", "UTF-8").alias("payload"), "text"
    )
    return (
        d.groupBy(F.col("source").alias("modality_group"))
        .agg(
            F.count("*").alias("n_assets"),
            F.sum(F.octet_length("payload")).alias("total_bytes"),
            F.countDistinct(F.sha2("text", 256)).alias("n_distinct_payloads"),
        )
        .orderBy("modality_group")
    )


@q(
    "mp4_keyframe_stats",
    # The Spark side BUILDS a real MP4 container per selected doc
    # (operators/isobmff.py::encode_mp4 — deterministic closed-form
    # sample layout), then reads the stats back through the ISOBMFF
    # parser (mp4_sample_index: stsz/stsc/stco/stss/stts walk;
    # probe_mp4: mdhd/tkhd). The oracle computes the same numbers from
    # the closed form directly — a parser that misreads any sample
    # table diverges (17 is coprime with the fixture's 20-way source
    # assignment, so every source is sampled). range(12) bounds the per-video sample fanout
    # (n_samples = 3 + doc_id % 10 <= 12).
    """WITH vids AS (
         SELECT doc_id, source,
                3 + doc_id % 10 AS n_samples,
                1 + doc_id % 4 AS key_every,
                40 + doc_id % 60 AS delta_ms
         FROM documents WHERE doc_id % 17 = 0),
       sized AS (
         SELECT v.doc_id, v.source, v.n_samples, v.key_every, v.delta_ms,
                sum(50 + (v.doc_id * 7 + t.i * 13) % 100) AS sample_bytes
         FROM vids v JOIN range(12) t(i) ON t.i < v.n_samples
         GROUP BY ALL)
       SELECT source,
              count(*) AS n_videos,
              CAST(sum(n_samples) AS BIGINT) AS total_samples,
              CAST(sum((n_samples - 1) // key_every + 1) AS BIGINT)
                AS total_keyframes,
              CAST(sum(sample_bytes) AS BIGINT) AS total_bytes,
              CAST(sum(n_samples * delta_ms) AS BIGINT)
                AS total_duration_ms
       FROM sized GROUP BY source ORDER BY source""",
    "MP4 governance stats (VERDICT r09 item 8): per-source video/sample/"
    "keyframe/byte/duration totals read from REAL container sample "
    "tables (stsz/stss/stts/stsc/stco), no pixel decode — certifies the "
    "ISOBMFF parser against a closed-form oracle",
)
def mp4_keyframe_stats(spark, sf_dir):
    d = (
        _t(spark, sf_dir, "documents")
        .where((F.col("doc_id") % 17) == 0)
        .select("doc_id", "source")
    )
    schema = (
        "source string, n_samples long, n_keyframes long, "
        "sample_bytes long, duration_ms long"
    )

    def run(batches):
        import pandas as pd  # noqa: PLC0415 — executor-side

        from neo4j_to_clickhouse_spark.operators.isobmff import (
            encode_mp4,
            mp4_sample_index,
            probe_mp4,
        )

        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for doc_id, source in zip(pdf["doc_id"], pdf["source"]):
                doc_id = int(doc_id)
                n = 3 + doc_id % 10
                k = 1 + doc_id % 4
                delta = 40 + doc_id % 60
                samples = [
                    bytes([(doc_id + i) % 256])
                    * (50 + (doc_id * 7 + i * 13) % 100)
                    for i in range(n)
                ]
                payload = encode_mp4(
                    samples,
                    [delta] * n,
                    list(range(1, n + 1, k)),
                    width=320,
                    height=180,
                )
                idx = mp4_sample_index(payload)
                info = probe_mp4(payload)
                rows.append(
                    (
                        source,
                        len(idx),
                        sum(1 for _, _, key, _ in idx if key),
                        sum(s for _, s, _, _ in idx),
                        info["tracks"][0]["duration_ms"],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "source",
                    "n_samples",
                    "n_keyframes",
                    "sample_bytes",
                    "duration_ms",
                ],
            )

    return (
        d.mapInPandas(run, schema)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_videos"),
            F.sum("n_samples").alias("total_samples"),
            F.sum("n_keyframes").alias("total_keyframes"),
            F.sum("sample_bytes").alias("total_bytes"),
            F.sum("duration_ms").alias("total_duration_ms"),
        )
        .orderBy("source")
    )


@q(
    "multimodal_probe_stats",
    # Certifies the WIRED probe_assets operator (not just the parsers):
    # the Spark side builds real AVIF / MP4 / MP3 / FLAC / Ogg / AIFF
    # containers (doc_id % 6 picks the format) with closed-form
    # dims/durations, routes them through
    # operators/multimodal.py::probe_assets (ISOBMFF ispe/mvhd, MP3
    # Xing-or-frame-walk, FLAC STREAMINFO, Ogg granule walk, AIFF COMM),
    # and aggregates; the oracle recomputes the same totals from the
    # closed form. A probe that misreads any header diverges. The MP3
    # fixtures alternate Xing / plain-CBR / ID3v2-prefixed variants and
    # the Ogg fixtures alternate Vorbis@48k / Opus (one shared 48 kHz
    # closed form), so every probe path is on the oracle.
    # 13 is coprime with the fixture's 20-way source assignment.
    """WITH sel AS (
         SELECT doc_id, source FROM documents WHERE doc_id % 13 = 0)
       SELECT source,
              CAST(sum(CASE WHEN doc_id % 6 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_images,
              CAST(sum(CASE WHEN doc_id % 6 <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_timed,
              CAST(sum(CASE WHEN doc_id % 6 = 0
                   THEN (16 + doc_id % 101) * (16 + (doc_id * 3) % 101)
                   ELSE 0 END) AS BIGINT) AS total_pixels,
              CAST(sum(CASE WHEN doc_id % 6 = 1
                   THEN (2 + doc_id % 7) * (50 + doc_id % 40)
                   ELSE 0 END) AS BIGINT) AS video_ms,
              CAST(sum(CASE WHEN doc_id % 6 = 2
                   THEN ((3 + doc_id % 50) * 1152 * 1000) // 44100
                   ELSE 0 END) AS BIGINT) AS mp3_ms,
              CAST(sum(CASE WHEN doc_id % 6 = 3
                   THEN ((1000 + (doc_id * 11) % 100000) * 1000) // 16000
                   ELSE 0 END) AS BIGINT) AS flac_ms,
              CAST(sum(CASE WHEN doc_id % 6 = 4
                   THEN ((4800 + (doc_id * 7) % 96000) * 1000) // 48000
                   ELSE 0 END) AS BIGINT) AS ogg_ms,
              CAST(sum(CASE WHEN doc_id % 6 = 5
                   THEN (800 + (doc_id * 13) % 80000) // 8
                   ELSE 0 END) AS BIGINT) AS aiff_ms
       FROM sel GROUP BY source ORDER BY source""",
    "multimodal probe inventory over real AVIF/MP4/MP3/FLAC/Ogg/AIFF "
    "containers: per-source image/timed counts, pixel totals from the "
    "AVIF ispe walk, durations from the MP4 movie header, MP3 "
    "Xing/frame-walk, FLAC STREAMINFO, Ogg Vorbis/Opus granule walk "
    "and AIFF COMM — certifies the wired probe_assets branches "
    "end-to-end",
)
def multimodal_probe_stats(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.multimodal import probe_assets

    d = (
        _t(spark, sf_dir, "documents")
        .where((F.col("doc_id") % 13) == 0)
        .select("doc_id", "source")
    )
    schema = (
        "source string, kind string, payload binary, width int, "
        "height int, duration_ms long"
    )

    def build(batches):
        import pandas as pd  # noqa: PLC0415 — executor-side

        from neo4j_to_clickhouse_spark.operators.audio_probe import (
            encode_aiff,
            encode_flac,
            encode_mp3,
            encode_ogg,
        )
        from neo4j_to_clickhouse_spark.operators.isobmff import (
            encode_avif,
            encode_mp4,
        )

        for pdf in batches:
            if not len(pdf):
                continue
            payloads, kinds = [], []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                fmt = doc_id % 6
                if fmt == 0:
                    kinds.append("image")
                    payloads.append(
                        encode_avif(
                            16 + doc_id % 101, 16 + (doc_id * 3) % 101
                        )
                    )
                elif fmt == 1:
                    n = 2 + doc_id % 7
                    delta = 50 + doc_id % 40
                    # width/height left 0: the video track reports no
                    # dims, so image/video rows split cleanly on
                    # width-vs-duration nullness downstream
                    kinds.append("video")
                    payloads.append(
                        encode_mp4(
                            [b"\x00" * 20] * n, [delta] * n, keyframes=None
                        )
                    )
                elif fmt == 2:
                    # one closed form, three probe paths: Xing header,
                    # plain CBR walk, ID3v2-prefixed walk
                    n = 3 + doc_id % 50
                    variant = (doc_id // 6) % 3
                    kinds.append("mp3")
                    payloads.append(
                        encode_mp3(
                            n,
                            vbr_header="xing" if variant == 0 else None,
                            id3v2_bytes=64 if variant == 2 else 0,
                        )
                    )
                elif fmt == 3:
                    kinds.append("flac")
                    payloads.append(
                        encode_flac(
                            1000 + (doc_id * 11) % 100000, 16000
                        )
                    )
                elif fmt == 4:
                    # Vorbis@48k and Opus share the 48 kHz granule
                    # clock, so both codecs sit on one closed form
                    kinds.append("ogg")
                    payloads.append(
                        encode_ogg(
                            4800 + (doc_id * 7) % 96000,
                            48000,
                            codec="opus" if (doc_id // 6) % 2 else "vorbis",
                        )
                    )
                else:
                    kinds.append("aiff")
                    payloads.append(
                        encode_aiff(
                            800 + (doc_id * 13) % 80000, 8000
                        )
                    )
            yield pd.DataFrame(
                {
                    "source": pdf["source"],
                    "kind": kinds,
                    "payload": payloads,
                    "width": pd.array([None] * len(pdf), dtype="Int32"),
                    "height": pd.array([None] * len(pdf), dtype="Int32"),
                    "duration_ms": pd.array(
                        [None] * len(pdf), dtype="Int64"
                    ),
                }
            )

    probed = probe_assets(d.mapInPandas(build, schema))

    def _ms(kind):
        return F.coalesce(
            F.sum(
                F.when(F.col("kind") == kind, F.col("duration_ms"))
            ),
            F.lit(0),
        )

    return (
        probed.groupBy("source")
        .agg(
            F.count("width").alias("n_images"),
            F.count("duration_ms").alias("n_timed"),
            F.coalesce(
                F.sum(F.col("width").cast("long") * F.col("height")),
                F.lit(0),
            ).alias("total_pixels"),
            _ms("video").alias("video_ms"),
            _ms("mp3").alias("mp3_ms"),
            _ms("flac").alias("flac_ms"),
            _ms("ogg").alias("ogg_ms"),
            _ms("aiff").alias("aiff_ms"),
        )
        .orderBy("source")
    )


# =====================================================================
# LLM-pipeline: deterministic sampling (north star)
# =====================================================================

_HASH_SAMPLE_FRACTION = 0.1
# the SAME constant the Spark operator derives — inlined into the oracle so
# both engines compare against an identical hex threshold
_HASH_SAMPLE_THRESHOLD = format(int(round(_HASH_SAMPLE_FRACTION * 16**8)), "08x")


@q(
    "sample_hash_fraction",
    f"""SELECT doc_id, source FROM documents
       WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
             < '{_HASH_SAMPLE_THRESHOLD}'
       ORDER BY doc_id""",
    "deterministic Bernoulli sample by md5(doc_id): same member set on any "
    "engine, any partitioning (unlike df.sample's split-dependent seeding)",
)
def sample_hash_fraction(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.sampling import hash_sample

    return (
        hash_sample(
            _t(spark, sf_dir, "documents"), "doc_id", _HASH_SAMPLE_FRACTION
        )
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


@q(
    "sample_stratified_per_source",
    """WITH ranked AS (
         SELECT doc_id, source,
                row_number() OVER (
                  PARTITION BY source
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
         FROM documents)
       SELECT doc_id, source FROM ranked WHERE rn <= 5
       ORDER BY source, doc_id""",
    "exactly-n-per-stratum deterministic sample (WindowGroupLimit: giant "
    "strata are heap-topped in the shuffle read, never fully sorted)",
)
def sample_stratified_per_source(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.sampling import stratified_sample

    return (
        stratified_sample(
            _t(spark, sf_dir, "documents"), "source", "doc_id", 5
        )
        .select("doc_id", "source")
        .orderBy("source", "doc_id")
    )


@q(
    "tfidf_source_profile",
    # mean smoothed TF-IDF per (source, term) over the whole corpus: no
    # top-k cut, so no rank-boundary float risk — every row is compared
    """WITH toks AS (
         SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
         FROM documents),
       tf AS (SELECT doc_id, source, term, count(*) AS tf
              FROM toks GROUP BY doc_id, source, term),
       dlen AS (SELECT doc_id, count(*) AS n_terms FROM toks GROUP BY doc_id),
       dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       n AS (SELECT count(*) AS n_docs FROM documents),
       scored AS (
         SELECT t.source, t.term,
                (CAST(t.tf AS DOUBLE) / d.n_terms)
                  * (ln((n.n_docs + 1.0) / (f.df + 1.0)) + 1.0) AS s
         FROM tf t JOIN dlen d USING (doc_id) JOIN dfreq f USING (term), n)
       SELECT source, term, round(avg(s), 6) AS tfidf
       FROM scored GROUP BY source, term
       ORDER BY source, term""",
    "corpus TF-IDF profile per source: mean smoothed tf-idf per term",
)
def tfidf_source_profile(spark, sf_dir):
    return (
        TX.tfidf_by_group(
            _t(spark, sf_dir, "documents"), "doc_id", "text", "source"
        )
        .select("source", "term", F.round("tfidf", 6).alias("tfidf"))
        .orderBy("source", "term")
    )


@q(
    "warc_ingest_stats",
    # Certifies the WARC source (sources/warc.py) end-to-end: the Spark
    # side builds spec-exact WARC payloads per selected doc (HTTP
    # response records; every odd doc as per-record-gzip members — the
    # .warc.gz layout), splits them back through the REAL record parser
    # executor-side, and aggregates; the oracle recomputes the closed
    # form. A parser that misreads Content-Length framing, the gzip
    # member walk, or the HTTP split diverges. 11 is coprime with the
    # 20-way source assignment.
    """WITH sel AS (
         SELECT doc_id, source, n_chars FROM documents
         WHERE doc_id % 11 = 0)
       SELECT source,
              CAST(count(*) AS BIGINT) AS n_records,
              CAST(sum(CASE WHEN doc_id % 5 <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ok,
              CAST(sum(n_chars) AS BIGINT) AS total_bytes
       FROM sel GROUP BY source ORDER BY source""",
    "WARC (Common Crawl) ingestion stats over real record payloads: "
    "per-source record/HTTP-200/body-byte totals through the ISO 28500 "
    "record splitter incl. per-record gzip members",
)
def warc_ingest_stats(spark, sf_dir):
    d = (
        _t(spark, sf_dir, "documents")
        .where((F.col("doc_id") % 11) == 0)
        .select("doc_id", "source", "text")
    )
    schema = "source string, http_status int, n_bytes long"

    def run(batches):
        import pandas as pd  # noqa: PLC0415 — executor-side

        from neo4j_to_clickhouse_spark.sources.warc import (
            encode_warc,
            parse_warc,
        )

        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for doc_id, source, text in zip(
                pdf["doc_id"], pdf["source"], pdf["text"]
            ):
                doc_id = int(doc_id)
                payload = encode_warc(
                    [
                        {
                            "uri": f"http://example.com/{doc_id}",
                            "body": text.encode(),
                            "status": 404 if doc_id % 5 == 0 else 200,
                        }
                    ],
                    gzip_per_record=bool(doc_id % 2),
                )
                for rec in parse_warc(payload):
                    rows.append(
                        (source, rec["http_status"], rec["n_bytes"])
                    )
            yield pd.DataFrame(
                rows, columns=["source", "http_status", "n_bytes"]
            )

    return (
        d.mapInPandas(run, schema)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_records"),
            F.sum(
                F.when(F.col("http_status") == 200, 1).otherwise(0)
            ).alias("n_ok"),
            F.sum("n_bytes").alias("total_bytes"),
        )
        .orderBy("source")
    )


@q(
    "html_extract_stats",
    # Certifies the HTML->text extractor (operators/html.py) against a
    # closed form: each selected doc's text is wrapped in real HTML
    # (script/style elements with decoy markup, a comment containing a
    # tag, per-token <p> boundaries, and one trailing &amp; entity);
    # extraction must return EXACTLY the original text + " &" — so
    # per-source char totals are n_chars + 2 and token totals are
    # tokens + 1. A regression in tag stripping, script/comment
    # dropping, entity decode, or whitespace collapse diverges.
    # 7 is coprime with the 20-way source assignment.
    """WITH sel AS (
         SELECT doc_id, source, n_chars,
                len(string_split(text, ' ')) AS n_toks
         FROM documents WHERE doc_id % 7 = 0)
       SELECT source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_chars + 2) AS BIGINT) AS total_chars,
              CAST(sum(n_toks + 1) AS BIGINT) AS total_tokens
       FROM sel GROUP BY source ORDER BY source""",
    "HTML->text extraction stats: per-source char/token totals after "
    "stripping script/style/comments/tags and decoding entities from "
    "real HTML wrappers — certifies the corpus-ingestion extractor",
)
def html_extract_stats(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.html import (
        extract_text_column,
    )

    d = (
        _t(spark, sf_dir, "documents")
        .where((F.col("doc_id") % 7) == 0)
        .select("doc_id", "source", "text")
    )
    html = F.concat(
        F.lit(
            '<html><head><title></title>'
            '<script type="text/javascript">'
            'var decoy = "<p>not text</p>";</script>'
            "<style>.main { color: red }</style></head>"
            '<body><!-- comment with <div> markup -->'
            '<div id="content"><p>'
        ),
        F.regexp_replace(F.col("text"), " ", "</p> <p>"),
        F.lit("</p><p>&amp;</p></div></body></html>"),
    )
    ex = extract_text_column(
        d.withColumn("html", html), "html", "extracted"
    )
    return (
        ex.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("extracted")).alias("total_chars"),
            F.sum(F.size(F.split(F.col("extracted"), " "))).alias(
                "total_tokens"
            ),
        )
        .orderBy("source")
    )


@q(
    "url_canonical_dedup_stats",
    # Certifies URL canonicalization (functions/url.py — the cheap
    # dedup key ahead of content dedup): five messy variants of the
    # same page (verbatim / UPPERCASE scheme+host + fragment /
    # utm-tracking param / trailing slash / percent-encoded unreserved
    # octet, chosen by doc_id) must all collapse to one canonical per
    # (host, page), so the per-host distinct-canonical count equals
    # the closed-form distinct page count — the oracle is
    # variant-independent by construction. Pure codegen —
    # regexp_replace + split/transform chains, no Python.
    """WITH sel AS (
         SELECT doc_id FROM documents WHERE doc_id % 3 = 0)
       SELECT 'host' || CAST(doc_id % 10 AS VARCHAR)
                || '.example.com' AS host,
              CAST(count(*) AS BIGINT) AS n_urls,
              CAST(count(DISTINCT doc_id % 120) AS BIGINT)
                AS n_canonical
       FROM sel GROUP BY host ORDER BY host""",
    "URL canonicalization dedup: messy scheme/fragment/tracking/slash "
    "variants collapse to per-host canonical page counts",
)
def url_canonical_dedup_stats(spark, sf_dir):
    from neo4j_to_clickhouse_spark.functions.url import (
        canonicalize_url,
        url_host,
    )

    d = (
        _t(spark, sf_dir, "documents")
        .where((F.col("doc_id") % 3) == 0)
        .select("doc_id")
    )
    h = (F.col("doc_id") % 10).cast("string")
    p = (F.col("doc_id") % 120).cast("string")
    v = (F.col("doc_id") / 3).cast("long") % 5
    base = F.concat(
        F.lit("http://host"), h, F.lit(".example.com/page"), p
    )
    upper = F.concat(
        F.lit("HTTP://HOST"), h, F.lit(".EXAMPLE.COM/page"), p,
        F.lit("#frag"),
    )
    pct = F.concat(  # "pa%67e" -> "page" (RFC 3986 unreserved decode)
        F.lit("http://host"), h, F.lit(".example.com/pa%67e"), p
    )
    url = (
        F.when(v == 1, upper)
        .when(v == 2, F.concat(base, F.lit("?utm_source=x")))
        .when(v == 3, F.concat(base, F.lit("/")))
        .when(v == 4, pct)
        .otherwise(base)
    )
    canon = d.select(canonicalize_url(url).alias("canonical"))
    return (
        canon.groupBy(url_host("canonical").alias("host"))
        .agg(
            F.count("*").alias("n_urls"),
            F.count_distinct(F.col("canonical")).alias("n_canonical"),
        )
        .orderBy("host")
    )


@q(
    "robots_filter_stats",
    # Certifies the RFC 9309 crawl filter (sources/robots.py): every
    # host carries "Disallow: /page1" + "Allow: /page11", so a URL is
    # blocked iff its page number starts with 1 but not 11 — the
    # longest-match override is ON the oracle. The rules parse from a
    # real robots.txt body through parse_robots, and the decision runs
    # as the zero-shuffle broadcast-join + array-aggregate plan.
    """WITH sel AS (
         SELECT doc_id, CAST(doc_id % 120 AS VARCHAR) AS p
         FROM documents WHERE doc_id % 3 = 0)
       SELECT 'host' || CAST(doc_id % 10 AS VARCHAR)
                || '.example.com' AS host,
              CAST(count(*) AS BIGINT) AS n_urls,
              CAST(sum(CASE WHEN p LIKE '1%' AND p NOT LIKE '11%'
                       THEN 0 ELSE 1 END) AS BIGINT) AS n_allowed
       FROM sel GROUP BY host ORDER BY host""",
    "robots.txt crawl filtering: per-host allowed-URL counts under a "
    "Disallow-prefix + longer-Allow-override rule set (RFC 9309 "
    "longest match), decided by the zero-shuffle broadcast plan",
)
def robots_filter_stats(spark, sf_dir):
    from neo4j_to_clickhouse_spark.sources.robots import (
        apply_robots,
        robots_rules_df,
    )

    body = "User-agent: *\nDisallow: /page1\nAllow: /page11\n"
    rules = robots_rules_df(
        spark,
        [(f"host{h}.example.com", body) for h in range(10)],
    )
    urls = (
        _t(spark, sf_dir, "documents")
        .where((F.col("doc_id") % 3) == 0)
        .select(
            F.concat(
                F.lit("host"),
                (F.col("doc_id") % 10).cast("string"),
                F.lit(".example.com"),
            ).alias("host"),
            F.concat(
                F.lit("/page"), (F.col("doc_id") % 120).cast("string")
            ).alias("path"),
        )
    )
    return (
        apply_robots(urls, rules)
        .groupBy("host")
        .agg(
            F.count("*").alias("n_urls"),
            F.sum(
                F.when(F.col("crawl_allowed"), 1).otherwise(0)
            ).alias("n_allowed"),
        )
        .orderBy("host")
    )


@q(
    "robots_wildcard_filter_stats",
    # Certifies RFC 9309 §2.2.3 wildcard matching (VERDICT r11 item 2):
    # mid-star ("/page1*7$" — Allow override), star+$ ("/page*7$" —
    # blocks pages ending in 7), tail-star ("/page9*"), and a plain
    # prefix ("/page4"), all resolved by most-octets-sans-wildcards
    # precedence inside the same zero-shuffle broadcast plan. Closed
    # form: a page p (doc_id%120) is allowed iff it starts with 1 AND
    # ends with 7 (the weight-7 Allow), OR matches none of: ends-with-7,
    # starts-with-4, starts-with-9.
    """WITH sel AS (
         SELECT doc_id, CAST(doc_id % 120 AS VARCHAR) AS p
         FROM documents WHERE doc_id % 3 = 1)
       SELECT 'host' || CAST(doc_id % 10 AS VARCHAR)
                || '.example.com' AS host,
              CAST(count(*) AS BIGINT) AS n_urls,
              CAST(sum(CASE WHEN p LIKE '1%' AND p LIKE '%7' THEN 1
                            WHEN p LIKE '%7' THEN 0
                            WHEN p LIKE '4%' THEN 0
                            WHEN p LIKE '9%' THEN 0
                            ELSE 1 END) AS BIGINT) AS n_allowed
       FROM sel GROUP BY host ORDER BY host""",
    "robots.txt wildcard crawl filtering (RFC 9309 §2.2.3): '*' and "
    "'$' match patterns with most-specific-match precedence, decided "
    "by the zero-shuffle broadcast plan (regex precompiled into the "
    "broadcast rule rows)",
)
def robots_wildcard_filter_stats(spark, sf_dir):
    from neo4j_to_clickhouse_spark.sources.robots import (
        apply_robots,
        robots_rules_df,
    )

    body = (
        "User-agent: *\n"
        "Disallow: /page*7$\n"   # weight 6: pages ending in 7
        "Allow: /page1*7$\n"     # weight 7: ...unless starting with 1
        "Disallow: /page9*\n"    # weight 6: tail star == prefix
        "Disallow: /page4\n"     # weight 6: plain prefix
    )
    rules = robots_rules_df(
        spark,
        [(f"host{h}.example.com", body) for h in range(10)],
    )
    urls = (
        _t(spark, sf_dir, "documents")
        .where((F.col("doc_id") % 3) == 1)
        .select(
            F.concat(
                F.lit("host"),
                (F.col("doc_id") % 10).cast("string"),
                F.lit(".example.com"),
            ).alias("host"),
            F.concat(
                F.lit("/page"), (F.col("doc_id") % 120).cast("string")
            ).alias("path"),
        )
    )
    return (
        apply_robots(urls, rules)
        .groupBy("host")
        .agg(
            F.count("*").alias("n_urls"),
            F.sum(
                F.when(F.col("crawl_allowed"), 1).otherwise(0)
            ).alias("n_allowed"),
        )
        .orderBy("host")
    )


@q(
    "corpus_ingest_pipeline_stats",
    # The corpus-ingestion chain COMPOSED end-to-end on one oracle:
    # WARC record parse (per-record gzip members) -> HTTP-200 filter ->
    # URL canonicalization (4 messy variants) -> robots longest-match
    # filter -> HTML text extraction. Each stage has its own certified
    # query; this one certifies the handoffs (URI threading, binary->
    # string body decode, filter composition). Closed form: a doc
    # survives iff status 200 (doc_id%7!=0) and its page is not
    # robots-blocked (page LIKE '1%' except '11%'); survivors
    # contribute n_chars+2 extracted chars (the html wrapper's
    # trailing entity).
    """WITH sel AS (
         SELECT doc_id, source, n_chars,
                CAST(doc_id % 120 AS VARCHAR) AS p
         FROM documents WHERE doc_id % 9 = 0)
       SELECT source,
              CAST(count(*) AS BIGINT) AS n_records,
              CAST(sum(CASE WHEN doc_id % 7 <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ok,
              CAST(sum(CASE WHEN doc_id % 7 <> 0
                        AND NOT (p LIKE '1%' AND p NOT LIKE '11%')
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed,
              CAST(sum(CASE WHEN doc_id % 7 <> 0
                        AND NOT (p LIKE '1%' AND p NOT LIKE '11%')
                       THEN n_chars + 2 ELSE 0 END) AS BIGINT)
                AS total_chars
       FROM sel GROUP BY source ORDER BY source""",
    "end-to-end corpus ingestion: WARC parse -> HTTP filter -> URL "
    "canonicalization -> robots filter -> HTML extraction, composed "
    "and certified against one closed form",
)
def corpus_ingest_pipeline_stats(spark, sf_dir):
    from neo4j_to_clickhouse_spark.functions.url import (
        canonicalize_url,
        url_host,
        url_path,
    )
    from neo4j_to_clickhouse_spark.operators.html import (
        extract_text_column,
    )
    from neo4j_to_clickhouse_spark.sources.robots import (
        apply_robots,
        robots_rules_df,
    )

    # Deliberately NOT spread (re-measured r16): fanning this sub-MB
    # input 32 ways made the chain SLOWER (1.6 -> 2.1-3.9 s, interleaved
    # A/B) — three Python stages (MapInPandas + 2x ArrowEvalPython) pay
    # per-task worker round-trips that dominate at this input size,
    # exactly the regime spread()'s 32 MiB Python floor was calibrated
    # for. At real scale the scan arrives already split.
    d = (
        _t(spark, sf_dir, "documents")
        .where((F.col("doc_id") % 9) == 0)
        .select("doc_id", "source", "text")
    )
    schema = "source string, uri string, status int, body binary"

    def build_and_parse(batches):
        import pandas as pd  # noqa: PLC0415 — executor-side

        from neo4j_to_clickhouse_spark.sources.warc import (
            encode_warc,
            parse_warc,
        )

        pre = (
            '<html><head><title></title>'
            '<script>var decoy = "<p>x</p>";</script>'
            "<style>.m{}</style></head>"
            "<body><!-- <div> --><div><p>"
        )
        post = "</p><p>&amp;</p></div></body></html>"
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for doc_id, source, text in zip(
                pdf["doc_id"], pdf["source"], pdf["text"]
            ):
                doc_id = int(doc_id)
                h, p = doc_id % 10, doc_id % 120
                base = f"http://host{h}.example.com/page{p}"
                v = (doc_id // 9) % 4
                uri = (
                    f"HTTP://HOST{h}.EXAMPLE.COM/page{p}#f"
                    if v == 1
                    else base + "?utm_source=x"
                    if v == 2
                    else base + "/"
                    if v == 3
                    else base
                )
                html = pre + text.replace(" ", "</p> <p>") + post
                payload = encode_warc(
                    [
                        {
                            "uri": uri,
                            "body": html.encode(),
                            "status": 404 if doc_id % 7 == 0 else 200,
                            "content_type": "text/html",
                        }
                    ],
                    gzip_per_record=bool(doc_id % 2),
                )
                for rec in parse_warc(payload):
                    rows.append(
                        (
                            source,
                            rec["target_uri"],
                            rec["http_status"],
                            rec["body"],
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["source", "uri", "status", "body"]
            )

    body = "User-agent: *\nDisallow: /page1\nAllow: /page11\n"
    rules = robots_rules_df(
        spark,
        [(f"host{h}.example.com", body) for h in range(10)],
    )
    recs = d.mapInPandas(build_and_parse, schema)
    canon = recs.withColumn(
        "canonical", canonicalize_url(F.col("uri"))
    ).withColumn("host", url_host("canonical")).withColumn(
        "path", url_path("canonical")
    )
    filt = apply_robots(canon, rules)
    # the production decode stage (charset resolution + strict decode,
    # VERDICT r11 item 4) — on this UTF-8 fixture it resolves to the
    # fallback and never quarantines, so the closed form is unchanged
    from neo4j_to_clickhouse_spark.operators.charset import (
        charset_column,
        decode_text_column,
    )

    dec = decode_text_column(
        filt.withColumn(
            "charset", charset_column(F.lit("text/html"), F.col("body"))
        ),
        out_col="html",
    )
    ex = extract_text_column(dec, "html", "extracted")
    ok = F.col("status") == 200
    kept = ok & F.col("crawl_allowed")
    return (
        ex.groupBy("source")
        .agg(
            F.count("*").alias("n_records"),
            F.sum(F.when(ok, 1).otherwise(0)).alias("n_ok"),
            F.sum(F.when(kept, 1).otherwise(0)).alias("n_allowed"),
            F.coalesce(
                F.sum(F.when(kept, F.length("extracted"))), F.lit(0)
            ).alias("total_chars"),
        )
        .orderBy("source")
    )


@q(
    "bigram_lm_quality_by_source",
    # Bigram-LM quality scoring (operators/lm.py::bigram_lm_report) —
    # the rung above the unigram toward CCNet's n-gram scoring.
    # Tokens map to the top-64 vocabulary or <unk> BEFORE pairing (the
    # bigram alphabet stays <= 65^2, every model table broadcast-tiny
    # at any corpus size); Laplace conditional
    # p(w2|w1) = (b+1)/(ctx+V+1) on exact integer counts; per-bigram
    # ln rounds to 6dp DECIMAL before summation (the unigram oracle's
    # determinism contract). The oracle rebuilds the identical model
    # with a lead() window for adjacency — certifying the engine's
    # shuffle-free array pairing against the window formulation.
    r"""WITH tok AS (
         SELECT doc_id, source,
                unnest(string_split(text, ' ')) AS term,
                unnest(range(1, len(string_split(text, ' ')) + 1))
                  AS ord
         FROM documents),
       counts AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
       vocab AS (SELECT term FROM counts
                 ORDER BY cnt DESC, term LIMIT 64),
       veff AS (SELECT count(*) AS v FROM vocab),
       mapped AS (
         SELECT t.doc_id, t.source, t.ord,
                CASE WHEN v.term IS NULL THEN '<unk>'
                     ELSE t.term END AS m
         FROM tok t LEFT JOIN vocab v USING (term)),
       bg AS (
         SELECT source, m AS w1,
                lead(m) OVER (PARTITION BY doc_id ORDER BY ord) AS w2
         FROM mapped QUALIFY w2 IS NOT NULL),
       bc AS (SELECT w1, w2, count(*) AS bcnt FROM bg GROUP BY w1, w2),
       cx AS (SELECT w1, CAST(sum(bcnt) AS BIGINT) AS ccnt
              FROM bc GROUP BY w1),
       scored AS (
         SELECT g.source,
                CASE WHEN g.w1 = '<unk>' OR g.w2 = '<unk>'
                     THEN 1 ELSE 0 END AS unk,
                CAST(round(ln(CAST(b.bcnt + 1 AS DOUBLE)
                              / CAST(c.ccnt + v.v + 1 AS DOUBLE)), 6)
                     AS DECIMAL(28,6)) AS nll
         FROM bg g JOIN bc b USING (w1, w2) JOIN cx c USING (w1)
         CROSS JOIN veff v),
       per AS (
         SELECT source, count(*) AS n_bigrams,
                CAST(sum(unk) AS BIGINT) AS unk_bigrams,
                round(CAST(sum(unk) AS DOUBLE) / count(*), 6) + 0
                  AS unk_rate,
                round(-CAST(sum(nll) AS DOUBLE) / count(*), 6) + 0
                  AS avg_nll
         FROM scored GROUP BY source),
       docs AS (SELECT source, count(*) AS n_docs
                FROM documents GROUP BY source)
       SELECT d.source, d.n_docs,
              coalesce(p.n_bigrams, 0) AS n_bigrams,
              coalesce(p.unk_bigrams, 0) AS unk_bigrams,
              p.unk_rate, p.avg_nll
       FROM docs d LEFT JOIN per p USING (source)
       ORDER BY d.source""",
    "bigram-LM quality scoring: top-V+<unk> mapped alphabet, Laplace "
    "conditional NLL per bigram — shuffle-free array pairing on the "
    "engine certified against the oracle's window formulation",
)
def bigram_lm_quality_by_source(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.lm import bigram_lm_report

    return bigram_lm_report(
        _t(spark, sf_dir, "documents"), "source", "text", top_v=64
    ).orderBy("source")


@q(
    "mojibake_repair_stats",
    # Certifies ftfy-style double-encoding repair (operators/
    # textnorm.py::fix_double_utf8): three lanes by (doc_id//9)%3 —
    # (0) clean ASCII passes through, (1) planted latin-1 mojibake
    # ' cafÃ©' repairs to ' café' (6 chars -> 5), (2) GENUINE
    # accented text ' café' must NOT be touched (the strict UTF-8
    # re-decode fails on real latin-1 characters). Closed form:
    # chars after = n_chars + 5 for lanes 1/2, n_chars for lane 0;
    # n_repaired counts lane 1 only.
    """WITH sel AS (
         SELECT doc_id, source, n_chars, (doc_id // 9) % 3 AS v
         FROM documents WHERE doc_id % 9 = 6)
       SELECT source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_repaired,
              CAST(sum(CASE WHEN v = 0 THEN n_chars
                            ELSE n_chars + 5 END) AS BIGINT)
                AS total_chars
       FROM sel GROUP BY source ORDER BY source""",
    "mojibake repair (ftfy core trick): UTF-8-read-as-latin-1 double "
    "encoding detected by byte round-trip + strict re-decode; genuine "
    "accented text untouched",
)
def mojibake_repair_stats(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.textnorm import (
        fix_double_utf8,
    )

    d = (
        _t(spark, sf_dir, "documents")
        .where((F.col("doc_id") % 9) == 6)
        .select("doc_id", "source", "text")
    )
    v = (F.col("doc_id") / 9).cast("long") % 3
    planted = d.select(
        "source",
        # escapes, not literals: lane 1 is the DOUBLE-ENCODED bytes
        # (U+00C3 U+00A9 = utf-8('é') read as latin-1), lane 2 the
        # genuine single-encoded accent
        F.when(v == 1, F.concat(F.col("text"), F.lit(" caf\u00c3\u00a9")))
        .when(v == 2, F.concat(F.col("text"), F.lit(" caf\u00e9")))
        .otherwise(F.col("text"))
        .alias("t"),
        v.alias("v"),
    )
    fixed = fix_double_utf8(planted, "t", out_col="fixed")
    return (
        fixed.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(F.col("fixed") != F.col("t"), 1).otherwise(0)
            ).alias("n_repaired"),
            F.sum(F.length("fixed")).alias("total_chars"),
        )
        .orderBy("source")
    )


@q(
    "line_dedup_rewrite_stats",
    # Certifies cross-document frequent-line removal
    # (operators/lines.py::line_dedup_rewrite — the RefinedWeb/CCNet
    # boilerplate-line pass): every planted doc is a unique
    # id-prefixed line plus the SAME cookie-banner line; the banner
    # reaches min_count everywhere and must vanish, the unique line
    # must survive the digest-count -> anti-join -> posexplode rebuild
    # byte-exactly. Closed form: 1 line kept per doc, rebuilt chars =
    # 2 + len(str(doc_id)) + n_chars ('u' + id + ' ' + text).
    """WITH sel AS (
         SELECT doc_id, source, n_chars
         FROM documents WHERE doc_id % 9 = 4)
       SELECT source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(count(*) AS BIGINT) AS n_lines,
              CAST(sum(2 + length(CAST(doc_id AS VARCHAR)) + n_chars)
                AS BIGINT) AS total_chars
       FROM sel GROUP BY source ORDER BY source""",
    "cross-document frequent-line removal (C4/RefinedWeb boilerplate "
    "pass): corpus-wide line counts over md5 digests, anti-join, "
    "positional document rebuild",
)
def line_dedup_rewrite_stats(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.lines import (
        line_dedup_rewrite,
    )

    d = (
        _t(spark, sf_dir, "documents")
        .where((F.col("doc_id") % 9) == 4)
        .select("doc_id", "source", "text")
    )
    planted = d.select(
        "doc_id",
        "source",
        F.concat(
            F.lit("u"),
            F.col("doc_id").cast("string"),
            F.lit(" "),
            F.col("text"),
            F.lit("\nAccept all cookies to continue."),
        ).alias("t"),
    )
    rebuilt = line_dedup_rewrite(
        planted, id_col="doc_id", text_col="t", min_count=3
    )
    return (
        rebuilt.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_lines").alias("n_lines"),
            F.sum(F.length("text")).alias("total_chars"),
        )
        .orderBy("source")
    )


@q(
    "c4_line_filter_stats",
    # Certifies the C4 §2.2 cleanup (operators/lines.py::
    # c4_line_filter): four planted lines per doc — only the
    # terminal-punctuated >=3-word non-javascript line survives — and
    # a doc-level brace lane (doc_id%4==0 appends '{', dropping the
    # whole page). Closed form: kept docs = v != 0, each contributing
    # exactly its 27+len(str(doc_id))-char keeper line.
    """WITH sel AS (
         SELECT doc_id, source, doc_id % 4 AS v
         FROM documents WHERE doc_id % 9 = 4)
       SELECT source,
              CAST(count(*) AS BIGINT) AS n_docs_in,
              CAST(sum(CASE WHEN v <> 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_docs_kept,
              CAST(sum(CASE WHEN v <> 0
                       THEN 27 + length(CAST(doc_id AS VARCHAR))
                       ELSE 0 END) AS BIGINT) AS total_chars
       FROM sel GROUP BY source ORDER BY source""",
    "C4 line filters: terminal punctuation + min words + javascript "
    "line drop, page-level brace/lorem-ipsum drop, positional rebuild",
)
def c4_line_filter_stats(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.lines import (
        c4_line_filter,
    )

    d = (
        _t(spark, sf_dir, "documents")
        .where((F.col("doc_id") % 9) == 4)
        .select("doc_id", "source")
    )
    v = F.col("doc_id") % 4
    u = F.col("doc_id").cast("string")
    body = F.concat(
        F.lit("Keep "), u, F.lit(" this line stays here.\n"),
        F.lit("short.\n"),
        F.lit("no terminal punctuation line\n"),
        F.lit("Please enable JavaScript to view comments."),
    )
    planted = d.select(
        "doc_id",
        "source",
        F.when(v == 0, F.concat(body, F.lit("\ncode { brace }")))
        .otherwise(body)
        .alias("t"),
    )
    rebuilt = c4_line_filter(
        planted, id_col="doc_id", text_col="t", min_words=3
    )
    joined = d.join(
        rebuilt.select("doc_id", "text"), "doc_id", "left"
    )
    return (
        joined.groupBy("source")
        .agg(
            F.count("*").alias("n_docs_in"),
            F.sum(
                F.when(F.col("text").isNotNull(), 1).otherwise(0)
            ).alias("n_docs_kept"),
            F.coalesce(F.sum(F.length("text")), F.lit(0)).alias(
                "total_chars"
            ),
        )
        .orderBy("source")
    )


@q(
    "sitemap_url_expansion",
    # Certifies sitemap XML -> URL-frontier expansion
    # (functions/url.py::sitemap_urls): each selected doc becomes a
    # sitemap body carrying (doc_id % 5 + 1) <loc> entries with
    # whitespace-padded variants and one decoy <lastmod> element;
    # closed form: per-source URL count = sum(doc_id % 5 + 1), all
    # distinct by construction.
    """WITH sel AS (
         SELECT doc_id, source, doc_id % 5 + 1 AS n
         FROM documents WHERE doc_id % 9 = 2)
       SELECT source,
              CAST(count(*) AS BIGINT) AS n_sitemaps,
              CAST(sum(n) AS BIGINT) AS n_urls
       FROM sel GROUP BY source ORDER BY source""",
    "sitemap XML expansion: <loc> URLs extracted into the crawl "
    "frontier by one codegen regexp_extract_all",
)
def sitemap_url_expansion(spark, sf_dir):
    from neo4j_to_clickhouse_spark.functions.url import sitemap_urls

    d = (
        _t(spark, sf_dir, "documents")
        .where((F.col("doc_id") % 9) == 2)
        .select("doc_id", "source")
    )
    n = (F.col("doc_id") % 5 + 1).cast("int")
    u = F.col("doc_id").cast("string")
    # n <loc> entries (one whitespace-padded), plus a decoy element
    entry = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat(
            F.when(i % 2 == 0, F.lit("<loc>  http://s")).otherwise(
                F.lit("<loc>http://s")
            ),
            u,
            F.lit(".com/u"),
            i.cast("string"),
            F.when(i % 2 == 0, F.lit("  </loc>")).otherwise(
                F.lit("</loc>")
            ),
        ),
    )
    xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset><url>'),
        F.array_join(entry, "<lastmod>2026-01-01</lastmod>"),
        F.lit("</url></urlset>"),
    )
    return (
        d.select("source", sitemap_urls(xml).alias("urls"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_sitemaps"),
            F.sum(F.size("urls")).alias("n_urls"),
        )
        .orderBy("source")
    )


@q(
    "compression_ratio_flags",
    # Certifies the zlib compression-ratio quality signal
    # (operators/text.py::compression_ratio_column — the CCNet/Gopher
    # gibberish detector): three planted lanes by doc_id%3 — (0) the
    # fixture's natural prose (counted, not classified), (1) 'spam '
    # repeated, which compresses far below the 0.2 repetitive
    # threshold, (2) an md5-chain hex string (~4 bits/char entropy)
    # that stays above the 0.35 incompressible threshold. Thresholds
    # sit with wide margins on both sides, so the closed form is
    # robust to zlib version/level differences.
    """WITH sel AS (
         SELECT source, doc_id % 3 AS v
         FROM documents WHERE doc_id % 9 = 7)
       SELECT source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_repetitive,
              CAST(sum(CASE WHEN v = 2 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_incompressible
       FROM sel GROUP BY source ORDER BY source""",
    "zlib compression-ratio quality flags: repetitive (ratio < 0.2) "
    "and incompressible (ratio > 0.35) lanes planted with wide "
    "margins, counted per source",
)
def compression_ratio_flags(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.text import (
        compression_ratio_column,
    )

    d = (
        _t(spark, sf_dir, "documents")
        .where((F.col("doc_id") % 9) == 7)
        .select("doc_id", "source", "text")
    )
    v = F.col("doc_id") % 3
    # lane 1: 'spam ' x (40 + doc_id%10); lane 2: md5-chain hex of
    # ~8 x 32 chars (computed codegen-side — md5 of md5 of ...)
    h = F.col("doc_id").cast("string")
    for _ in range(8):
        h = F.concat(h, F.md5(h))
    planted = d.select(
        "source",
        F.when(
            v == 1,
            F.repeat(F.lit("spam "), 40 + (F.col("doc_id") % 10).cast("int")),
        )
        .when(v == 2, F.substring(h, 2, 256))
        .otherwise(F.col("text"))
        .alias("t"),
        v.alias("v"),
    )
    r = compression_ratio_column(planted, "t", "ratio")
    return (
        r.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when((F.col("v") == 1) & (F.col("ratio") < 0.2), 1)
                .otherwise(0)
            ).alias("n_repetitive"),
            F.sum(
                F.when((F.col("v") == 2) & (F.col("ratio") > 0.35), 1)
                .otherwise(0)
            ).alias("n_incompressible"),
        )
        .orderBy("source")
    )


@q(
    "redirect_resolution_stats",
    # Certifies redirect-chain resolution (operators/redirects.py —
    # log-round pointer doubling): four planted per-doc graphs by
    # (doc_id//9)%4 — (0) a->b->c two-hop chain, (1) a->b one hop,
    # (2) an x<->y cycle, (3) an s->s self-loop. Closed form: lane 0
    # contributes 2 sources both resolved (hops 2+1), lane 1 one
    # resolved (hops 1), cycle/self-loop sources are detected
    # unresolved — the doubling fixpoint must neither loop forever
    # nor miscount hops.
    """WITH sel AS (
         SELECT source, (doc_id // 9) % 4 AS w
         FROM documents WHERE doc_id % 9 = 5)
       SELECT source,
              CAST(sum(CASE w WHEN 0 THEN 2 WHEN 1 THEN 1
                              WHEN 2 THEN 2 ELSE 1 END) AS BIGINT)
                AS n_srcs,
              CAST(sum(CASE WHEN w = 0 THEN 2 WHEN w = 1 THEN 1
                            ELSE 0 END) AS BIGINT) AS n_resolved,
              CAST(sum(CASE WHEN w = 0 THEN 3 WHEN w = 1 THEN 1
                            ELSE 0 END) AS BIGINT) AS total_hops
       FROM sel GROUP BY source ORDER BY source""",
    "HTTP redirect-chain resolution: pointer-doubling transitive "
    "closure (4 joins resolve 16 hops), cycles and self-loops "
    "surfaced as unresolved instead of looping",
)
def redirect_resolution_stats(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.redirects import (
        resolve_redirects,
    )

    d = (
        _t(spark, sf_dir, "documents")
        .where((F.col("doc_id") % 9) == 5)
        .select("doc_id", "source")
    )
    w = (F.col("doc_id") / 9).cast("long") % 4
    u = F.col("doc_id").cast("string")

    def node(p):
        return F.concat(F.lit(p), u)

    def edge(a, b):
        return F.struct(node(a).alias("src"), node(b).alias("dst"))

    arr = (
        F.when(w == 0, F.array(edge("a", "b"), edge("b", "c")))
        .when(w == 1, F.array(edge("a", "b")))
        .when(w == 2, F.array(edge("x", "y"), edge("y", "x")))
        .otherwise(F.array(edge("s", "s")))
    )
    edges = d.select(
        "source", F.explode(arr).alias("e")
    ).select("source", F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))
    res = resolve_redirects(edges.select("src", "dst"))
    src_source = edges.select("src", "source")
    return (
        res.join(src_source, "src")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_srcs"),
            F.sum(F.when(F.col("resolved"), 1).otherwise(0)).alias(
                "n_resolved"
            ),
            F.coalesce(
                F.sum(F.when(F.col("resolved"), F.col("hops"))),
                F.lit(0),
            ).alias("total_hops"),
        )
        .orderBy("source")
    )


from neo4j_to_clickhouse_spark.operators.textnorm import (
    CTRL_FORMAT_CLASS as _CTRL_FMT,
)


@q(
    "unicode_normalize_stats",
    # Certifies Unicode normalization (operators/textnorm.py): four
    # planted lanes per doc_id%4 — (0) untouched ASCII, (1) an NFD
    # prefix 'Cafe'+U+0301+' ' that NFC composes 6 chars -> 5, (2)
    # zero-width ZWSP/ZWJ + trailing BOM that strip to nothing, (3)
    # BEL/SOH control bytes that strip. The strip pattern is ONE
    # constant interpolated into both engines (Java-regex/RE2 common
    # \x{...} syntax); NFC runs as Python unicodedata on the engine
    # and utf8proc nfc_normalize on the oracle — the oracle certifies
    # the two Unicode implementations agree, and the closed-form
    # lane arithmetic pins both.
    f"""WITH sel AS (
         SELECT doc_id, source, text, doc_id % 4 AS v
         FROM documents WHERE doc_id % 9 = 8),
       planted AS (
         SELECT source,
                CASE v
                  WHEN 1 THEN 'Cafe' || chr(769) || ' ' || text
                  WHEN 2 THEN chr(8203) || chr(8205) || text
                              || chr(65279)
                  WHEN 3 THEN chr(7) || chr(1) || text
                  ELSE text END AS t
         FROM sel),
       normed AS (
         SELECT source, t,
                regexp_replace(nfc_normalize(t),
                               '{_CTRL_FMT}', '', 'g') AS n
         FROM planted)
       SELECT source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(length(t)) AS BIGINT) AS total_raw,
              CAST(sum(length(n)) AS BIGINT) AS total_norm,
              CAST(sum(CASE WHEN n <> t THEN 1 ELSE 0 END) AS BIGINT)
                AS n_changed
       FROM normed GROUP BY source ORDER BY source""",
    "Unicode normalization: NFC composition (Arrow unicodedata vs "
    "DuckDB utf8proc) + control/format stripping via one shared "
    "Java/RE2-common regex constant",
)
def unicode_normalize_stats(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.textnorm import (
        normalize_text_column,
    )

    d = (
        _t(spark, sf_dir, "documents")
        .where((F.col("doc_id") % 9) == 8)
        .select("doc_id", "source", "text")
    )
    v = F.col("doc_id") % 4
    planted = d.select(
        "source",
        # lane 1 plants the DECOMPOSED form (e + U+0301) so NFC has
        # real composition work; zero-width/control lanes use
        # explicit escapes
        F.when(v == 1, F.concat(F.lit("Cafe\u0301 "), F.col("text")))
        .when(
            v == 2,
            F.concat(
                F.lit("\u200b\u200d"), F.col("text"), F.lit("\ufeff")
            ),
        )
        .when(v == 3, F.concat(F.lit("\x07\x01"), F.col("text")))
        .otherwise(F.col("text"))
        .alias("t"),
    )
    normed = normalize_text_column(planted, "t", out_col="n")
    return (
        normed.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("t")).alias("total_raw"),
            F.sum(F.length("n")).alias("total_norm"),
            F.sum(
                F.when(F.col("n") != F.col("t"), 1).otherwise(0)
            ).alias("n_changed"),
        )
        .orderBy("source")
    )


@q(
    "wet_ingest_stats",
    # Certifies WET (Common Crawl extracted-text) ingestion
    # (sources/warc.py::wet_documents): per-doc WET payloads carry a
    # warcinfo record (must be dropped — no text) plus one conversion
    # record; every 5th doc's body gets an invalid UTF-8 byte and must
    # land in the quarantine lane, not mojibake. Closed form: docs =
    # conversions, ok iff doc_id%5 != 4, total extracted chars =
    # n_chars of the ok docs.
    """WITH sel AS (
         SELECT doc_id, source, n_chars, doc_id % 5 AS v
         FROM documents WHERE doc_id % 9 = 6)
       SELECT source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(CASE WHEN v <> 4 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_ok,
              CAST(sum(CASE WHEN v = 4 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_quarantined,
              CAST(sum(CASE WHEN v <> 4 THEN n_chars ELSE 0 END)
                AS BIGINT) AS total_chars
       FROM sel GROUP BY source ORDER BY source""",
    "WET (Common Crawl extracted-text) ingestion: conversion records "
    "parsed and strictly UTF-8 decoded, warcinfo dropped, broken "
    "bodies quarantined (M5 dead-letter)",
)
def wet_ingest_stats(spark, sf_dir):
    from neo4j_to_clickhouse_spark.sources.warc import wet_documents

    d = (
        _t(spark, sf_dir, "documents")
        .where((F.col("doc_id") % 9) == 6)
        .select("doc_id", "source", "text")
    )
    schema = "path string, content binary, source string"

    def build(batches):
        import pandas as pd  # noqa: PLC0415 — executor-side

        from neo4j_to_clickhouse_spark.sources.warc import encode_wet

        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for doc_id, source, text in zip(
                pdf["doc_id"], pdf["source"], pdf["text"]
            ):
                doc_id = int(doc_id)
                body = text.encode("utf-8")
                if doc_id % 5 == 4:
                    body += b"\xff"
                payload = encode_wet(
                    [
                        {
                            "uri": f"http://example.com/{doc_id}",
                            "body": body,
                        }
                    ],
                    gzip_per_record=bool(doc_id % 2),
                )
                rows.append((f"wet-{doc_id}", payload, source))
            yield pd.DataFrame(
                rows, columns=["path", "content", "source"]
            )

    files = d.mapInPandas(build, schema)
    docs, quar = wet_documents(files.select("path", "content", "source"))
    # thread source back through the synthetic file name for grouping
    src = F.regexp_extract(F.col("file"), r"wet-(\d+)", 1)
    docs = docs.withColumn("doc_id", src.cast("long"))
    quar = quar.withColumn("doc_id", src.cast("long"))
    lookup = d.select("doc_id", "source")
    g = docs.join(lookup, "doc_id").select("source", "n_chars")
    b = quar.join(lookup, "doc_id").select("source")
    agg_g = g.groupBy("source").agg(
        F.count("*").alias("n_ok"),
        F.sum("n_chars").alias("total_chars"),
    )
    agg_b = b.groupBy("source").agg(
        F.count("*").alias("n_quarantined")
    )
    return (
        agg_g.join(agg_b, "source", "full")
        .select(
            "source",
            (
                F.coalesce("n_ok", F.lit(0))
                + F.coalesce("n_quarantined", F.lit(0))
            ).alias("n_docs"),
            F.coalesce("n_ok", F.lit(0)).alias("n_ok"),
            F.coalesce("n_quarantined", F.lit(0)).alias(
                "n_quarantined"
            ),
            F.coalesce("total_chars", F.lit(0)).alias("total_chars"),
        )
        .orderBy("source")
    )


@q(
    "charset_decode_stats",
    # Certifies charset resolution + strict decode with quarantine
    # (operators/charset.py — VERDICT r11 item 4): four planted lanes
    # per doc_id%4 — (0) UTF-8 via Content-Type header param, (1)
    # latin-1 via <meta charset> body sniff (+27 meta chars +1 'é'),
    # (2) GBK via header param (+1 '中'), (3) an invalid UTF-8 byte
    # with no declaration -> fallback utf-8 -> strict failure ->
    # quarantine lane. Closed form: decoded char counts derive from
    # n_chars per lane; lane 3 contributes only to n_quarantined.
    """WITH sel AS (
         SELECT doc_id, source, n_chars, doc_id % 4 AS v
         FROM documents WHERE doc_id % 9 = 3)
       SELECT source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(CASE WHEN v <> 3 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_ok,
              CAST(sum(CASE WHEN v = 3 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_quarantined,
              CAST(sum(CASE WHEN v = 0 THEN n_chars
                            WHEN v = 1 THEN n_chars + 28
                            WHEN v = 2 THEN n_chars + 1
                            ELSE 0 END) AS BIGINT) AS total_chars
       FROM sel GROUP BY source ORDER BY source""",
    "charset resolution (header param -> <meta> sniff -> UTF-8 "
    "fallback, pure codegen) + strict Arrow decode with a quarantine "
    "lane for undecodable bodies (M5 dead-letter pattern)",
)
def charset_decode_stats(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.charset import (
        charset_column,
        decode_text_column,
    )

    d = (
        _t(spark, sf_dir, "documents")
        .where((F.col("doc_id") % 9) == 3)
        .select("doc_id", "source", "text")
    )
    schema = "source string, content_type string, body binary"

    def plant(batches):
        import pandas as pd  # noqa: PLC0415 — executor-side

        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for doc_id, source, text in zip(
                pdf["doc_id"], pdf["source"], pdf["text"]
            ):
                v = int(doc_id) % 4
                if v == 0:
                    ct = "text/html; charset=utf-8"
                    body = text.encode("utf-8")
                elif v == 1:
                    ct = "text/html"
                    body = (
                        '<meta charset="ISO-8859-1">' + text + "é"
                    ).encode("iso-8859-1")
                elif v == 2:
                    ct = "text/html; charset=gbk"
                    body = (text + "中").encode("gbk")
                else:
                    ct = "text/html"
                    body = text.encode("utf-8") + b"\xff"
                rows.append((source, ct, body))
            yield pd.DataFrame(
                rows, columns=["source", "content_type", "body"]
            )

    planted = d.mapInPandas(plant, schema)
    dec = decode_text_column(
        planted.withColumn(
            "charset", charset_column("content_type", "body")
        )
    )
    ok = F.col("decode_error").isNull()
    return (
        dec.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(ok, 1).otherwise(0)).alias("n_ok"),
            F.sum(F.when(ok, 0).otherwise(1)).alias("n_quarantined"),
            F.coalesce(
                F.sum(F.when(ok, F.length("text"))), F.lit(0)
            ).alias("total_chars"),
        )
        .orderBy("source")
    )


_BM25_TERMS = ("spark", "query", "window", "fast")


@q(
    "bm25_topk_docs",
    # Okapi BM25 (Lucene non-negative idf) top-20 for a fixed query —
    # retrieval-based decontamination / quality-by-query primitive.
    # Per-term contributions round to 8 dp and sum as DECIMAL (the
    # lm.py pattern), so the score is partitioning-independent and both
    # engines agree bit-exactly; the SQL mirrors the Spark expression
    # tree operation-for-operation (k1+1 = 2.2, 1-b = 0.25 folded the
    # same way). Ties break on doc_id.
    f"""WITH toks AS (
         SELECT doc_id, string_split(text, ' ') AS t,
                len(string_split(text, ' ')) AS dl
         FROM documents),
       stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM toks),
       tf AS (
         SELECT doc_id, dl, term, count(*) AS tf
         FROM (SELECT doc_id, dl, unnest(t) AS term FROM toks)
         WHERE term IN {_BM25_TERMS!r}
         GROUP BY doc_id, dl, term),
       dfreq AS (SELECT term, count(DISTINCT doc_id) AS df
                 FROM tf GROUP BY term),
       contrib AS (
         SELECT tf.doc_id,
                CAST(round(
                  ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                  * (tf.tf * 2.2)
                  / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl)),
                  8) AS DECIMAL(20,8)) AS c
         FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s)
       SELECT doc_id, round(CAST(sum(c) AS DOUBLE), 6) AS score
       FROM contrib GROUP BY doc_id
       ORDER BY score DESC, doc_id LIMIT 20""",
    "BM25 top-k retrieval (one pruned explode + broadcast df/stats + "
    "TakeOrdered heap): the decontamination/quality-by-query primitive",
)
def bm25_topk_docs(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.retrieval import bm25_topk

    return bm25_topk(_t(spark, sf_dir, "documents"), _BM25_TERMS, k=20)


_BM25_QUERY_SET = (
    ("q1", "spark"),
    ("q1", "query"),
    ("q2", "window"),
    ("q2", "merge"),
    ("q2", "hash"),
    ("q3", "customer"),
)
_BM25_QS_SQL = ", ".join(f"('{q}', '{t}')" for q, t in _BM25_QUERY_SET)


@q(
    "bm25_multi_query_topk",
    # batch retrieval: top-5 per query for a whole query SET in one
    # corpus pass — the decontamination shape (thousands of eval
    # queries at 100 TB). Same bit-exact contract as bm25_topk_docs;
    # the per-query k-cut is a rank window (WindowGroupLimit heap).
    f"""WITH q(query_id, term) AS (VALUES {_BM25_QS_SQL}),
       toks AS (
         SELECT doc_id, string_split(text, ' ') AS t,
                len(string_split(text, ' ')) AS dl
         FROM documents),
       stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM toks),
       tf AS (
         SELECT doc_id, dl, term, count(*) AS tf
         FROM (SELECT doc_id, dl, unnest(t) AS term FROM toks)
         WHERE term IN (SELECT DISTINCT term FROM q)
         GROUP BY doc_id, dl, term),
       dfreq AS (SELECT term, count(DISTINCT doc_id) AS df
                 FROM tf GROUP BY term),
       contrib AS (
         SELECT tf.doc_id, tf.term,
                CAST(round(
                  ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                  * (tf.tf * 2.2)
                  / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl)),
                  8) AS DECIMAL(20,8)) AS c
         FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s),
       scored AS (
         SELECT q.query_id, c.doc_id,
                round(CAST(sum(c.c) AS DOUBLE), 6) AS score
         FROM contrib c JOIN q USING (term)
         GROUP BY q.query_id, c.doc_id),
       ranked AS (
         SELECT *, row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
         FROM scored)
       SELECT query_id, doc_id, score, CAST(rnk AS INT) AS rank
       FROM ranked WHERE rnk <= 5
       ORDER BY query_id, rank""",
    "batch BM25: top-5 docs per query for a query set in ONE corpus "
    "pass (explode pruned by broadcast vocab, per-(doc,term) scores "
    "shared across queries, WindowGroupLimit k-cut)",
)
def bm25_multi_query_topk(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.retrieval import (
        bm25_topk_per_query,
    )

    qdf = spark.createDataFrame(
        list(_BM25_QUERY_SET), "query_id string, term string"
    )
    return bm25_topk_per_query(
        _t(spark, sf_dir, "documents"), qdf, k=5
    ).orderBy("query_id", "rank")


# PII patterns shared verbatim with the oracle (redact.py restricts them
# to the Java-regex/RE2 common subset, so the one constant serves both
# engines and cannot drift).  Interpolated via .replace() because the
# patterns contain regex braces that f-strings would eat.
from neo4j_to_clickhouse_spark.operators.redact import PII_PATTERNS as _PII

_PII_ORACLE = (
    """WITH planted AS (
         SELECT source,
                CASE WHEN doc_id % 10 < 3
                     THEN text || ' contact user'
                          || CAST(doc_id AS VARCHAR)
                          || '@example.com or 555-123-4567 at 10.0.0.'
                          || CAST(doc_id % 256 AS VARCHAR)
                     ELSE text END AS text
         FROM documents),
       r AS (
         SELECT source, text,
                len(regexp_extract_all(text, '@EM@')) AS n_email,
                len(regexp_extract_all(text, '@PH@')) AS n_phone,
                len(regexp_extract_all(text, '@IP@')) AS n_ip,
                regexp_replace(regexp_replace(regexp_replace(
                  text, '@EM@', '<EMAIL>', 'g'),
                  '@PH@', '<PHONE>', 'g'),
                  '@IP@', '<IP>', 'g') AS redacted
         FROM planted)
       SELECT source, count(*) AS n_docs,
              count(*) FILTER (WHERE n_email + n_phone + n_ip > 0)
                AS n_docs_with_pii,
              CAST(sum(n_email) AS BIGINT) AS total_emails,
              CAST(sum(n_phone) AS BIGINT) AS total_phones,
              CAST(sum(n_ip) AS BIGINT) AS total_ips,
              CAST(sum(length(text) - length(redacted)) AS BIGINT)
                AS chars_removed
       FROM r GROUP BY source ORDER BY source"""
    .replace("@EM@", _PII[0][1])
    .replace("@PH@", _PII[1][1])
    .replace("@IP@", _PII[2][1])
)


@q(
    "pii_redaction_stats",
    # the fixture word-salads contain no digits or '@', so PII is planted
    # deterministically (30% of docs get one email + one phone + one IP)
    # and the redaction outcome has a closed form both engines compute
    # independently with the SAME pattern constants
    _PII_ORACLE,
    "pattern-based PII redaction (email/phone/IPv4 -> placeholder "
    "tokens): per-source redaction audit — pure regexp codegen, "
    "scan-bound, zero shuffle before the rollup",
)
def pii_redaction_stats(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.redact import redact_pii

    docs = _t(spark, sf_dir, "documents")
    planted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 10 < 3,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-123-4567 at 10.0.0."),
                (F.col("doc_id") % 256).cast("string"),
            ),
        ).otherwise(F.col("text")),
    )
    red = redact_pii(planted, "text")
    has_pii = (F.col("n_email") + F.col("n_phone") + F.col("n_ip")) > 0
    return (
        red.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_if(has_pii).alias("n_docs_with_pii"),
            F.sum("n_email").cast("long").alias("total_emails"),
            F.sum("n_phone").cast("long").alias("total_phones"),
            F.sum("n_ip").cast("long").alias("total_ips"),
            F.sum(F.length("text") - F.length("text_redacted"))
            .cast("long")
            .alias("chars_removed"),
        )
        .orderBy("source")
    )


@q(
    "curation_funnel_report",
    # the C4/Gopher/Dolma pipeline shape: ordered stages with cumulative
    # doc+token retention.  Clones are planted (one per doc_id%50==0,
    # re-keyed +10^6) so the exact-dedup stage demonstrably drops rows on
    # the clone-free fixture; stage 3 requires all 3-grams distinct
    # (drops the fixture's naturally repetitive docs); survivor choice is
    # min doc_id per normalized-text fingerprint among stage-3 survivors.
    r"""WITH base AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 50 = 0),
       t AS (
         SELECT doc_id, text, len(string_split(text, ' ')) AS n_tok,
                len(list_filter(string_split(lower(text), ' '),
                    t -> list_contains(
                      ['the','and','of','to','a','in','is','it'], t))) > 0
                  AS lang_ok
         FROM base),
       sh AS (
         SELECT doc_id, list_aggregate(w[i:i+2], 'string_agg', ' ') AS shingle
         FROM (SELECT doc_id, string_split(text, ' ') AS w FROM base) d,
              (SELECT unnest(range(1, 100000)) AS i) idx
         WHERE i <= len(w) - 2),
       rep AS (SELECT doc_id, count(*) AS total,
                      count(DISTINCT shingle) AS uniq
               FROM sh GROUP BY doc_id),
       c AS (
         SELECT t.doc_id, t.text, t.n_tok,
                t.lang_ok AS cum1,
                t.lang_ok AND t.n_tok BETWEEN 20 AND 10000 AS cum2,
                t.lang_ok AND t.n_tok BETWEEN 20 AND 10000
                  AND coalesce(rep.uniq = rep.total, true) AS cum3
         FROM t LEFT JOIN rep USING (doc_id)),
       d AS (
         SELECT *, cum3 AND doc_id = min(CASE WHEN cum3 THEN doc_id END)
                OVER (PARTITION BY
                      md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))))
                AS cum4
         FROM c)
       SELECT * FROM (
         SELECT 0 AS stage_idx, 'input' AS stage, count(*) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM d
         UNION ALL
         SELECT 1, 'lang_en', count(*) FILTER (WHERE cum1),
                CAST(coalesce(sum(n_tok) FILTER (WHERE cum1), 0) AS BIGINT)
         FROM d
         UNION ALL
         SELECT 2, 'token_range', count(*) FILTER (WHERE cum2),
                CAST(coalesce(sum(n_tok) FILTER (WHERE cum2), 0) AS BIGINT)
         FROM d
         UNION ALL
         SELECT 3, 'low_repetition', count(*) FILTER (WHERE cum3),
                CAST(coalesce(sum(n_tok) FILTER (WHERE cum3), 0) AS BIGINT)
         FROM d
         UNION ALL
         SELECT 4, 'exact_unique', count(*) FILTER (WHERE cum4),
                CAST(coalesce(sum(n_tok) FILTER (WHERE cum4), 0) AS BIGINT)
         FROM d)
       ORDER BY stage_idx""",
    "curation funnel (langid -> length -> repetition -> exact dedup): "
    "cumulative per-stage doc+token retention in one scan + one "
    "fingerprint shuffle",
)
def curation_funnel_report(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.curate import curation_funnel
    from neo4j_to_clickhouse_spark.operators.dedup import tokens

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    clones = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    base = docs.unionByName(clones)
    toks = tokens("text")
    markers = F.array(
        *[F.lit(m) for m in ("the", "and", "of", "to", "a", "in", "is", "it")]
    )
    total, uniq = TX.ngram_repetition("text", 3)
    return curation_funnel(
        base,
        predicates=[
            ("lang_en", F.arrays_overlap(tokens(F.lower(F.col("text"))), markers)),
            ("token_range", F.size(toks).between(20, 10_000)),
            ("low_repetition", uniq == total),
        ],
        token_count=F.size(toks),
        dedup_stage=("exact_unique", TX.fingerprint("text")),
        dedup_order="doc_id",
    )


@q(
    "train_val_test_split_counts",
    # 80/10/10 by disjoint md5 ranges; the oracle reproduces the exact
    # member set, so the per-split counts (and hash of them) must match
    """WITH labeled AS (
         SELECT doc_id, source,
                CASE
                  WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                       < 'cccccccd' THEN 'train'
                  WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                       < 'e6666666' THEN 'val'
                  ELSE 'test'
                END AS split
         FROM documents)
       SELECT split, count(*) AS n_docs,
              count(DISTINCT source) AS n_sources
       FROM labeled GROUP BY split ORDER BY split""",
    "deterministic 80/10/10 train/val/test split by md5(doc_id) ranges — "
    "stable membership on any engine/partitioning, unlike randomSplit",
)
def train_val_test_split_counts(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.sampling import hash_split

    labeled = hash_split(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )
    return (
        labeled.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("source").alias("n_sources"),
        )
        .orderBy("split")
    )


@q(
    "sequence_packing_stats",
    # concat-and-chunk at 512 tokens per training sequence, packed per
    # source shard in doc_id order: per-bin doc and token counts.
    # n_tok mirrors tokens() (dedup.py:75): strip, empty -> 0, split \s+
    # — string_split(text, ' ') would silently diverge on tabs/double
    # spaces (VERDICT r06 item 4).  The window sum and its // quotient
    # are DuckDB HUGEINT; CAST both to BIGINT or the driver's value hash
    # sees a different canonical type than Spark's LongType (VERDICT r06
    # item 1 — house style at queries.py sum(length(...)) sites).
    r"""WITH t AS (
         SELECT doc_id, source,
                CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = ''
                     THEN 0
                     ELSE len(regexp_split_to_array(
                            regexp_replace(text, '^\s+|\s+$', '', 'g'),
                            '\s+'))
                END AS n_tok
         FROM documents),
       c AS (
         SELECT source, n_tok,
                sum(n_tok) OVER (
                  PARTITION BY source ORDER BY doc_id) - n_tok AS start
         FROM t)
       SELECT source, CAST(start // 512 AS BIGINT) AS pack_id,
              count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
       FROM c GROUP BY source, pack_id
       ORDER BY source, pack_id""",
    "sequence packing (concat-and-chunk): per-bin fill stats at a "
    "512-token training budget",
)
def sequence_packing_stats(spark, sf_dir):
    packed = TX.pack_sequences(
        _t(spark, sf_dir, "documents"), "source", "doc_id", "text", 512
    )
    return (
        packed.groupBy("source", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(TX.tokens("text"))).alias("n_tokens"),
        )
        .orderBy("source", "pack_id")
    )


@q(
    "sample_temperature_weighted",
    # alpha=0.5 quota ∝ sqrt(n_s): both engines compute the quota with
    # the same double sqrt/floor; deterministic member fill by md5(key)
    """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
       z AS (SELECT sum(pow(n, 0.5)) AS z FROM c),
       q AS (SELECT source,
                    greatest(1, CAST(floor(120 * pow(n, 0.5) / z) AS BIGINT))
                      AS quota
             FROM c, z),
       ranked AS (
         SELECT doc_id, source,
                row_number() OVER (
                  PARTITION BY source
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
         FROM documents)
       SELECT doc_id, source FROM ranked JOIN q USING (source)
       WHERE rn <= quota
       ORDER BY source, doc_id""",
    "temperature-weighted source mixing: per-source quota ∝ count^alpha "
    "(alpha=0.5), deterministic md5 member fill",
)
def sample_temperature_weighted(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.sampling import (
        temperature_sample,
    )

    return (
        temperature_sample(
            _t(spark, sf_dir, "documents"), "source", "doc_id", 120, 0.5
        )
        .select("doc_id", "source")
        .orderBy("source", "doc_id")
    )


@q(
    "repetition_by_source",
    # corpus-level duplicate-n-gram ratio per source: sum(total-uniq) /
    # sum(total) over docs with at least one 3-gram — exact aggregation of
    # counts, not an average of per-doc ratios (which would weight a
    # 10-word doc equally with a 10k-word doc)
    """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS w
                 FROM documents),
       sh AS (SELECT doc_id, source,
                     list_aggregate(w[i:i+2], 'string_agg', ' ') AS shingle
              FROM d, (SELECT unnest(range(1, 100000)) AS i) idx
              WHERE i <= len(w) - 2),
       per_doc AS (SELECT doc_id, source, count(*) AS total,
                          count(DISTINCT shingle) AS uniq
                   FROM sh GROUP BY doc_id, source)
       SELECT source,
              round(CAST(sum(total - uniq) AS DOUBLE)
                    / CAST(sum(total) AS DOUBLE), 6) AS rep_ratio,
              count(*) AS n_docs
       FROM per_doc GROUP BY source ORDER BY source""",
    "intra-document duplicate-3-gram ratio per source (boilerplate / "
    "template-spam / decoding-loop detector)",
)
def repetition_by_source(spark, sf_dir):
    total, uniq = TX.ngram_repetition(F.col("text"), n=3)
    per_doc = (
        _t(spark, sf_dir, "documents")
        .select("source", total.alias("total"), uniq.alias("uniq"))
        .filter(F.col("total") > 0)
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.round(
                F.sum(F.col("total") - F.col("uniq")).cast("double")
                / F.sum("total").cast("double"),
                6,
            ).alias("rep_ratio"),
            F.count("*").alias("n_docs"),
        )
        .orderBy("source")
    )


@q(
    "dedup_simhash_planted",
    # Planted-clone hard gate for the SimHash machinery (same construction
    # as embedding_lsh_near_dup): every doc is unioned with a byte-identical
    # clone at doc_id+10^6. Identical text => identical token multiset =>
    # identical simhash => hamming 0, and all four 16-bit chunks collide, so
    # recall on the planted pairs is guaranteed. Restricting the output to
    # (a, a+10^6) pairs removes natural near-dup pairs (not closed-form),
    # leaving exactly one row per document.
    """SELECT doc_id AS id_a, doc_id + 1000000 AS id_b,
              CAST(0 AS BIGINT) AS hamming
       FROM documents ORDER BY id_a""",
    "SimHash planted-clone gate: every doc must pair with its clone at "
    "hamming 0 (hard check on tokenize -> bit-sum -> banding -> verify)",
)
def dedup_simhash_planted(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    clones = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(clones)
    pairs = D.simhash_near_duplicates(corpus, "doc_id", "text", max_hamming=3)
    return (
        pairs.filter(F.col("id_b") - F.col("id_a") == 1_000_000)
        .select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))
        .orderBy("id_a")
    )


@q(
    "dedup_survivors_minhash",
    # The full scale-path dedup flow gated end-to-end: MinHash-LSH
    # candidate pairs (not the exhaustive join) -> connected components ->
    # survivor materialization -> per-source accounting. The oracle is the
    # exhaustive-join closure: valid because the verified-minhash pair set
    # is deterministic and equals the exact-Jaccard pair set at this SF
    # (same equivalence the dedup_minhash_lsh gate asserts).
    "WITH RECURSIVE" + _JACCARD_PAIRS_CTE
    + """SELECT source, count(*) AS n_docs
       FROM documents
       WHERE doc_id NOT IN (SELECT id FROM clusters WHERE id <> cluster_id)
       GROUP BY source ORDER BY source""",
    "deduplicated corpus per source via the MinHash-LSH scale path "
    "(bucketed candidates -> clusters -> survivors)",
)
def dedup_survivors_minhash(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_dedup(
        docs, "doc_id", "text", n=3, num_hashes=64, bands=32, threshold=0.5
    )
    return (
        D.dedup_by_pairs(docs, pairs, "doc_id")
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("source")
    )


# =====================================================================
# As-of join: point-in-time state lookup (north star)
# =====================================================================

@q(
    "asof_user_state",
    # The oracle runs DuckDB's NATIVE ASOF JOIN — a structurally different
    # algorithm from the Spark union+carry-forward window, so agreement is
    # a real cross-validation, not the same plan twice. Events are
    # pre-deduped per (user_id, ts) by max event_id on the oracle side to
    # pin the same-timestamp tie the Spark side breaks via tie_break_col.
    """WITH probes AS (
         SELECT DISTINCT user_id, t AS probe_time
         FROM events,
              (SELECT unnest([TIMESTAMP '2024-01-08 00:00:00',
                              TIMESTAMP '2024-01-16 00:00:00',
                              TIMESTAMP '2024-01-24 00:00:00']) AS t)),
       ev AS (
         SELECT user_id, ts, max(event_id) AS event_id,
                arg_max(event_type, event_id) AS event_type
         FROM events GROUP BY user_id, ts)
       SELECT p.user_id, p.probe_time, e.event_id, e.event_type
       FROM probes p ASOF LEFT JOIN ev e
         ON p.user_id = e.user_id AND e.ts <= p.probe_time
       ORDER BY p.user_id, p.probe_time""",
    "as-of join: each user's latest event at three probe instants "
    "(union + carry-forward window — ONE shuffle for any probe count)",
)
def asof_user_state(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.asof import asof_join

    events = _t(spark, sf_dir, "events")
    probes = events.select("user_id").distinct().select(
        "user_id",
        F.explode(
            F.array(
                *[
                    F.lit(t).cast("timestamp")
                    for t in (
                        "2024-01-08 00:00:00",
                        "2024-01-16 00:00:00",
                        "2024-01-24 00:00:00",
                    )
                ]
            )
        ).alias("probe_time"),
    )
    return asof_join(
        events,
        probes,
        key_col="user_id",
        event_time_col="ts",
        probe_time_col="probe_time",
        value_cols=["event_id", "event_type"],
        tie_break_col="event_id",
    ).orderBy("user_id", "probe_time")


@q(
    "asof_user_state_bucketed",
    # SAME oracle as asof_user_state (DuckDB native ASOF JOIN): the
    # skew-safe (key, time-bucket) two-level carry-forward must be
    # result-identical to the single-window form. 4-day buckets make the
    # January event span cross ~8 bucket boundaries, so the baseline
    # fallback path is genuinely exercised at sf0.01.
    """WITH probes AS (
         SELECT DISTINCT user_id, t AS probe_time
         FROM events,
              (SELECT unnest([TIMESTAMP '2024-01-08 00:00:00',
                              TIMESTAMP '2024-01-16 00:00:00',
                              TIMESTAMP '2024-01-24 00:00:00']) AS t)),
       ev AS (
         SELECT user_id, ts, max(event_id) AS event_id,
                arg_max(event_type, event_id) AS event_type
         FROM events GROUP BY user_id, ts)
       SELECT p.user_id, p.probe_time, e.event_id, e.event_type
       FROM probes p ASOF LEFT JOIN ev e
         ON p.user_id = e.user_id AND e.ts <= p.probe_time
       ORDER BY p.user_id, p.probe_time""",
    "skew-safe as-of join: (key, time-bucket) two-level carry-forward — "
    "a hot key spreads over buckets instead of one window task",
)
def asof_user_state_bucketed(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.asof import asof_join_bucketed

    events = _t(spark, sf_dir, "events")
    probes = events.select("user_id").distinct().select(
        "user_id",
        F.explode(
            F.array(
                *[
                    F.lit(t).cast("timestamp")
                    for t in (
                        "2024-01-08 00:00:00",
                        "2024-01-16 00:00:00",
                        "2024-01-24 00:00:00",
                    )
                ]
            )
        ).alias("probe_time"),
    )
    return asof_join_bucketed(
        events,
        probes,
        key_col="user_id",
        event_time_col="ts",
        probe_time_col="probe_time",
        value_cols=["event_id", "event_type"],
        tie_break_col="event_id",
        bucket_seconds=4 * 86400,
    ).orderBy("user_id", "probe_time")


@q(
    "range_join_interval_stats",
    # plain inequality join is fine as the ORACLE (DuckDB, tiny data); the
    # Spark side must produce identical results from the binned equi-join
    """WITH iv AS (
         SELECT * FROM (VALUES
           (1, TIMESTAMP '2024-01-03 00:00:00', TIMESTAMP '2024-01-07 12:00:00'),
           (2, TIMESTAMP '2024-01-10 06:00:00', TIMESTAMP '2024-01-11 00:00:00'),
           (3, TIMESTAMP '2024-01-20 00:00:00', TIMESTAMP '2024-01-28 00:00:00'))
           AS t(interval_id, t_start, t_end))
       SELECT interval_id, count(*) AS n_events,
              count(DISTINCT user_id) AS n_users,
              CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
       FROM iv JOIN events e ON e.ts >= iv.t_start AND e.ts < iv.t_end
       GROUP BY interval_id ORDER BY interval_id""",
    "range join via time-binned equi-join (no BroadcastNestedLoop): "
    "per-interval event rollups",
)
def range_join_interval_stats(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.asof import range_join

    events = _t(spark, sf_dir, "events")
    iv = spark.createDataFrame(
        [
            (1, "2024-01-03 00:00:00", "2024-01-07 12:00:00"),
            (2, "2024-01-10 06:00:00", "2024-01-11 00:00:00"),
            (3, "2024-01-20 00:00:00", "2024-01-28 00:00:00"),
        ],
        "interval_id int, t_start string, t_end string",
    ).select(
        "interval_id",
        F.col("t_start").cast("timestamp").alias("t_start"),
        F.col("t_end").cast("timestamp").alias("t_end"),
    )
    joined = range_join(events, iv, "ts", "t_start", "t_end")
    return (
        joined.groupBy("interval_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("interval_id")
    )


q_sql(
    "daily_moving_stats",
    # ClickHouse runningAccumulate / neighbor() idioms: running cumulative
    # total and a trailing 7-day moving average over the daily count
    # series. Scale shape: the window runs over the PRE-AGGREGATED daily
    # frame (one row per day — hundreds of rows at any corpus size), never
    # the event log; the only full-data pass is the map-side-combinable
    # daily count.
    """WITH d AS (
         SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                count(*) AS n_events
         FROM events GROUP BY 1)
       SELECT day, n_events,
              CAST(sum(n_events) OVER (ORDER BY day
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_total,
              CAST(avg(CAST(n_events AS DOUBLE)) OVER (ORDER BY day
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                   AS DOUBLE) AS ma7
       FROM d ORDER BY day""",
    "running cumulative total + trailing 7-day moving average over daily "
    "counts (runningAccumulate/neighbor parity; window over the tiny "
    "pre-aggregate, never the log)",
)


@q(
    "first_events_per_user",
    # groupArray/groupArraySorted parity: each user's first 5 event types
    # in (ts, event_id) order as one string. Spark side stays FLAT:
    # field extraction over a sorted struct array maps natively (no
    # transform lambda), so collect -> sort -> slice -> join is all
    # codegen-able expression work over one grouped pass.
    """SELECT user_id,
              array_to_string(
                (list(event_type ORDER BY ts, event_id))[1:5], ','
              ) AS first5
       FROM events WHERE user_id < 20
       GROUP BY user_id ORDER BY user_id""",
    "groupArraySorted parity: per-user ordered event-type prefix as a "
    "deterministic joined string",
)
def first_events_per_user(spark, sf_dir):
    seq = (
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        )
        .getField("event_type")
    )
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 20)
        .groupBy("user_id")
        .agg(F.concat_ws(",", F.slice(seq, 1, 5)).alias("first5"))
        .orderBy("user_id")
    )


q_sql(
    "value_histogram",
    # ClickHouse histogram()-style distribution report, pinned to fixed
    # bins so it is deterministic (CH's adaptive bins are not): 10 equal
    # buckets over [0, 1000) + the overflow bucket, spelled as
    # width_bucket(v, 0, 1000, 10)'s contract (bucket 0 under-range, 11
    # over-range, else floor(v/100)+1) because DuckDB has no
    # width_bucket; one map-side-combinable aggregate.
    """WITH v AS (SELECT CAST(value AS DOUBLE) AS v FROM events)
       SELECT CASE WHEN v < 0 THEN 0
                   WHEN v >= 1000 THEN 11
                   ELSE CAST(floor(v / 100) AS BIGINT) + 1 END AS bucket,
              count(*) AS cnt,
              CAST(min(v) AS DOUBLE) AS lo,
              CAST(max(v) AS DOUBLE) AS hi
       FROM v GROUP BY bucket ORDER BY bucket""",
    "fixed-bin value histogram in width_bucket's bins (histogram() "
    "parity, deterministic bins)",
)


@q(
    "value_percentiles_by_type",
    # EXACT percentiles (Spark `percentile`, DuckDB `quantile_cont` — both
    # linear-interpolation on the sorted set, so values agree bit-for-bit
    # modulo the round(6)). The approx sketch (approx_percentile/KLL) is
    # the 100 TB path but is engine-specific by construction — the exact
    # form is what the oracle can gate.
    """SELECT event_type,
              round(quantile_cont(value, 0.5), 6) AS p50,
              round(quantile_cont(value, 0.9), 6) AS p90,
              round(quantile_cont(value, 0.99), 6) AS p99
       FROM events GROUP BY event_type ORDER BY event_type""",
    "exact value percentiles per event type (median / p90 / p99)",
)
def value_percentiles_by_type(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
            F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
            F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
        )
        .orderBy("event_type")
    )


_APPROX_PCT_ACC = 1000  # Spark guarantee: rank error <= n/accuracy


@q(
    "approx_percentile_bound_cert",
    # Certification oracle (the embedding_ivf_recall pattern): the
    # approx sketch (percentile_approx, a mergeable single-pass KLL-
    # style summary — the 100 TB path that replaces the exact form's
    # full per-group sort) is engine-specific by construction, so the
    # oracle can't reproduce its VALUE; instead the Spark side verifies
    # Spark's documented rank-error guarantee (<= n/accuracy) against
    # the EXACT ranks computed from the same scan, and the oracle pins
    # the claim: every group must certify within-bounds at both
    # quantiles. A sketch regression (or a broken guarantee after a
    # version bump) flips a boolean and the driver hash diverges.
    """SELECT event_type,
              true AS within_p50,
              true AS within_p90
       FROM events GROUP BY event_type ORDER BY event_type""",
    "approx-percentile rank-error certification: percentile_approx "
    "(mergeable sketch, no per-group sort) verified within its "
    "documented n/accuracy rank bound against exact ranks",
)
def approx_percentile_bound_cert(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    ap = ev.groupBy("event_type").agg(
        F.percentile_approx(
            "value", [0.5, 0.9], _APPROX_PCT_ACC
        ).alias("ap"),
        F.count("*").alias("n"),
    )
    eps = 1.0 / _APPROX_PCT_ACC
    j = ev.join(F.broadcast(ap), "event_type")

    def within(p: float, idx: int):
        a = F.col("ap")[idx]
        lt = F.sum(F.when(F.col("value") < a, 1).otherwise(0))
        le = F.sum(F.when(F.col("value") <= a, 1).otherwise(0))
        lo = F.floor((p - eps) * F.col("n"))
        hi = F.ceil((p + eps) * F.col("n"))
        return (le >= lo) & (lt <= hi)

    return (
        j.groupBy("event_type", "n")
        .agg(
            within(0.5, 0).alias("within_p50"),
            within(0.9, 1).alias("within_p90"),
        )
        .select("event_type", "within_p50", "within_p90")
        .orderBy("event_type")
    )


@q(
    "priority_sample_by_length",
    # Priority sampling (Duffield-Lund-Thorup) with a deterministic
    # hash uniform: q = w / ((hx+1)/2^32), top-200 by q. Single
    # correctly-rounded IEEE divisions both sides, so the member set is
    # engine-exact; per-source accounting certified.
    """WITH p AS (SELECT doc_id, source, n_chars,
                         CAST(n_chars AS DOUBLE)
                           / ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                               1, 8))::BIGINT + 1.0)
                              / 4294967296.0) AS priority
                  FROM documents),
       win AS (SELECT * FROM p
               ORDER BY priority DESC, doc_id LIMIT 200)
       SELECT source, count(*) AS n_sampled,
              CAST(sum(n_chars) AS BIGINT) AS weight_sampled
       FROM win GROUP BY source ORDER BY source""",
    "priority sampling (weighted, without replacement, deterministic): "
    "length-weighted top-200 draw, per-source accounting",
)
def priority_sample_by_length(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.sampling import (
        priority_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    win = priority_sample(docs, "doc_id", "n_chars", k=200)
    return (
        win.groupBy("source")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("n_chars").alias("weight_sampled"),
        )
        .orderBy("source")
    )


@q(
    "duplicate_metadata_conflicts",
    # Label-noise audit over exact-duplicate groups: identical text
    # should not carry conflicting metadata. Counts duplicate hash
    # groups and how many disagree on lang / source (fixture truth:
    # duplicates are within-source, so the conflict counts certify 0 —
    # a regression that plants conflicting clones flips them).
    """WITH g AS (SELECT md5(text) AS h, count(*) AS n,
                         count(DISTINCT lang) AS n_lang,
                         count(DISTINCT source) AS n_src
                  FROM documents GROUP BY md5(text))
       SELECT CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_dup_groups,
              CAST(sum(CASE WHEN n > 1 AND n_lang > 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS lang_conflicts,
              CAST(sum(CASE WHEN n > 1 AND n_src > 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS source_conflicts
       FROM g""",
    "label-noise audit: exact-duplicate groups with conflicting lang "
    "or source metadata",
)
def duplicate_metadata_conflicts(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    g = docs.groupBy(D.content_hash("text").alias("h")).agg(
        F.count("*").alias("n"),
        F.countDistinct("lang").alias("n_lang"),
        F.countDistinct("source").alias("n_src"),
    )
    return g.agg(
        F.sum((F.col("n") > 1).cast("long")).alias("n_dup_groups"),
        F.sum(((F.col("n") > 1) & (F.col("n_lang") > 1)).cast("long")).alias(
            "lang_conflicts"
        ),
        F.sum(((F.col("n") > 1) & (F.col("n_src") > 1)).cast("long")).alias(
            "source_conflicts"
        ),
    )


q_sql(
    "revenue_by_part_type",
    # Q14-shape dimension join: lineitem revenue rolled up by part
    # type; the part dimension broadcasts (hint-free, AQE size-based).
    # DECIMAL-exact revenue per the house determinism rule.
    """SELECT p.p_type,
              CAST(count(*) AS BIGINT) AS n_lines,
              CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l.l_discount AS DECIMAL(18,2))))
                        AS DECIMAL(28,4)) AS DOUBLE) AS revenue
       FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
       GROUP BY p.p_type ORDER BY p.p_type""",
    "revenue by part type: fact-to-dimension broadcast join with "
    "decimal-exact revenue",
)


@q(
    "value_mad_by_type",
    # Robust dispersion: median absolute deviation per event type.
    # Both engines interpolate the exact median identically
    # (percentile == quantile_cont), so MAD is deterministic; one
    # 6-decimal round at the boundary.
    """WITH m AS (SELECT event_type,
                         quantile_cont(value, 0.5) AS med
                  FROM events GROUP BY event_type)
       SELECT e.event_type,
              round(min(m.med), 6) + 0 AS median_v,
              round(quantile_cont(abs(e.value - m.med), 0.5), 6) + 0
                AS mad
       FROM events e JOIN m ON m.event_type = e.event_type
       GROUP BY e.event_type ORDER BY e.event_type""",
    "median absolute deviation of value per event type (robust "
    "dispersion; exact interpolated medians)",
)
def value_mad_by_type(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    m = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    return (
        ev.join(m, "event_type")
        .groupBy("event_type")
        .agg(
            (F.round(F.min("med"), 6) + F.lit(0.0)).alias("median_v"),
            (
                F.round(
                    F.percentile(
                        F.abs(F.col("value") - F.col("med")), F.lit(0.5)
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("mad"),
        )
        .orderBy("event_type")
    )


@q(
    "orders_monthly_growth",
    # runningDifference / neighbor idiom: month-over-month growth of
    # order counts via lag over the tiny monthly pre-aggregate (the
    # window never sees the fact table). Growth is an exact integer
    # difference; the rate is one rounded division.
    """WITH m AS (SELECT date_trunc('month', o_orderdate) AS month,
                         count(*) AS n_orders
                  FROM orders GROUP BY 1)
       SELECT CAST(month AS TIMESTAMP) AS month, n_orders,
              CAST(n_orders - lag(n_orders) OVER (ORDER BY month)
                   AS BIGINT) AS mom_delta,
              round(CAST(n_orders AS DOUBLE)
                    / lag(n_orders) OVER (ORDER BY month) - 1, 6) + 0
                AS mom_rate
       FROM m ORDER BY month""",
    "month-over-month order growth: lag over the monthly pre-aggregate "
    "(the neighbor idiom; fact table never enters the window)",
)
def orders_monthly_growth(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(F.count("*").alias("n_orders"))
    w = Window.orderBy("month")
    prev = F.lag("n_orders").over(w)
    return m.select(
        "month",
        "n_orders",
        (F.col("n_orders") - prev).cast("long").alias("mom_delta"),
        (
            F.round(
                F.col("n_orders").cast("double") / prev - 1, 6
            )
            + F.lit(0.0)
        ).alias("mom_rate"),
    ).orderBy("month")


@q(
    "event_share_of_total",
    # ratio_to_report analogue: each type's share of all events — the
    # total rides a 1-row broadcast cross join, not a window over the
    # fact table.
    """SELECT event_type, count(*) AS cnt,
              round(CAST(count(*) AS DOUBLE)
                    / (SELECT count(*) FROM events), 6) + 0 AS share
       FROM events GROUP BY event_type ORDER BY event_type""",
    "percent-of-total per event type (ratio_to_report analogue via "
    "1-row broadcast total)",
)
def event_share_of_total(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    total = ev.agg(F.count("*").alias("__tot"))
    return (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(total))
        .select(
            "event_type",
            "cnt",
            (
                F.round(
                    F.col("cnt").cast("double") / F.col("__tot"), 6
                )
                + F.lit(0.0)
            ).alias("share"),
        )
        .orderBy("event_type")
    )


q_sql(
    "user_entropy_bands",
    # Per-user Shannon entropy of the event-type mix (behavioral
    # diversity), banded around the fixture's quartiles (near-uniform
    # 5-type mixes sit in [1.50, 1.61] nats). Float determinism via the
    # lm.py pattern:
    # each -p*ln(p) term rounds to 6dp and sums as DECIMAL, so the
    # per-user entropy is exact and ordering-independent; the band
    # comparison then happens on an exact value.
    """WITH c AS (SELECT user_id, event_type, count(*) AS n
                  FROM events GROUP BY user_id, event_type),
       t AS (SELECT user_id, CAST(sum(n) AS DOUBLE) AS tot
             FROM c GROUP BY user_id),
       e AS (SELECT c.user_id,
                    CAST(sum(CAST(round(
                        -(n / tot) * ln(n / tot), 6) AS DECIMAL(18,6)))
                      AS DOUBLE) AS h
             FROM c JOIN t ON t.user_id = c.user_id
             GROUP BY c.user_id)
       SELECT CASE WHEN h < 1.568 THEN 'low'
                   WHEN h < 1.597 THEN 'mid'
                   ELSE 'high' END AS band,
              count(*) AS n_users,
              round(min(h), 6) + 0 AS min_h,
              round(max(h), 6) + 0 AS max_h
       FROM e GROUP BY 1 ORDER BY band""",
    "behavioral diversity: per-user event-type Shannon entropy, "
    "banded (decimal-exact term summation)",
)


@q(
    "events_by_dow_hour",
    # BI heatmap staple: activity by day-of-week x hour. Engines number
    # weekdays differently (DuckDB dow 0=Sunday, Spark dayofweek
    # 1=Sunday), so both sides are normalized to ISO 1=Monday..7=Sunday
    # explicitly.
    """SELECT CAST(isodow(ts) AS INTEGER) AS dow,
              CAST(hour(ts) AS INTEGER) AS hod,
              count(*) AS cnt,
              CAST(count(DISTINCT user_id) AS BIGINT) AS users
       FROM events GROUP BY 1, 2 ORDER BY dow, hod""",
    "day-of-week x hour activity heatmap (ISO weekday numbering "
    "normalized on both engines)",
)
def events_by_dow_hour(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    # Spark dayofweek: 1=Sunday..7=Saturday -> ISO 1=Monday..7=Sunday
    iso = ((F.dayofweek("ts") + 5) % 7 + 1).cast("int")
    return (
        ev.groupBy(
            iso.alias("dow"), F.hour("ts").cast("int").alias("hod")
        )
        .agg(
            F.count("*").alias("cnt"),
            F.countDistinct("user_id").alias("users"),
        )
        .orderBy("dow", "hod")
    )


@q(
    "doc_length_magnitude_histogram",
    # order-of-magnitude length histogram with INTEGER-EXACT bins: the
    # bin is the token count's decimal digit count (log10 buckets
    # without touching floating-point log, which is not correctly
    # rounded and can flip exact-power boundaries across libms).
    """SELECT length(CAST(len(string_split(text, ' ')) AS VARCHAR))
                AS magnitude,
              count(*) AS n_docs,
              CAST(min(len(string_split(text, ' '))) AS BIGINT)
                AS min_tokens,
              CAST(max(len(string_split(text, ' '))) AS BIGINT)
                AS max_tokens
       FROM documents GROUP BY 1 ORDER BY magnitude""",
    "document-length histogram in order-of-magnitude (digit-count) "
    "bins — integer-exact, no floating log",
)
def doc_length_magnitude_histogram(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    n = F.size(D.tokens("text"))
    return (
        docs.select(
            F.length(n.cast("string")).alias("magnitude"),
            n.alias("__n"),
        )
        .groupBy("magnitude")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("__n").cast("long").alias("min_tokens"),
            F.max("__n").cast("long").alias("max_tokens"),
        )
        .orderBy("magnitude")
    )


@q(
    "ngram_diversity_by_source",
    # n-gram diversity (distinct-N / type-token ratio at n = 1,2,3):
    # the standard repetitiveness probe for detecting low-diversity or
    # machine-generated corpus slices. Integer counts + one 6-decimal
    # ratio per n; one scan per n over the same token table.
    """WITH d AS (SELECT source, string_split(text, ' ') AS wl
                  FROM documents),
       u AS (SELECT source, 1 AS n, count(*) AS total,
                    count(DISTINCT w) AS uniq
             FROM (SELECT source, unnest(wl) AS w FROM d) GROUP BY source),
       b AS (SELECT source, 2 AS n, count(*) AS total,
                    count(DISTINCT g) AS uniq
             FROM (SELECT source,
                          list_aggregate(wl[i:i+1], 'string_agg', ' ') AS g
                   FROM d, (SELECT unnest(range(1, 100000)) AS i) idx
                   WHERE i <= len(wl) - 1) GROUP BY source),
       t AS (SELECT source, 3 AS n, count(*) AS total,
                    count(DISTINCT g) AS uniq
             FROM (SELECT source,
                          list_aggregate(wl[i:i+2], 'string_agg', ' ') AS g
                   FROM d, (SELECT unnest(range(1, 100000)) AS i) idx
                   WHERE i <= len(wl) - 2) GROUP BY source)
       SELECT source, n, CAST(total AS BIGINT) AS total_ngrams,
              CAST(uniq AS BIGINT) AS distinct_ngrams,
              round(CAST(uniq AS DOUBLE) / total, 6) + 0 AS diversity
       FROM (SELECT * FROM u UNION ALL SELECT * FROM b
             UNION ALL SELECT * FROM t)
       ORDER BY source, n""",
    "n-gram diversity (distinct-N at n=1,2,3) per source: the "
    "repetitiveness probe for low-diversity corpus slices",
)
def ngram_diversity_by_source(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")

    def level(n):
        # token array projected first — see word_shingles for why
        grams = (
            F.col("__tk") if n == 1 else D.ngram_array(F.col("__tk"), n)
        )
        occ = (
            D.spread(docs)
            .select("source", D.tokens("text").alias("__tk"))
            .select("source", F.explode(grams).alias("g"))
            .filter(F.col("g").isNotNull())
        )
        return occ.groupBy("source").agg(
            F.lit(n).alias("n"),
            F.count("*").alias("total_ngrams"),
            F.countDistinct("g").alias("distinct_ngrams"),
        )

    out = level(1).unionByName(level(2)).unionByName(level(3))
    return out.select(
        "source",
        "n",
        "total_ngrams",
        "distinct_ngrams",
        (
            F.round(
                F.col("distinct_ngrams").cast("double")
                / F.col("total_ngrams"),
                6,
            )
            + F.lit(0.0)
        ).alias("diversity"),
    ).orderBy("source", "n")


@q(
    "priority_sample_estimator",
    # The priority-sampling subset-sum estimator (Horvitz-Thompson with
    # threshold tau = the (k+1)-th priority): sum(max(w, tau)) over the
    # top-k is unbiased for the true total. Everything is hash-
    # deterministic, so the ORACLE REPRODUCES THE ESTIMATE EXACTLY —
    # a value-certified estimator, not just a bound.
    """WITH p AS (SELECT doc_id, n_chars,
                         CAST(n_chars AS DOUBLE)
                           / ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                               1, 8))::BIGINT + 1.0)
                              / 4294967296.0) AS priority
                  FROM documents),
       r AS (SELECT doc_id, n_chars, priority,
                    row_number() OVER (ORDER BY priority DESC, doc_id)
                      AS rn
             FROM p),
       tau AS (SELECT priority AS t FROM r WHERE rn = 201),
       win AS (SELECT n_chars FROM r WHERE rn <= 200)
       SELECT CAST((SELECT count(*) FROM win) AS BIGINT) AS k,
              CAST((SELECT sum(n_chars) FROM documents) AS BIGINT)
                AS true_total,
              round((SELECT sum(greatest(CAST(n_chars AS DOUBLE),
                                         (SELECT t FROM tau)))
                     FROM win), 4) + 0 AS ht_estimate""",
    "priority-sampling subset-sum estimator: Horvitz-Thompson estimate "
    "of total corpus weight from the top-200 draw, value-certified",
)
def priority_sample_estimator(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    hx = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("double")
    u = (hx + F.lit(1.0)) / F.lit(float(16**8))
    p = docs.select(
        "doc_id",
        "n_chars",
        (F.col("n_chars").cast("double") / u).alias("priority"),
    )
    # top-201 FIRST via TakeOrderedAndProject (per-partition heaps) —
    # the global rank window then runs over 201 rows, never the corpus
    top = p.orderBy(F.col("priority").desc(), F.col("doc_id")).limit(201)
    w = Window.orderBy(F.col("priority").desc(), F.col("doc_id"))
    r = top.withColumn("rn", F.row_number().over(w))
    tau = r.filter(F.col("rn") == 201).select(
        F.col("priority").alias("t")
    )
    win = r.filter(F.col("rn") <= 200).crossJoin(F.broadcast(tau))
    true_total = docs.agg(F.sum("n_chars").alias("true_total"))
    est = win.agg(
        F.count("*").alias("k"),
        (
            F.round(
                F.sum(
                    F.greatest(F.col("n_chars").cast("double"), F.col("t"))
                ),
                4,
            )
            + F.lit(0.0)
        ).alias("ht_estimate"),
    )
    return est.crossJoin(true_total).select("k", "true_total", "ht_estimate")


@q(
    "hourly_event_windows",
    # Batch tumbling-window aggregation (the batch twin of the
    # streaming monitoring agg): Spark window(ts, '1 hour') == DuckDB
    # time_bucket. Top-24 busiest hours, window-start tie-break.
    """WITH w AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
                         count(*) AS n_events,
                         count(DISTINCT user_id) AS n_users
                  FROM events GROUP BY 1)
       SELECT CAST(window_start AS TIMESTAMP) AS window_start,
              n_events, CAST(n_users AS BIGINT) AS n_users
       FROM w ORDER BY n_events DESC, window_start LIMIT 24""",
    "tumbling 1-hour windows over the event log (batch twin of the "
    "streaming monitoring aggregate): top-24 busiest hours",
)
def hourly_event_windows(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.col("w.start").alias("window_start"), "n_events", "n_users"
        )
        .orderBy(F.col("n_events").desc(), "window_start")
        .limit(24)
    )


@q(
    "dedup_incremental_batch",
    # Daily-ingest dedup pattern: a new batch (doc_id % 3 = 0) dedups
    # against the HISTORICAL fingerprint store (hashes of everything
    # else — hashes only, bodies never re-read), then against itself
    # keep-lowest-id. Reported per source: batch size, store-survivor
    # count, final survivors.
    """WITH b AS (SELECT doc_id, source, md5(text) AS h
                  FROM documents WHERE doc_id % 3 = 0),
       hist AS (SELECT DISTINCT md5(text) AS h
                FROM documents WHERE doc_id % 3 <> 0),
       fresh AS (SELECT b.doc_id, b.source, b.h
                 FROM b LEFT JOIN hist ON b.h = hist.h
                 WHERE hist.h IS NULL),
       surv AS (SELECT doc_id, source FROM (
                  SELECT doc_id, source, row_number() OVER (
                           PARTITION BY h ORDER BY doc_id) AS rn
                  FROM fresh) WHERE rn = 1),
       bc AS (SELECT source, count(*) AS n_batch FROM b GROUP BY source),
       fc AS (SELECT source, count(*) AS n_fresh FROM fresh
              GROUP BY source),
       sc AS (SELECT source, count(*) AS n_survivors FROM surv
              GROUP BY source)
       SELECT bc.source, CAST(bc.n_batch AS BIGINT) AS n_batch,
              CAST(coalesce(fc.n_fresh, 0) AS BIGINT) AS n_fresh,
              CAST(coalesce(sc.n_survivors, 0) AS BIGINT) AS n_survivors
       FROM bc
       LEFT JOIN fc ON fc.source = bc.source
       LEFT JOIN sc ON sc.source = bc.source
       ORDER BY bc.source""",
    "incremental dedup accounting: new batch vs historical fingerprint "
    "store (hash-only anti-join), then in-batch keep-lowest-id",
)
def dedup_incremental_batch(spark, sf_dir):
    from pyspark import StorageLevel

    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    # the store and the hashed batch each feed TWO branches (the fresh
    # accounting and the operator under test); Catalyst only reuses
    # identical subplans when persisted, so without these the store
    # distinct and the batch scan+md5 executed twice each (r15
    # optimization round — 10 parquet scans in the before-plan; same
    # caller-owned-cache contract as minhash_lsh_dedup)
    store = (
        docs.filter(F.col("doc_id") % 3 != 0)
        .select(D.content_hash("text").alias("h"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    hashed = batch.withColumn(
        "__content_hash", D.content_hash("text")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    fresh = hashed.join(
        store.select(F.col("h").alias("__content_hash")),
        "__content_hash",
        "left_anti",
    )
    # dedup_incremental recomputes __content_hash over the cached frame
    # (deterministic, withColumn replaces in place) — the cache covers
    # the scan and the md5, the operator's own joins stay under test
    surv = D.dedup_incremental(hashed, store, "doc_id", "text")
    bc = hashed.groupBy("source").agg(F.count("*").alias("n_batch"))
    fc = fresh.groupBy("source").agg(F.count("*").alias("n_fresh"))
    sc = surv.groupBy("source").agg(F.count("*").alias("n_survivors"))
    return (
        bc.join(fc, "source", "left")
        .join(sc, "source", "left")
        .select(
            "source",
            "n_batch",
            F.coalesce(F.col("n_fresh"), F.lit(0)).alias("n_fresh"),
            F.coalesce(F.col("n_survivors"), F.lit(0)).alias(
                "n_survivors"
            ),
        )
        .orderBy("source")
    )


q_sql(
    "clicker_purchaser_intersect",
    # INTERSECT / EXCEPT set-op surface (§2.7): users who both clicked
    # and purchased, and users who viewed but never purchased. Both
    # compile to semi/anti joins over pre-aggregated key sets — the
    # set ops see one row per user, never the event log.
    """WITH ck AS (SELECT DISTINCT user_id FROM events
                   WHERE event_type = 'click'),
       pu AS (SELECT DISTINCT user_id FROM events
              WHERE event_type = 'purchase'),
       vw AS (SELECT DISTINCT user_id FROM events
              WHERE event_type = 'view')
       SELECT CAST((SELECT count(*) FROM (SELECT * FROM ck
                    INTERSECT SELECT * FROM pu)) AS BIGINT)
                AS click_and_purchase,
              CAST((SELECT count(*) FROM (SELECT * FROM vw
                    EXCEPT SELECT * FROM pu)) AS BIGINT)
                AS view_never_purchase""",
    "set-op funnel: INTERSECT (clicked AND purchased) and EXCEPT "
    "(viewed but never purchased) user counts",
)


@q(
    "daily_counts_gapfilled",
    # ClickHouse `WITH FILL` analogue: the calendar spine is generated
    # from the log's min/max day (a 1-row aggregate exploded — never a
    # driver loop), left-joined to the daily pre-aggregate, zeros
    # filled. Output is days-sized regardless of log size.
    """WITH days AS (
         SELECT unnest(generate_series(
                  date_trunc('day', (SELECT min(ts) FROM events)),
                  date_trunc('day', (SELECT max(ts) FROM events)),
                  INTERVAL 1 DAY)) AS day),
       daily AS (SELECT date_trunc('day', ts) AS day,
                        count(*) AS cnt
                 FROM events GROUP BY 1)
       SELECT CAST(d.day AS TIMESTAMP) AS day,
              CAST(coalesce(daily.cnt, 0) AS BIGINT) AS cnt,
              coalesce(daily.cnt, 0) = 0 AS gap_filled
       FROM days d LEFT JOIN daily ON daily.day = d.day
       ORDER BY day""",
    "gap-filled daily event counts (WITH FILL analogue): calendar "
    "spine from the log range, missing days zero-filled and flagged",
)
def daily_counts_gapfilled(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("day", F.min("ts")).alias("lo"),
        F.date_trunc("day", F.max("ts")).alias("hi"),
    )
    days = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count("*").alias("cnt")
    )
    return (
        days.join(daily, "day", "left")
        .select(
            "day",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
            (F.coalesce(F.col("cnt"), F.lit(0)) == 0).alias("gap_filled"),
        )
        .orderBy("day")
    )


q_sql(
    "customers_inactive_since",
    # NOT EXISTS as a left ANTI join (never a correlated re-scan):
    # customers with no order on/after 2000-01-01. The filter pushes to
    # the orders scan before the join.
    """SELECT c.c_custkey, c.c_name,
              round(c.c_acctbal, 2) AS acctbal
       FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_custkey = c.c_custkey
                           AND o.o_orderdate >= TIMESTAMP '2000-01-01')
       ORDER BY c.c_custkey""",
    "anti-join churn probe: customers with no order since 2000",
)


q_sql(
    "urgent_customers_by_segment",
    # EXISTS as a left SEMI join: per market segment, how many customers
    # placed at least one 1-URGENT order. The semi join deduplicates on
    # the build side — no fan-out, no distinct afterwards.
    """SELECT c.c_mktsegment AS segment,
              count(*) AS n_customers
       FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey
                       AND o.o_orderpriority = '1-URGENT')
       GROUP BY c.c_mktsegment ORDER BY segment""",
    "semi-join segmentation: customers with at least one urgent order",
)


q_sql(
    "user_halves_churn",
    # FULL OUTER join of per-user activity in the two halves of the
    # event-log time range: retained / churned / new / reactivation-free
    # accounting. COALESCE carries the key through the outer join.
    """WITH b AS (SELECT CAST(min(ts) AS TIMESTAMP) AS lo,
                         CAST(max(ts) AS TIMESTAMP) AS hi FROM events),
       h1 AS (SELECT user_id, count(*) AS n1 FROM events, b
              WHERE ts < lo + (hi - lo) / 2 GROUP BY user_id),
       h2 AS (SELECT user_id, count(*) AS n2 FROM events, b
              WHERE ts >= lo + (hi - lo) / 2 GROUP BY user_id),
       j AS (SELECT coalesce(h1.user_id, h2.user_id) AS user_id,
                    coalesce(n1, 0) AS n1, coalesce(n2, 0) AS n2
             FROM h1 FULL OUTER JOIN h2 ON h1.user_id = h2.user_id)
       SELECT CAST(sum(CASE WHEN n1 > 0 AND n2 > 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS retained,
              CAST(sum(CASE WHEN n1 > 0 AND n2 = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS churned,
              CAST(sum(CASE WHEN n1 = 0 AND n2 > 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS new_users,
              CAST(sum(n1 + n2) AS BIGINT) AS total_events
       FROM j""",
    "full-outer churn accounting: users retained / churned / new "
    "between the two halves of the log's time range",
)


q_sql(
    "shipping_priority",
    # TPC-H Q3 shape: segment-filtered customer x date-bracketed orders
    # x lineitem revenue, top 10 by revenue. DECIMAL-exact revenue sum
    # (house determinism rule), orderkey tie-break.
    """SELECT l.l_orderkey,
              CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l.l_discount AS DECIMAL(18,2))))
                        AS DECIMAL(28,4)) AS DOUBLE) AS revenue,
              o.o_orderdate, o.o_orderpriority
       FROM customer c
       JOIN orders o ON c.c_custkey = o.o_custkey
       JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       WHERE c.c_mktsegment = 'BUILDING'
         AND o.o_orderdate < TIMESTAMP '1998-01-01'
         AND l.l_shipdate > TIMESTAMP '1998-01-01'
       GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
       ORDER BY revenue DESC, l.l_orderkey LIMIT 10""",
    "TPC-H Q3 shipping priority: top unshipped-revenue orders for one "
    "market segment",
)


q_sql(
    "cube_event_counts",
    # CUBE sibling of the ROLLUP query: all four grouping combinations
    # in one pass. NULLS FIRST ordering spelled on both sides (Spark's
    # asc default is nulls-first, DuckDB's is nulls-last).
    """SELECT event_type, user_id % 5 AS bucket,
              count(*) AS cnt
       FROM events GROUP BY CUBE (event_type, user_id % 5)
       ORDER BY event_type NULLS FIRST, bucket NULLS FIRST""",
    "CUBE over (event_type, user bucket): every subtotal combination "
    "plus the grand total in one pass",
)


q_sql(
    "value_deciles_by_type",
    # ntile(10) deciles with a TOTAL order (value, event_id) so tile
    # boundaries are engine-independent even for equal values.
    """WITH t AS (SELECT event_type, value,
                         ntile(10) OVER (PARTITION BY event_type
                                         ORDER BY value, event_id)
                           AS decile
                  FROM events)
       SELECT event_type, decile, count(*) AS cnt,
              round(min(value), 6) AS min_v,
              round(max(value), 6) AS max_v
       FROM t GROUP BY event_type, decile
       ORDER BY event_type, decile""",
    "ntile(10) value deciles per event type with total-order tie-break",
)


@q(
    "event_type_pivot",
    # Spark's native pivot with an EXPLICIT value list (implicit-list
    # pivot collects the domain on the driver — the explicit list keeps
    # the plan static and the 100 TB path one pass). The oracle spells
    # the same contract as portable conditional aggregation.
    """SELECT user_id % 10 AS bucket,
              CAST(count(*) FILTER (event_type = 'click') AS BIGINT)
                AS click,
              CAST(count(*) FILTER (event_type = 'error') AS BIGINT)
                AS error,
              CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT)
                AS purchase,
              CAST(count(*) FILTER (event_type = 'signup') AS BIGINT)
                AS signup,
              CAST(count(*) FILTER (event_type = 'view') AS BIGINT)
                AS view
       FROM events GROUP BY user_id % 10 ORDER BY bucket""",
    "pivot event-type counts into columns per user bucket (explicit "
    "value list: one pass, no driver-side domain collect)",
)
def event_type_pivot(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = (
        ev.groupBy((F.col("user_id") % 10).alias("bucket"))
        .pivot(
            "event_type", ["click", "error", "purchase", "signup", "view"]
        )
        .count()
    )
    cols = ["click", "error", "purchase", "signup", "view"]
    return out.select(
        "bucket",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in cols],
    ).orderBy("bucket")


@q(
    "approx_percentile_bound",
    # Certification pattern for the KLL/GK sketch (the 100 TB percentile
    # path, engine-specific by construction — cf. approx_distinct_users_
    # bound / topk_words_approx): exact p50/p90 oracle-matched, plus a
    # driver-checkable claim that the approx_percentile(accuracy=10000)
    # estimate lands inside the exact [q-0.01, q+0.01] quantile envelope
    # — rank error <= 1e-4 by the sketch contract, 100x inside the
    # envelope, so the boolean is deterministic.
    """SELECT event_type,
              round(quantile_cont(value, 0.5), 6) AS p50_exact,
              round(quantile_cont(value, 0.9), 6) AS p90_exact,
              TRUE AS p50_within_bound, TRUE AS p90_within_bound
       FROM events GROUP BY event_type ORDER BY event_type""",
    "approximate-percentile certification: exact p50/p90 plus the "
    "sketch estimate certified inside the +-0.01 quantile envelope",
)
def approx_percentile_bound(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50_exact"),
        F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90_exact"),
        F.percentile("value", F.lit(0.49)).alias("__p50_lo"),
        F.percentile("value", F.lit(0.51)).alias("__p50_hi"),
        F.percentile("value", F.lit(0.89)).alias("__p90_lo"),
        F.percentile("value", F.lit(0.91)).alias("__p90_hi"),
        F.percentile_approx("value", F.lit(0.5), F.lit(10000)).alias(
            "__a50"
        ),
        F.percentile_approx("value", F.lit(0.9), F.lit(10000)).alias(
            "__a90"
        ),
    )
    return agg.select(
        "event_type",
        "p50_exact",
        "p90_exact",
        (
            (F.col("__a50") >= F.col("__p50_lo"))
            & (F.col("__a50") <= F.col("__p50_hi"))
        ).alias("p50_within_bound"),
        (
            (F.col("__a90") >= F.col("__p90_lo"))
            & (F.col("__a90") <= F.col("__p90_hi"))
        ).alias("p90_within_bound"),
    ).orderBy("event_type")


q_sql(
    "conditional_aggregates",
    # ClickHouse's countIf/sumIf/avgIf idiom (ubiquitous in its dashboards)
    # = ANSI FILTER clause = Spark count_if / sum(when). One pass, one
    # shuffle, all map-side combinable.
    """SELECT user_id % 10 AS user_bucket,
              count(*) FILTER (WHERE event_type = 'INSERT') AS n_inserts,
              count(*) FILTER (WHERE event_type = 'DELETE') AS n_deletes,
              CAST(coalesce(sum(CAST(value AS DECIMAL(28,6)))
                     FILTER (WHERE value > 100), 0) AS DOUBLE) AS big_value_sum
       FROM events GROUP BY user_id % 10 ORDER BY user_bucket""",
    "countIf/sumIf conditional aggregation (ClickHouse idiom -> count_if/"
    "sum(when)): single-pass multi-predicate rollup",
)


@q(
    "argmax_event_per_user",
    # ClickHouse's argMax(col, ts) — THE latest-state idiom in its SQL
    # surface — as Spark max_by over a total order. The ordering key is
    # (ts, event_id): unique, so the winner is deterministic on both
    # engines. Oracle via a rank window (structurally different from
    # max_by's single-pass aggregate — cross-validation, not an echo).
    """WITH ranked AS (
         SELECT user_id, event_id, event_type, value,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
         FROM events)
       SELECT user_id, event_id AS last_event_id,
              event_type AS last_event_type,
              round(value, 6) AS last_value
       FROM ranked WHERE rn = 1 AND user_id < 30 ORDER BY user_id""",
    "argMax(col, (ts, event_id)) latest-value lookup per user "
    "(single-pass max_by aggregate, no window sort)",
)
def argmax_event_per_user(spark, sf_dir):
    ordkey = F.struct(F.col("ts"), F.col("event_id"))
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 30)
        .groupBy("user_id")
        .agg(
            F.max_by(F.col("event_id"), ordkey).alias("last_event_id"),
            F.max_by(F.col("event_type"), ordkey).alias("last_event_type"),
            F.round(F.max_by(F.col("value"), ordkey), 6).alias("last_value"),
        )
        .orderBy("user_id")
    )


q_sql(
    "sessionization",
    # gap-based sessions: lag to detect >30min gaps, running sum to number
    # them — identical construction on both engines (deterministic via the
    # (ts, event_id) total order)
    """WITH g AS (
         SELECT user_id, ts, event_id,
                CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS new_s
         FROM events WHERE user_id < 30
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       s AS (
         SELECT user_id,
                sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
         FROM g),
       per_session AS (
         SELECT user_id, session_id, count(*) AS n_events
         FROM s GROUP BY user_id, session_id)
       SELECT user_id, count(*) AS n_sessions,
              max(n_events) AS max_session_events
       FROM per_session GROUP BY user_id ORDER BY user_id""",
    "gap-based sessionization (30 min): per-user session counts via "
    "lag + running-sum windows, one shuffle",
)


@q(
    "session_window_counts",
    # the native session_window operator (streaming twin of `sessionization`)
    # run in batch mode: one row per session with start / end(=last+gap) /
    # size. Oracle rebuilds sessions with the lag+running-sum construction —
    # structurally different algorithm, same sessions (testdata has no
    # exact-30min gaps, where the half-open session_window boundary and the
    # batch `diff > gap` rule would legitimately differ).
    """WITH g AS (
         SELECT user_id, ts, event_id,
                CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS new_s
         FROM events WHERE user_id < 30
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       s AS (
         SELECT user_id, ts,
                sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
         FROM g)
       SELECT user_id, min(ts) AS session_start,
              max(ts) + INTERVAL 30 MINUTE AS session_end,
              count(*) AS n_events
       FROM s GROUP BY user_id, session_id
       ORDER BY user_id, session_start""",
    "native session_window sessions (batch mode of the streaming "
    "sessionizer): per-session start/end/size",
)
def session_window_counts(spark, sf_dir):
    from neo4j_to_clickhouse_spark.streaming import session_counts

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    return session_counts(
        ev, key_col="user_id", time_col="ts", gap="30 minutes"
    ).orderBy("user_id", "session_start")


q_sql(
    "rollup_event_counts",
    # ClickHouse's WITH ROLLUP = ANSI ROLLUP: subtotal rows per event_type
    # and a grand total, one pass. Neither grouping column is nullable in
    # the data, so the NULLs in the output unambiguously mark subtotal
    # levels on both engines.
    """SELECT event_type, user_id % 10 AS user_bucket,
              count(*) AS cnt,
              CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
       FROM events
       GROUP BY ROLLUP (event_type, user_id % 10)
       ORDER BY event_type NULLS FIRST, user_bucket NULLS FIRST""",
    "WITH ROLLUP hierarchy: (type, bucket) -> type subtotals -> grand "
    "total in one aggregation pass",
)


q_sql(
    "window_funnel_steps",
    # ClickHouse windowFunnel parity: deepest strictly-time-ordered
    # signup -> purchase -> error chain per user, where EVERY signup
    # opens a candidate chain and the 48h window is measured from that
    # chain's own start (max over chain starts — greedy-from-earliest
    # underestimates when a later signup's window reaches deeper).
    """WITH c AS (
         SELECT DISTINCT user_id, ts AS t0 FROM events
         WHERE event_type = 'signup'),
       t2 AS (
         SELECT e.user_id, c.t0, min(e.ts) AS t2
         FROM events e JOIN c ON e.user_id = c.user_id
         WHERE e.event_type = 'purchase' AND e.ts > c.t0
           AND e.ts <= c.t0 + INTERVAL 48 HOUR GROUP BY e.user_id, c.t0),
       t3 AS (
         SELECT e.user_id, t2.t0, min(e.ts) AS t3
         FROM events e JOIN t2 ON e.user_id = t2.user_id
         WHERE e.event_type = 'error' AND e.ts > t2.t2
           AND e.ts <= t2.t0 + INTERVAL 48 HOUR GROUP BY e.user_id, t2.t0),
       depths AS (
         SELECT c.user_id,
                max(CASE WHEN t3.t3 IS NOT NULL THEN 3
                         WHEN t2.t2 IS NOT NULL THEN 2 ELSE 1 END)
                  AS funnel_step
         FROM c
         LEFT JOIN t2 ON c.user_id = t2.user_id AND c.t0 = t2.t0
         LEFT JOIN t3 ON c.user_id = t3.user_id AND c.t0 = t3.t0
         GROUP BY c.user_id)
       SELECT funnel_step, count(*) AS n_users
       FROM depths GROUP BY funnel_step ORDER BY funnel_step""",
    "windowFunnel parity: signup -> purchase -> error ordered funnel "
    "within 48h of signup, users per deepest step reached",
)


q_sql(
    "window_funnel_strict_order_steps",
    # strict_order mode: signup -> purchase -> error must be CONSECUTIVE
    # events per user (any interleaved event breaks the chain), within
    # 48h of the chain's signup. Oracle = the same lead-offset reading in
    # DuckDB's window engine (cross-engine, not cross-algorithm: the
    # consecutive-chain semantics pin the construction).
    """WITH e AS (
         SELECT user_id, ts,
                event_type = 'signup' AS m1,
                lead(event_type, 1) OVER w = 'purchase' AS m2,
                lead(event_type, 2) OVER w = 'error' AS m3,
                lead(ts, 1) OVER w AS t2,
                lead(ts, 2) OVER w AS t3
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       d AS (
         SELECT user_id,
                CASE WHEN m1
                      AND coalesce(m2 AND t2 - ts <= INTERVAL 48 HOUR, false)
                      AND coalesce(m3 AND t3 - ts <= INTERVAL 48 HOUR, false)
                     THEN 3
                     WHEN m1
                      AND coalesce(m2 AND t2 - ts <= INTERVAL 48 HOUR, false)
                     THEN 2
                     WHEN m1 THEN 1 ELSE 0 END AS depth
         FROM e),
       f AS (SELECT user_id, max(depth) AS funnel_step
             FROM d GROUP BY user_id HAVING max(depth) >= 1)
       SELECT funnel_step, count(*) AS n_users
       FROM f GROUP BY funnel_step ORDER BY funnel_step""",
    "windowFunnel strict_order parity: consecutive-event funnel via lead "
    "offsets — one window shuffle, no joins",
)


@q(
    "sequence_count_histogram",
    # sequenceCount('(?1).*(?2)') parity: greedy non-overlapping
    # signup-then-purchase matches per user == A-run -> B-run transitions
    # over the A/B-filtered per-user sequence; then the per-count user
    # histogram. Oracle = the same transition counting in DuckDB.
    """WITH l AS (
         SELECT user_id, ts, event_id,
                CASE WHEN event_type = 'signup' THEN 'a'
                     WHEN event_type = 'purchase' THEN 'b' END AS ltr
         FROM events
         WHERE event_type IN ('signup', 'purchase')),
       p AS (
         SELECT user_id, ltr,
                lag(ltr) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
         FROM l),
       m AS (
         SELECT user_id,
                count(*) FILTER (WHERE ltr = 'b' AND prev = 'a') AS n_matches
         FROM p GROUP BY user_id HAVING n_matches >= 1)
       SELECT n_matches, count(*) AS n_users
       FROM m GROUP BY n_matches ORDER BY n_matches""",
    "sequenceCount parity: greedy non-overlapping signup->purchase chains "
    "per user (flat lag transition count, one shuffle of A/B events only)",
)
def sequence_count_histogram(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.analytics import sequence_count

    ev = _t(spark, sf_dir, "events")
    return (
        sequence_count(
            ev,
            F.col("event_type") == "signup",
            F.col("event_type") == "purchase",
            "user_id",
            "ts",
            "event_id",
        )
        .groupBy("n_matches")
        .agg(F.count("*").alias("n_users"))
        .orderBy("n_matches")
    )


q_sql(
    "retention_cohort_counts",
    # ClickHouse retention() parity: users who signed up; of those, how
    # many purchased; and (cond1 AND condN per CH semantics) how many
    # hit an error.
    """WITH per_user AS (
         SELECT user_id,
                max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS c0,
                max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c1,
                max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS c2
         FROM events GROUP BY user_id)
       SELECT count(*) FILTER (WHERE c0 = 1) AS r1,
              count(*) FILTER (WHERE c0 = 1 AND c1 = 1) AS r2,
              count(*) FILTER (WHERE c0 = 1 AND c2 = 1) AS r3
       FROM per_user""",
    "retention() parity: cohort counts for signup / signup+purchase / "
    "signup+error users",
)


@q(
    "lm_quality_by_source",
    # CCNet-style unigram-LM quality scoring: Laplace-smoothed corpus
    # unigram with a top-256 vocabulary cap; per-source OOV rate and
    # mean negative ln-likelihood per token.  Determinism: p is an
    # exact-integer ratio in one double division; per-token ln(p) is
    # rounded to 6 decimals and summed as DECIMAL (ordering-exact);
    # the single double division per output cell happens once, after
    # the exact aggregate (house rule, module docstring).
    r"""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS term
                     FROM documents),
       counts AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
       tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total,
                      count(*) AS v_distinct FROM counts),
       vocab AS (SELECT term, cnt FROM counts
                 ORDER BY cnt DESC, term LIMIT 256),
       scored AS (
         SELECT t.source,
                CASE WHEN v.cnt IS NULL THEN 1 ELSE 0 END AS oov,
                CAST(round(ln(CAST(coalesce(v.cnt, 0) + 1 AS DOUBLE)
                              / CAST(tot.n_total + tot.v_distinct
                                     AS DOUBLE)), 6)
                     AS DECIMAL(28,6)) AS nll
         FROM tok t LEFT JOIN vocab v USING (term) CROSS JOIN tot),
       per_src AS (
         SELECT source, count(*) AS n_tokens,
                CAST(sum(oov) AS BIGINT) AS oov_tokens,
                round(CAST(sum(oov) AS DOUBLE) / count(*), 6) + 0
                  AS oov_rate,
                round(-CAST(sum(nll) AS DOUBLE) / count(*), 6) + 0
                  AS avg_nll
         FROM scored GROUP BY source),
       docs AS (SELECT source, count(*) AS n_docs
                FROM documents GROUP BY source)
       SELECT d.source, d.n_docs,
              coalesce(p.n_tokens, 0) AS n_tokens,
              coalesce(p.oov_tokens, 0) AS oov_tokens,
              p.oov_rate, p.avg_nll
       FROM docs d LEFT JOIN per_src p USING (source)
       ORDER BY d.source""",
    "unigram-LM quality scoring (CCNet-class): per-source OOV rate and "
    "mean NLL/token against a top-V Laplace-smoothed corpus unigram",
)
def lm_quality_by_source(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.lm import lm_quality_report

    return lm_quality_report(
        _t(spark, sf_dir, "documents"), "source", "text", top_v=256
    ).orderBy("source")


@q(
    "repeated_span_stats",
    # Exact substring-dedup signal: 8-token span occurrences appearing
    # in >= 2 distinct documents, rolled up per source; flagging uses
    # the integer comparison n_rep*2 >= n_sp (no float threshold).
    # Spans travel as md5 digests in both engines.
    """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS w
                  FROM documents),
       sp AS (SELECT doc_id, source,
                     md5(list_aggregate(w[i:i+7], 'string_agg', ' '))
                       AS span
              FROM d, (SELECT unnest(range(1, 100000)) AS i) idx
              WHERE i <= len(w) - 7),
       rep AS (SELECT span FROM sp GROUP BY span
               HAVING count(DISTINCT doc_id) >= 2),
       occ AS (SELECT s.doc_id, s.source,
                      CASE WHEN r.span IS NULL THEN 0 ELSE 1 END AS is_rep
               FROM sp s LEFT JOIN rep r USING (span)),
       per_doc AS (SELECT doc_id, source, count(*) AS n_sp,
                          CAST(sum(is_rep) AS BIGINT) AS n_rep
                   FROM occ GROUP BY doc_id, source)
       SELECT source,
              CAST(sum(n_sp) AS BIGINT) AS total_spans,
              CAST(sum(n_rep) AS BIGINT) AS repeated_spans,
              round(CAST(sum(n_rep) AS DOUBLE) / sum(n_sp), 6) + 0
                AS repeated_ratio,
              CAST(sum(CASE WHEN n_rep * 2 >= n_sp THEN 1 ELSE 0 END)
                   AS BIGINT) AS flagged_docs
       FROM per_doc GROUP BY source ORDER BY source""",
    "substring-level dedup audit: cross-document repeated 8-token spans "
    "per source, with majority-repeated document flags",
)
def repeated_span_stats(spark, sf_dir):
    return D.repeated_span_report(
        _t(spark, sf_dir, "documents"), "doc_id", "source", "text", w=8
    )


@q(
    "shard_balance_report",
    # Deterministic training-shard export audit: md5-derived shard ids
    # (first 8 hex chars as an integer, mod 8 — the same hash both
    # engines compute), per-shard doc/token loads, deviation from mean.
    """WITH s AS (
         SELECT CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                                  1, 8)) AS BIGINT) % 8 AS INTEGER)
                  AS shard,
                len(string_split(text, ' ')) AS n_tok
         FROM documents),
       per AS (SELECT shard, count(*) AS n_docs,
                      CAST(sum(n_tok) AS BIGINT) AS n_tokens
               FROM s GROUP BY shard),
       tot AS (SELECT CAST(sum(n_docs) AS DOUBLE) / 8 AS mean_docs
               FROM per)
       SELECT shard, n_docs, n_tokens,
              round(CAST(n_docs AS DOUBLE) / mean_docs - 1, 6) + 0
                AS dev_from_mean
       FROM per CROSS JOIN tot ORDER BY shard""",
    "deterministic global-shuffle export: per-shard balance audit over "
    "md5-assigned shards",
)
def shard_balance_report(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.export import (
        shard_balance_report as report,
    )

    return report(
        _t(spark, sf_dir, "documents"), "doc_id", num_shards=8
    )


# Pre-tokenizer piece pattern: letter runs, digit runs, single
# non-alphanumeric marks — the GPT-2-family pre-tokenizer shape
# restricted (like redact.py) to syntax with identical semantics in
# Java regex (Spark) and RE2 (DuckDB).  Interpolated into BOTH programs
# so the two sides cannot drift.  The whitespace set is an EXPLICIT
# ASCII class, not `\s`: shorthand `\s` is ASCII in Java/RE2 but
# Unicode-aware in Python `re` (U+0085 NEL flipped a hypothesis canary)
# and Java additionally includes \x0B where RE2 does not — an explicit
# class is the only spelling all three engines read identically.
_PRETOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\f\r]"


@q(
    "tokenizer_comparison_by_source",
    # Corpus accounting needs token counts before the tokenizer exists;
    # compare the three standard estimators per source: whitespace
    # tokens, regex pre-tokenizer pieces, chars/4 subword heuristic.
    rf"""SELECT source, count(*) AS n_docs,
              CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                AS ws_tokens,
              CAST(sum(len(regexp_extract_all(text,
                     '{_PRETOKEN_PATTERN}'))) AS BIGINT) AS regex_pieces,
              CAST(sum(CAST(ceil(length(text) / 4.0) AS BIGINT))
                   AS BIGINT) AS subword_est,
              round(CAST(sum(len(regexp_extract_all(text,
                       '{_PRETOKEN_PATTERN}'))) AS DOUBLE)
                    / sum(len(string_split(text, ' '))), 6) + 0
                AS pieces_per_ws_token
       FROM documents GROUP BY source ORDER BY source""",
    "pre-tokenizer sizing: whitespace vs regex-piece vs chars/4 token "
    "estimates per source",
)
def tokenizer_comparison_by_source(spark, sf_dir):
    c = F.col("text")
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(TX.token_count(c)).alias("ws_tokens"),
            F.sum(F.regexp_count(c, F.lit(_PRETOKEN_PATTERN))).alias(
                "regex_pieces"
            ),
            F.sum(TX.subword_estimate(c)).alias("subword_est"),
            (
                F.round(
                    F.sum(
                        F.regexp_count(c, F.lit(_PRETOKEN_PATTERN))
                    ).cast("double")
                    / F.sum(TX.token_count(c)),
                    6,
                )
                + F.lit(0.0)
            ).alias("pieces_per_ws_token"),
        )
        .orderBy("source")
    )


@q(
    "span_dedup_rewrite_stats",
    # Exact substring-dedup REWRITE accounting (Lee et al. 2022): the
    # globally first occurrence of each 8-token span is canonical; all
    # token positions covered by any later occurrence are dropped.
    # Integer-exact; `start` is 0-based both sides (oracle: i-1).
    """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS wl
                  FROM documents),
       tb AS (SELECT doc_id, source, len(wl) AS n_before FROM d),
       sp AS (SELECT doc_id, i - 1 AS start,
                     md5(list_aggregate(wl[i:i+7], 'string_agg', ' '))
                       AS span
              FROM d, (SELECT unnest(range(1, 100000)) AS i) idx
              WHERE i <= len(wl) - 7),
       dup AS (SELECT doc_id, start FROM (
                 SELECT doc_id, start, row_number() OVER (
                          PARTITION BY span ORDER BY doc_id, start) AS rn
                 FROM sp) WHERE rn > 1),
       cov AS (SELECT DISTINCT doc_id, pos FROM (
                 SELECT doc_id, unnest(range(start, start + 8)) AS pos
                 FROM dup)),
       rem AS (SELECT doc_id, count(*) AS n_removed
               FROM cov GROUP BY doc_id),
       per_doc AS (SELECT t.doc_id, t.source, t.n_before,
                          t.n_before - coalesce(r.n_removed, 0) AS n_after
                   FROM tb t LEFT JOIN rem r USING (doc_id))
       SELECT source, count(*) AS n_docs,
              CAST(sum(n_before) AS BIGINT) AS tokens_before,
              CAST(sum(n_after) AS BIGINT) AS tokens_after,
              CAST(sum(CASE WHEN n_after < n_before THEN 1 ELSE 0 END)
                   AS BIGINT) AS docs_modified,
              round(1 - CAST(sum(n_after) AS DOUBLE) / sum(n_before), 6)
                + 0 AS removal_ratio
       FROM per_doc GROUP BY source ORDER BY source""",
    "substring-dedup rewrite accounting: per-source token retention "
    "after removing every non-canonical 8-token span occurrence",
)
def span_dedup_rewrite_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = D.remove_repeated_spans(docs, "doc_id", "text", w=8)
    return (
        out.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens_before").alias("tokens_before"),
            F.sum("n_tokens_after").alias("tokens_after"),
            F.sum(
                (F.col("n_tokens_after") < F.col("n_tokens_before")).cast(
                    "long"
                )
            ).alias("docs_modified"),
            (
                F.round(
                    F.lit(1.0)
                    - F.sum("n_tokens_after").cast("double")
                    / F.sum("n_tokens_before"),
                    6,
                )
                + F.lit(0.0)
            ).alias("removal_ratio"),
        )
        .orderBy("source")
    )


@q(
    "cross_source_span_overlap",
    # Corpus-governance overlap matrix: which sources share verbatim
    # 8-token spans (contamination/copy detection between corpus
    # slices). Distinct (source, span-digest) pairs equi-join on the
    # digest — bodies never shuffle; output is sources² bounded.
    """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS wl
                  FROM documents),
       sp AS (SELECT DISTINCT source,
                     md5(list_aggregate(wl[i:i+7], 'string_agg', ' '))
                       AS h
              FROM d, (SELECT unnest(range(1, 100000)) AS i) idx
              WHERE i <= len(wl) - 7),
       n AS (SELECT source, count(*) AS n_spans FROM sp GROUP BY source),
       pair AS (SELECT a.source AS source_a, b.source AS source_b,
                       count(*) AS shared_spans
                FROM sp a JOIN sp b ON a.h = b.h AND a.source < b.source
                GROUP BY a.source, b.source)
       SELECT source_a, source_b, shared_spans,
              round(CAST(shared_spans AS DOUBLE)
                    / (na.n_spans + nb.n_spans - shared_spans), 6) + 0
                AS jaccard
       FROM pair
       JOIN n na ON na.source = pair.source_a
       JOIN n nb ON nb.source = pair.source_b
       ORDER BY source_a, source_b""",
    "cross-source verbatim-span overlap matrix: shared distinct 8-token "
    "spans and span-set Jaccard per source pair",
)
def cross_source_span_overlap(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    # span digests from the shared Arrow kernel (dedup.span_digest_rows,
    # r15) — same bit-identical md5 digests, 2x the generation speed
    sp = (
        D.span_digest_rows(docs, "doc_id", "text", 8, extras=("source",))
        .select("source", F.col("span").alias("h"))
        .distinct()
    )
    n = sp.groupBy("source").agg(F.count("*").alias("n_spans"))
    a = sp.alias("a")
    b = sp.alias("b")
    pair = (
        a.join(b, "h")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("shared_spans"))
    )
    na = n.select(
        F.col("source").alias("source_a"), F.col("n_spans").alias("na")
    )
    nb = n.select(
        F.col("source").alias("source_b"), F.col("n_spans").alias("nb")
    )
    return (
        pair.join(na, "source_a")
        .join(nb, "source_b")
        .select(
            "source_a",
            "source_b",
            "shared_spans",
            (
                F.round(
                    F.col("shared_spans").cast("double")
                    / (F.col("na") + F.col("nb") - F.col("shared_spans")),
                    6,
                )
                + F.lit(0.0)
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


@q(
    "embedding_quantization_report",
    # uint8 scalar quantization (SQ8) accounting. The code expression is
    # pure IEEE-double arithmetic (sub/div/mul correctly rounded, floor
    # exact) with the SAME association order both sides —
    # ((x-min)/span)*255 + 0.5 — so codes are integer-exact
    # cross-engine; sums/extrema of integer codes are then exact too.
    """WITH flat AS (SELECT generate_subscripts(embedding, 1) - 1 AS dim,
                            CAST(unnest(embedding) AS DOUBLE) AS x
                     FROM embeddings),
       r AS (SELECT dim, min(x) AS vmin, max(x) AS vmax
             FROM flat GROUP BY dim),
       c AS (SELECT f.dim,
                    CASE WHEN vmax = vmin THEN 0
                         ELSE CAST(floor((x - vmin) / (vmax - vmin) * 255
                                         + 0.5) AS BIGINT)
                    END AS code
             FROM flat f JOIN r USING (dim))
       SELECT dim, count(*) AS n_values,
              count(DISTINCT code) AS distinct_codes,
              CAST(min(code) AS BIGINT) AS code_min,
              CAST(max(code) AS BIGINT) AS code_max,
              CAST(sum(code) AS BIGINT) AS code_sum
       FROM c GROUP BY dim ORDER BY dim""",
    "uint8 scalar-quantization (SQ8) profile: per-dimension code "
    "occupancy, extrema, and exact code mass",
)
def embedding_quantization_report(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    codes = S.quantize_embeddings(emb, "vec_id", "embedding")
    return (
        codes.groupBy("dim")
        .agg(
            F.count("*").alias("n_values"),
            F.countDistinct("code").alias("distinct_codes"),
            F.min("code").alias("code_min"),
            F.max("code").alias("code_max"),
            F.sum("code").alias("code_sum"),
        )
        .orderBy("dim")
    )


@q(
    "approx_distinct_users_bound",
    # Certification-pattern oracle (like embedding_ivf_recall): the HLL++
    # estimate itself is engine-specific, so the driver-checkable claim
    # is the BOUND — |approx - exact| / exact <= 5% at rsd=0.01 (5
    # relative-sigma; HLL++ error is tightly concentrated, so this
    # certifies deterministically) — alongside the exact counts.
    """SELECT event_type,
              count(DISTINCT user_id) AS exact_users,
              TRUE AS within_bound
       FROM events GROUP BY event_type ORDER BY event_type""",
    "approximate-distinct certification: exact per-type user counts + "
    "HLL++ (rsd=0.01) relative error certified under 5%",
)
def approx_distinct_users_bound(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.01).alias("__approx"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("__approx") - F.col("exact_users"))
            / F.col("exact_users").cast("double")
            <= F.lit(0.05)
        ).alias("within_bound"),
    ).orderBy("event_type")


@q(
    "state_interval_stats",
    # SCD type-2 history accounting over the event log: consecutive
    # same-state events per user collapse into validity intervals;
    # the last run per user is open (valid_to NULL). Durations are
    # integer microseconds (epoch_us diff) — exact both sides.
    """WITH o AS (SELECT user_id, ts, event_type, event_id,
                CASE WHEN lag(event_type) OVER w IS NULL
                          OR lag(event_type) OVER w <> event_type
                     THEN 1 ELSE 0 END AS chg
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       r AS (SELECT user_id, ts, event_type, chg,
                    sum(chg) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS run
             FROM o),
       p AS (SELECT user_id, run, min(event_type) AS state,
                    min(ts) AS valid_from, count(*) AS n_events
             FROM r GROUP BY user_id, run),
       iv AS (SELECT user_id, state, valid_from, n_events,
                     lead(valid_from) OVER (PARTITION BY user_id
                                            ORDER BY run) AS valid_to
              FROM p)
       SELECT state, count(*) AS n_intervals,
              CAST(sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS open_intervals,
              CAST(sum(CASE WHEN valid_to IS NULL THEN 0
                            ELSE epoch_us(valid_to) - epoch_us(valid_from)
                       END) AS BIGINT) AS closed_duration_us,
              CAST(max(n_events) AS BIGINT) AS max_run_events
       FROM iv GROUP BY state ORDER BY state""",
    "SCD2 state-history accounting: per-state interval counts, open "
    "intervals, closed validity duration (µs), longest run",
)
def state_interval_stats(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.analytics import (
        state_intervals,
    )

    ev = _t(spark, sf_dir, "events")
    iv = state_intervals(ev, "user_id", "ts", "event_type", "event_id")
    dur = F.unix_micros(F.col("valid_to")) - F.unix_micros(
        F.col("valid_from")
    )
    return (
        iv.groupBy("state")
        .agg(
            F.count("*").alias("n_intervals"),
            F.sum(F.col("is_current").cast("long")).alias(
                "open_intervals"
            ),
            F.sum(
                F.when(F.col("valid_to").isNull(), F.lit(0)).otherwise(dur)
            ).alias("closed_duration_us"),
            F.max("n_events").alias("max_run_events"),
        )
        .orderBy("state")
    )


@q(
    "chunking_stats",
    # Sliding-window long-document chunking accounting (window=32,
    # stride=24): starts 0,24,48,… with ceil(max(n-32,0)/24)+1 chunks
    # per n-token doc; all non-last chunks are exactly `window` tokens,
    # the last is n - last_start. Integer-exact both sides.
    """WITH d AS (SELECT doc_id, source,
                         len(string_split(text, ' ')) AS n
                  FROM documents),
       c AS (SELECT doc_id, source, n,
                    CASE WHEN n = 0 THEN 0
                         ELSE (greatest(n - 32, 0) + 23) // 24 + 1
                    END AS k
             FROM d),
       ch AS (SELECT doc_id, source, n,
                     unnest(range(0, k)) * 24 AS start
              FROM c WHERE k > 0),
       t AS (SELECT doc_id, source,
                    least(32, n - start) AS ct
             FROM ch),
       per_doc AS (SELECT doc_id, source,
                          count(*) AS kd,
                          CAST(sum(ct) AS BIGINT) AS toks,
                          CAST(sum(CASE WHEN ct < 32 THEN 1 ELSE 0 END)
                               AS BIGINT) AS short
                   FROM t GROUP BY doc_id, source)
       SELECT source,
              count(*) AS n_docs_chunked,
              CAST(sum(kd) AS BIGINT) AS n_chunks,
              CAST(sum(toks) AS BIGINT) AS chunk_tokens,
              CAST(sum(short) AS BIGINT) AS short_chunks,
              CAST(max(kd) AS BIGINT) AS max_chunks_per_doc
       FROM per_doc GROUP BY source ORDER BY source""",
    "sliding-window chunking accounting: per-source chunk counts, token "
    "amplification, and short-tail chunks at window=32/stride=24",
)
def chunking_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    chunks = TX.chunk_documents(
        docs, "doc_id", "text", window=32, stride=24
    )
    per_doc = chunks.groupBy("doc_id").agg(
        F.count("*").alias("kd"),
        F.sum("n_chunk_tokens").alias("toks"),
        F.sum((F.col("n_chunk_tokens") < 32).cast("long")).alias("short"),
    )
    return (
        per_doc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs_chunked"),
            F.sum("kd").alias("n_chunks"),
            F.sum("toks").alias("chunk_tokens"),
            F.sum("short").alias("short_chunks"),
            F.max("kd").alias("max_chunks_per_doc"),
        )
        .orderBy("source")
    )


# Unrolled-CTE k-means oracle (the PageRank certification trick applied
# to Lloyd iteration): label-mean init -> 2 assignment/update rounds ->
# final assignment.  Plain double sums both sides: ordering noise
# (~1e-13) is 7+ orders below the fixture's measured minimum
# best-vs-second-best assignment margin (>= 3.2e-6 at every iteration,
# sf0.001/0.01/0.1), and the certified outputs are integers plus one
# 4-decimal rounded mean.  `pos` is 1-based here and 0-based in Spark —
# it is only ever an intra-engine join key, never an output.
_KMEANS_ORACLE = """WITH dims AS (
         SELECT vec_id AS id, generate_subscripts(embedding, 1) AS pos,
                CAST(unnest(embedding) AS DOUBLE) AS v
         FROM embeddings),
       lab AS (SELECT vec_id AS id, label AS lbl FROM embeddings),
       c0 AS (SELECT l.lbl AS cell, d.pos, sum(d.v) / count(*) AS c
              FROM dims d JOIN lab l USING (id) GROUP BY l.lbl, d.pos),
       d0 AS (SELECT d.id, c.cell, sum((d.v - c.c) * (d.v - c.c)) AS dist
              FROM dims d JOIN c0 c USING (pos) GROUP BY d.id, c.cell),
       a0 AS (SELECT id, cell FROM (
                SELECT id, cell, row_number() OVER (
                         PARTITION BY id ORDER BY dist, cell) AS rn
                FROM d0) WHERE rn = 1),
       c1 AS (SELECT a.cell, d.pos, sum(d.v) / count(*) AS c
              FROM dims d JOIN a0 a USING (id) GROUP BY a.cell, d.pos),
       d1 AS (SELECT d.id, c.cell, sum((d.v - c.c) * (d.v - c.c)) AS dist
              FROM dims d JOIN c1 c USING (pos) GROUP BY d.id, c.cell),
       a1 AS (SELECT id, cell FROM (
                SELECT id, cell, row_number() OVER (
                         PARTITION BY id ORDER BY dist, cell) AS rn
                FROM d1) WHERE rn = 1),
       c2 AS (SELECT a.cell, d.pos, sum(d.v) / count(*) AS c
              FROM dims d JOIN a1 a USING (id) GROUP BY a.cell, d.pos),
       d2 AS (SELECT d.id, c.cell, sum((d.v - c.c) * (d.v - c.c)) AS dist
              FROM dims d JOIN c2 c USING (pos) GROUP BY d.id, c.cell),
       fin AS (SELECT id, cell, dist FROM (
                 SELECT id, cell, dist, row_number() OVER (
                          PARTITION BY id ORDER BY dist, cell) AS rn
                 FROM d2) WHERE rn = 1)
       SELECT f.cell, count(*) AS n_vecs,
              CAST(sum(CASE WHEN l.lbl = f.cell THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_own_label,
              round(avg(f.dist), 4) + 0 AS mean_dist
       FROM fin f JOIN lab l USING (id)
       GROUP BY f.cell ORDER BY f.cell"""


# PQ oracle: the k-means unrolled-CTE trick with a subspace key threaded
# through (1 Lloyd iteration). Float-stability: min per-(id, sub)
# assignment margin measured 1.5e-7 at sf0.1 (6.9e-6 / 2.7e-6 at the
# smaller SFs, both iterations) — ~6 orders above double-sum ordering
# noise; certified outputs are integers + one 4-decimal rounded mean.
_PQ_ORACLE = """WITH dims AS (
         SELECT id, ((pos - 1) * 4) // D AS sub, pos, v FROM (
           SELECT vec_id AS id, len(embedding) AS D,
                  generate_subscripts(embedding, 1) AS pos,
                  CAST(unnest(embedding) AS DOUBLE) AS v
           FROM embeddings) t),
       lab AS (SELECT vec_id AS id, label AS lbl FROM embeddings),
       c0 AS (SELECT l.lbl AS cell, d.sub, d.pos, sum(d.v) / count(*) AS c
              FROM dims d JOIN lab l USING (id)
              GROUP BY l.lbl, d.sub, d.pos),
       d0 AS (SELECT d.id, c.sub, c.cell,
                     sum((d.v - c.c) * (d.v - c.c)) AS dist
              FROM dims d JOIN c0 c USING (pos)
              GROUP BY d.id, c.sub, c.cell),
       a0 AS (SELECT id, sub, cell FROM (
                SELECT id, sub, cell, row_number() OVER (
                         PARTITION BY id, sub ORDER BY dist, cell) AS rn
                FROM d0) WHERE rn = 1),
       c1 AS (SELECT a.cell, d.sub, d.pos, sum(d.v) / count(*) AS c
              FROM dims d JOIN a0 a ON a.id = d.id AND a.sub = d.sub
              GROUP BY a.cell, d.sub, d.pos),
       d1 AS (SELECT d.id, c.sub, c.cell,
                     sum((d.v - c.c) * (d.v - c.c)) AS dist
              FROM dims d JOIN c1 c USING (pos)
              GROUP BY d.id, c.sub, c.cell),
       fin AS (SELECT id, sub, cell, dist FROM (
                 SELECT id, sub, cell, dist, row_number() OVER (
                          PARTITION BY id, sub ORDER BY dist, cell) AS rn
                 FROM d1) WHERE rn = 1)
       SELECT f.sub, f.cell, count(*) AS n_vecs,
              CAST(sum(CASE WHEN l.lbl = f.cell THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_own_label,
              round(avg(f.dist), 4) + 0 AS mean_dist
       FROM fin f JOIN lab l USING (id)
       GROUP BY f.sub, f.cell ORDER BY f.sub, f.cell"""


@q(
    "embedding_pq_codes",
    _PQ_ORACLE,
    "product quantization (PQ): per-subspace Lloyd codebooks from "
    "label-mean init, certified against an unrolled-CTE oracle",
)
def embedding_pq_codes(spark, sf_dir):
    return S.pq_report(
        _t(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        "label",
        m=4,
        iterations=1,
    )


@q(
    "embedding_pq_adc_recall",
    # ADC is used the way FAISS IndexPQ is used: as a CANDIDATE
    # GENERATOR (shortlist from compressed codes) ahead of exact
    # re-rank. The certifiable contract is recall of the exact
    # euclidean top-10 within the ADC shortlist. The shortlist SCALES
    # WITH THE CORPUS — max(100, N/50), i.e. recall@2% beyond 5k
    # vectors — because a fixed 100 is a shrinking fraction of a
    # growing corpus and its recall legitimately decays (the r11
    # generated-sf0.3/sf1 sweeps caught exactly that: fixed-100 recall
    # fell to min 0.20 / mean 0.545 at 15k vectors, while recall@2%
    # holds mean 0.89 / min 0.6 — a FAISS user grows nprobe/shortlist
    # the same way). Floors (mean>=0.6, min>=0.4) hold with margin at
    # every driver fixture (where max(100, N/50)=100, unchanged) AND
    # at the generated scales; any regression in pq_fit / table build
    # / ADC scoring flips a boolean and hash-fails. (Same
    # certification pattern as embedding_ivf_recall.)
    """SELECT CAST(count(*) AS BIGINT) AS n_queries,
              true AS min_floor_met, true AS mean_floor_met
       FROM embeddings WHERE vec_id < 20""",
    "PQ-ADC recall certification: exact euclidean top-10 inside the "
    "corpus-proportional ADC shortlist (max(100, N/50), m=16) must "
    "clear mean>=0.6 and min>=0.4",
)
def embedding_pq_adc_recall(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 20)
    # contract-bounded count: sizes the shortlist, like the other
    # documented metadata collects (similarity.py)
    shortlist = max(100, emb.count() // 50)
    exact = S.euclidean_topk_flat(emb, qs, k=10).select(
        "query_id", "neighbor_id"
    )
    adc = (
        S.pq_adc_topk(emb, qs, m=16, iterations=1, k=shortlist)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    recall = (
        exact.join(adc, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            (F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.lit(10)).alias(
                "recall"
            )
        )
    )
    return recall.agg(
        F.count("*").alias("n_queries"),
        (F.min("recall") >= 0.4).alias("min_floor_met"),
        (F.avg("recall") >= 0.6).alias("mean_floor_met"),
    )


@q(
    "embedding_kmeans_cells",
    _KMEANS_ORACLE,
    "SemDeDup-style semantic clustering: 2 Lloyd iterations from "
    "label-mean init, certified against an unrolled-CTE oracle",
)
def embedding_kmeans_cells(spark, sf_dir):
    return S.kmeans_cells_report(
        _t(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        "label",
        iterations=2,
    )


# =====================================================================
# Round-7 wave 4 — curation-rule filters, warehouse profiling, and
# mixture planning (north-star LLM-pipeline surface)
# =====================================================================

# Gopher-style document-quality rules (Rae et al. 2021 §A1.1, C4-class
# heuristics), spelled INTEGER-EXACT so both engines agree bit-for-bit:
# - mean token length in [3, 10] is compared multiplicatively
#   (sum_tok_len < 3*n, > 10*n) — no division;
# - the symbol-ratio > 0.1 test is 10*symbols > chars;
# - per-doc token-length sum uses the single-spaced fixture contract
#   (tests/test_fixture_contract.py): sum(len(tok)) == len(text)-(n-1);
# - "low stopword" counts DISTINCT stop-list hits (< 2) via the deduped
#   array intersection both engines implement identically.
_GOPHER_STOPS = (
    "the", "be", "to", "of", "and", "that", "have", "with", "in", "it",
)


@q(
    "gopher_quality_flags",
    f"""SELECT source, count(*) AS n_docs,
              count(*) FILTER (WHERE n_tok < 50 OR n_tok > 2500)
                AS bad_length,
              count(*) FILTER (WHERE sum_tok < 3 * n_tok
                               OR sum_tok > 10 * n_tok) AS bad_mean_len,
              count(*) FILTER (WHERE 10 * symbols > n_chars)
                AS high_symbol,
              count(*) FILTER (WHERE stop_hits < 2) AS low_stopword,
              count(*) FILTER (WHERE NOT (n_tok < 50 OR n_tok > 2500)
                               AND NOT (sum_tok < 3 * n_tok
                                        OR sum_tok > 10 * n_tok)
                               AND NOT (10 * symbols > n_chars)
                               AND NOT (stop_hits < 2)) AS n_clean
       FROM (SELECT source,
                    len(string_split(text, ' ')) AS n_tok,
                    length(text) AS n_chars,
                    length(text) - (len(string_split(text, ' ')) - 1)
                      AS sum_tok,
                    length(text)
                      - length(regexp_replace(text, '[^a-zA-Z0-9 ]',
                                              '', 'g')) AS symbols,
                    len(list_intersect(
                        string_split(lower(text), ' '),
                        {list(_GOPHER_STOPS)!r})) AS stop_hits
             FROM documents)
       GROUP BY source ORDER BY source""",
    "Gopher/C4-class quality-rule filter report per source — every "
    "rule integer-exact (multiplicative mean-length + symbol-ratio "
    "bounds, distinct stop-list hits)",
)
def gopher_quality_flags(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    toks = D.tokens("text")
    n_tok = F.size(toks)
    n_chars = F.length("text")
    # single-spaced fixture contract: token lengths sum to
    # len(text) - (n_tok - 1); pinned in tests/test_fixture_contract.py
    sum_tok = n_chars - (n_tok - F.lit(1))
    symbols = n_chars - F.length(
        F.regexp_replace(F.col("text"), "[^a-zA-Z0-9 ]", "")
    )
    stop_hits = F.size(
        F.array_intersect(
            F.split(F.lower(F.col("text")), " "),
            F.array(*[F.lit(s) for s in _GOPHER_STOPS]),
        )
    )
    bad_length = (n_tok < 50) | (n_tok > 2500)
    bad_mean = (sum_tok < 3 * n_tok) | (sum_tok > 10 * n_tok)
    high_sym = 10 * symbols > n_chars
    low_stop = stop_hits < 2
    flagged = docs.select(
        "source",
        bad_length.alias("f_len"),
        bad_mean.alias("f_mean"),
        high_sym.alias("f_sym"),
        low_stop.alias("f_stop"),
    )
    cnt = lambda c: F.count(F.when(c, F.lit(1)))  # noqa: E731
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            cnt(F.col("f_len")).alias("bad_length"),
            cnt(F.col("f_mean")).alias("bad_mean_len"),
            cnt(F.col("f_sym")).alias("high_symbol"),
            cnt(F.col("f_stop")).alias("low_stopword"),
            cnt(
                ~F.col("f_len") & ~F.col("f_mean")
                & ~F.col("f_sym") & ~F.col("f_stop")
            ).alias("n_clean"),
        )
        .orderBy("source")
    )


@q(
    "column_profile_events",
    # ANALYZE-style one-pass column profiler. Canonical min/max reprs:
    # integers as decimal strings, timestamps as epoch MICROSECONDS
    # (integer-exact; no strftime formatting divergence), doubles
    # rounded to 6dp through DECIMAL(28,6) whose VARCHAR form both
    # engines print identically ("1.500000"), raw strings compared
    # under binary collation on both engines.
    """SELECT * FROM (
       SELECT 'event_id' AS column_name,
              count(*) - count(event_id) AS null_count,
              CAST(count(DISTINCT event_id) AS BIGINT) AS distinct_count,
              CAST(min(event_id) AS VARCHAR) AS min_repr,
              CAST(max(event_id) AS VARCHAR) AS max_repr FROM events
       UNION ALL
       SELECT 'event_type', count(*) - count(event_type),
              CAST(count(DISTINCT event_type) AS BIGINT),
              min(event_type), max(event_type) FROM events
       UNION ALL
       SELECT 'props', count(*) - count(props),
              CAST(count(DISTINCT props) AS BIGINT),
              min(props), max(props) FROM events
       UNION ALL
       SELECT 'ts', count(*) - count(ts),
              CAST(count(DISTINCT ts) AS BIGINT),
              CAST(epoch_us(min(ts)) AS VARCHAR),
              CAST(epoch_us(max(ts)) AS VARCHAR) FROM events
       UNION ALL
       SELECT 'user_id', count(*) - count(user_id),
              CAST(count(DISTINCT user_id) AS BIGINT),
              CAST(min(user_id) AS VARCHAR),
              CAST(max(user_id) AS VARCHAR) FROM events
       UNION ALL
       SELECT 'value', count(*) - count(value),
              CAST(count(DISTINCT value) AS BIGINT),
              CAST(CAST(round(min(value), 6) AS DECIMAL(28,6)) AS VARCHAR),
              CAST(CAST(round(max(value), 6) AS DECIMAL(28,6)) AS VARCHAR)
       FROM events
       ) ORDER BY column_name""",
    "ANALYZE-style column profiler over the event log: null count, "
    "exact distinct count, canonical min/max repr per column — ONE "
    "scan, one aggregate row unpivoted driver-side-free via stack()",
)
def column_profile_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    total = F.count("*")

    def prof(col, min_expr, max_expr, tag):
        return [
            (total - F.count(col)).alias(f"__n_{tag}"),
            F.countDistinct(col).alias(f"__d_{tag}"),
            min_expr.alias(f"__lo_{tag}"),
            max_expr.alias(f"__hi_{tag}"),
        ]

    dec_s = lambda c: F.round(c, 6).cast("decimal(28,6)").cast("string")  # noqa: E731
    aggs = (
        prof("event_id", F.min("event_id").cast("string"),
             F.max("event_id").cast("string"), "event_id")
        + prof("event_type", F.min("event_type"), F.max("event_type"),
               "event_type")
        + prof("props", F.min("props"), F.max("props"), "props")
        + prof("ts", F.unix_micros(F.min("ts")).cast("string"),
               F.unix_micros(F.max("ts")).cast("string"), "ts")
        + prof("user_id", F.min("user_id").cast("string"),
               F.max("user_id").cast("string"), "user_id")
        + prof("value", dec_s(F.min("value")), dec_s(F.max("value")),
               "value")
    )
    one = ev.agg(*aggs)
    cols = ["event_id", "event_type", "props", "ts", "user_id", "value"]
    stack_args = ", ".join(
        f"'{c}', __n_{c}, __d_{c}, __lo_{c}, __hi_{c}" for c in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(column_name, null_count, distinct_count, min_repr, max_repr)"
    ).orderBy("column_name")


q_sql(
    "revenue_forecast",
    # TPC-H Q6 shape: the canonical predicate-pushdown showcase — a
    # one-row answer whose scan must push the shipdate range + discount
    # band + quantity cap down to parquet (plan-guarded in
    # tests/test_plan_shapes.py).
    """SELECT CAST(sum(CAST(l_extendedprice * l_discount
                   AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
              count(*) AS n_rows
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
         AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
         AND l_discount BETWEEN 0.05 AND 0.07
         AND l_quantity < 24""",
    "TPC-H Q6-style revenue forecast: tight multi-predicate scan, "
    "decimal-exact revenue, one-row answer (pushdown showcase)",
)


@q(
    "token_zipf_coverage",
    # Zipf head audit: the top-20 corpus tokens with rank and CUMULATIVE
    # share of all token occurrences — the standard head-coverage probe
    # for tokenizer/vocab sizing. The corpus-wide count is a 1-row
    # broadcast; the rank/cumsum window runs over the 20 surviving rows
    # only (TakeOrderedAndProject, never a full sort).
    """WITH occ AS (SELECT unnest(string_split(text, ' ')) AS tok
                    FROM documents),
       c AS (SELECT tok, count(*) AS cnt FROM occ GROUP BY tok),
       t AS (SELECT count(*) AS tot FROM occ),
       top AS (SELECT tok, cnt FROM c ORDER BY cnt DESC, tok LIMIT 20)
       SELECT CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS INTEGER)
                AS rank,
              tok, cnt,
              round(CAST(sum(cnt) OVER (ORDER BY cnt DESC, tok
                                        ROWS UNBOUNDED PRECEDING)
                         AS DOUBLE) / (SELECT tot FROM t), 6) + 0
                AS cum_share
       FROM top ORDER BY rank""",
    "Zipf head coverage: top-20 tokens with rank and cumulative share "
    "of all occurrences (vocab-sizing probe)",
)
def token_zipf_coverage(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    occ = D.spread(docs).select(F.explode(D.tokens("text")).alias("tok"))
    counts = occ.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = occ.agg(F.count("*").alias("__tot"))
    top = counts.orderBy(F.desc("cnt"), "tok").limit(20)
    w = Window.orderBy(F.desc("cnt"), "tok")
    cum = Window.orderBy(F.desc("cnt"), "tok").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            F.row_number().over(w).alias("rank"),
            "tok",
            "cnt",
            (
                F.round(
                    F.sum("cnt").over(cum).cast("double") / F.col("__tot"),
                    6,
                )
                + F.lit(0.0)
            ).alias("cum_share"),
        )
        .orderBy("rank")
    )


@q(
    "mixture_epochs_plan",
    # Temperature-weighted domain-mixture plan (the data-mixing step of
    # an LLM training pipeline): per source, available whitespace
    # tokens, the alpha=0.5 temperature share, the token allocation out
    # of a 1M budget, and the epoch (repeat) factor that allocation
    # implies. Cross-engine float rule: sqrt shares round to 6dp and
    # normalize/allocate through exact DECIMAL arithmetic, so token
    # targets are integer-identical on both engines.
    """WITH s AS (SELECT source,
                         CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                           AS toks
                  FROM documents GROUP BY source),
       t AS (SELECT CAST(sum(toks) AS DOUBLE) AS tot FROM s),
       w AS (SELECT source, toks,
                    CAST(round(sqrt(toks / tot), 6) AS DECIMAL(18,6))
                      AS w_raw
             FROM s, t),
       n AS (SELECT CAST(sum(w_raw) AS DECIMAL(18,6)) AS w_tot FROM w)
       SELECT source, toks AS tokens_available,
              round(CAST(w_raw AS DOUBLE) / CAST(w_tot AS DOUBLE), 6) + 0
                AS weight,
              CAST(CAST(round(CAST(w_raw AS DOUBLE)
                              / CAST(w_tot AS DOUBLE), 6)
                        AS DECIMAL(18,6)) * 1000000 AS BIGINT)
                AS tokens_target,
              round(CAST(CAST(round(CAST(w_raw AS DOUBLE)
                                    / CAST(w_tot AS DOUBLE), 6)
                              AS DECIMAL(18,6)) * 1000000 AS BIGINT)
                    / CAST(toks AS DOUBLE), 4) + 0 AS epochs_needed
       FROM w, n ORDER BY source""",
    "temperature (alpha=0.5) domain-mixture plan: per-source token "
    "budget allocation and epoch factors, decimal-exact integer targets",
)
def mixture_epochs_plan(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.sum(F.size(D.tokens("text"))).alias("tokens_available")
    )
    t = s.agg(F.sum("tokens_available").cast("double").alias("__tot"))
    w = s.crossJoin(F.broadcast(t)).withColumn(
        "__w_raw",
        F.round(
            F.sqrt(F.col("tokens_available") / F.col("__tot")), 6
        ).cast("decimal(18,6)"),
    )
    n = w.agg(F.sum("__w_raw").cast("decimal(18,6)").alias("__w_tot"))
    share = F.round(
        F.col("__w_raw").cast("double") / F.col("__w_tot").cast("double"),
        6,
    )
    target = (share.cast("decimal(18,6)") * 1000000).cast("long")
    return (
        w.crossJoin(F.broadcast(n))
        .select(
            "source",
            "tokens_available",
            (share + F.lit(0.0)).alias("weight"),
            target.alias("tokens_target"),
            (
                F.round(
                    target / F.col("tokens_available").cast("double"), 4
                )
                + F.lit(0.0)
            ).alias("epochs_needed"),
        )
        .orderBy("source")
    )


q_sql(
    "value_corr_by_type",
    # Pearson correlation between event value and hour-of-day per type,
    # WITHOUT corr(): engine corr() accumulates doubles in partition
    # order (non-deterministic across engines/layouts), so the five
    # moment sums are decimal-exact (terms rounded to 6dp first) and
    # the closed-form combines them in ONE fixed double expression tree
    # — identical inputs, identical operation order, identical result.
    """WITH m AS (SELECT event_type, count(*) AS n,
                         sum(CAST(round(value, 6) AS DECIMAL(28,6)))
                           AS sx,
                         CAST(sum(hour(ts)) AS BIGINT) AS sy,
                         sum(CAST(round(value * hour(ts), 6)
                                  AS DECIMAL(28,6))) AS sxy,
                         sum(CAST(round(value * value, 6)
                                  AS DECIMAL(28,6))) AS sxx,
                         CAST(sum(hour(ts) * hour(ts)) AS BIGINT) AS syy
                  FROM events GROUP BY event_type)
       SELECT event_type, n,
              round((n * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * sy)
                    / (sqrt(n * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                       * sqrt(CAST(n * syy AS DOUBLE) - CAST(sy AS DOUBLE)
                              * CAST(sy AS DOUBLE))), 6) + 0
                AS corr_value_hour
       FROM m ORDER BY event_type""",
    "deterministic Pearson corr(value, hour) per event type via "
    "decimal-exact moment sums + one fixed closed-form double tree",
)


# =====================================================================
# Round-7 wave 5 — TPC-H join breadth, inequality/lag analytics, and
# the language-ID evaluation matrix
# =====================================================================

q_sql(
    "returned_item_revenue",
    # TPC-H Q10 shape: revenue lost to returned items per customer over
    # one half-year — the 3-table join where the fact table streams and
    # both dims broadcast under AQE; top-20 via TakeOrderedAndProject.
    """SELECT c.c_custkey, c.c_name,
              CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                   AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
              count(*) AS n_items
       FROM customer c
       JOIN orders o ON o.o_custkey = c.c_custkey
       JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       WHERE l.l_returnflag = 'R'
         AND o.o_orderdate >= TIMESTAMP '1995-07-01 00:00:00'
         AND o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
       GROUP BY c.c_custkey, c.c_name
       ORDER BY revenue DESC, c.c_custkey LIMIT 20""",
    "TPC-H Q10-style returned-item revenue per customer: date-pruned "
    "orders + returnflag-pruned fact scan, decimal-exact revenue, "
    "top-20 heap",
)


q_sql(
    "large_order_customers",
    # TPC-H Q18 shape (large-volume orders): orders whose total quantity
    # exceeds the threshold, with their customer. The HAVING runs on the
    # pre-aggregated per-order sums (orders-sized, not lineitem-sized)
    # and only the few survivors join the dims — the anti-pattern this
    # replaces is windowing the raw fact table.
    """SELECT c.c_custkey, c.c_name, o.o_orderkey,
              CAST(t.total_qty AS DOUBLE) AS total_qty
       FROM (SELECT l_orderkey,
                    sum(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
             FROM lineitem GROUP BY l_orderkey
             HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250) t
       JOIN orders o ON o.o_orderkey = t.l_orderkey
       JOIN customer c ON c.c_custkey = o.o_custkey
       ORDER BY total_qty DESC, o.o_orderkey""",
    "TPC-H Q18-style large-volume orders (sum(qty) > 250) joined back "
    "to their customers — pre-aggregate + HAVING before any dim join",
)


@q(
    "user_activity_gini",
    # Inequality audit of the event log: Gini coefficient of events per
    # user, INTEGER-EXACT to the final division — with counts x_i
    # ascending (rank i of n), gini = sum((2i - n - 1) * x_i)
    # / (n * sum(x)); the numerator is invariant within value ties, so
    # the user_id tie-break is for determinism of the rank only. The
    # rank window runs over USER-sized rows (the per-user pre-aggregate),
    # never the fact table; at extreme user cardinality the mergeable
    # fallback is binned Lorenz approximation.
    """WITH u AS (SELECT user_id, count(*) AS cnt
                  FROM events GROUP BY user_id),
       r AS (SELECT cnt,
                    row_number() OVER (ORDER BY cnt, user_id) AS i,
                    count(*) OVER () AS n,
                    CAST(sum(cnt) OVER () AS BIGINT) AS tot
             FROM u)
       SELECT CAST(max(n) AS BIGINT) AS n_users,
              max(tot) AS total_events,
              round(CAST(CAST(sum((2 * i - n - 1) * cnt) AS BIGINT)
                         AS DOUBLE)
                    / (CAST(max(n) AS DOUBLE) * max(tot)), 6) + 0
                AS gini
       FROM r""",
    "Gini coefficient of per-user event counts — integer-exact "
    "numerator over the users-sized pre-aggregate",
)
def user_activity_gini(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
    w = Window.orderBy("cnt", "user_id")
    r = u.select(
        "cnt",
        F.row_number().over(w).alias("i"),
    )
    return (
        r.agg(
            F.count("*").alias("__n"),
            F.sum("cnt").alias("__tot"),
            F.sum(
                (2 * F.col("i") - 1).cast("long") * F.col("cnt")
            ).alias("__s2i"),
            F.sum("cnt").alias("__s"),
        )
        # sum((2i - n - 1) x) = sum((2i - 1) x) - n * sum(x): keeps the
        # aggregate single-pass (n is not known until the agg itself)
        .select(
            F.col("__n").alias("n_users"),
            F.col("__tot").alias("total_events"),
            (
                F.round(
                    (
                        F.col("__s2i") - F.col("__n") * F.col("__s")
                    ).cast("double")
                    / (
                        F.col("__n").cast("double")
                        * F.col("__tot").cast("double")
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("gini"),
        )
    )


@q(
    "ship_lag_stats",
    # Order-fulfilment lag: days between order date and each line's ship
    # date, grouped by order priority. DATE-cast on both sides so both
    # engines count calendar days (timestamp diff semantics differ);
    # integer min/max/count plus an exact decimal-sum average.
    """SELECT o.o_orderpriority, count(*) AS n_lines,
              CAST(min(CAST(l.l_shipdate AS DATE)
                       - CAST(o.o_orderdate AS DATE)) AS BIGINT)
                AS min_lag_days,
              CAST(max(CAST(l.l_shipdate AS DATE)
                       - CAST(o.o_orderdate AS DATE)) AS BIGINT)
                AS max_lag_days,
              round(CAST(sum(CAST(l.l_shipdate AS DATE)
                             - CAST(o.o_orderdate AS DATE)) AS DOUBLE)
                    / count(*), 6) + 0 AS avg_lag_days
       FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""",
    "fulfilment-lag stats (ship date - order date, calendar days) per "
    "order priority — integer-exact lags, decimal-exact average",
)
def ship_lag_stats(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    lag = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.min(lag).cast("long").alias("min_lag_days"),
            F.max(lag).cast("long").alias("max_lag_days"),
            (
                F.round(
                    F.sum(lag).cast("double") / F.count("*"), 6
                )
                + F.lit(0.0)
            ).alias("avg_lag_days"),
        )
        .orderBy("o_orderpriority")
    )


# The oracle must reproduce detect_language()'s argmax EXACTLY: marker
# OCCURRENCE counts per language, max wins, ties to the alphabetically
# first language (the (hits, -index) sort key over sorted codes), zero
# hits -> 'und'. Interpolated from TX.LANG_MARKERS so the two sides can
# never drift.
def _langid_confusion_oracle() -> str:
    from neo4j_to_clickhouse_spark.operators.text import LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    hit_cols = ",\n                    ".join(
        "len(list_filter(toks, t -> list_contains("
        f"{list(LANG_MARKERS[lg])!r}, t))) AS h_{lg}"
        for lg in langs
    )
    m = "greatest(" + ", ".join(f"h_{lg}" for lg in langs) + ")"
    case = "CASE WHEN " + m + " = 0 THEN 'und' " + " ".join(
        f"WHEN h_{lg} = {m} THEN '{lg}'" for lg in langs[:-1]
    ) + f" ELSE '{langs[-1]}' END"
    return f"""WITH d AS (SELECT lang,
                    string_split(lower(text), ' ') AS toks
             FROM documents),
       h AS (SELECT lang,
                    {hit_cols}
             FROM d)
       SELECT lang AS label, {case} AS predicted,
              count(*) AS n_docs
       FROM h GROUP BY 1, 2 ORDER BY label, predicted"""


@q(
    "langid_confusion",
    _langid_confusion_oracle(),
    "language-ID evaluation: confusion matrix of the corpus lang label "
    "vs the marker-lexicon argmax prediction (oracle interpolated from "
    "the same LANG_MARKERS constant)",
)
def langid_confusion(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(
            F.col("lang").alias("label"),
            TX.detect_language("text").alias("predicted"),
        )
        .groupBy("label", "predicted")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("label", "predicted")
    )


# =====================================================================
# Round-7 wave 6 — dedup/partition/embedding audit surface
# =====================================================================

@q(
    "dedup_cluster_size_histogram",
    # The dedup planner's first question: HOW duplicated is the corpus?
    # Exact-dup groups by md5(text), then the distribution of group
    # sizes (size 1 = unique) with the share of total documents each
    # size class holds. Two small aggregations over the hash keys —
    # document bodies shuffle as 32-hex digests only.
    """WITH g AS (SELECT md5(text) AS h, count(*) AS sz
                  FROM documents GROUP BY md5(text)),
       t AS (SELECT CAST(sum(sz) AS BIGINT) AS total FROM g)
       SELECT sz AS cluster_size, count(*) AS n_clusters,
              CAST(sz * count(*) AS BIGINT) AS n_docs,
              round(CAST(sz * count(*) AS DOUBLE)
                    / (SELECT total FROM t), 6) + 0 AS doc_share
       FROM g GROUP BY sz ORDER BY sz""",
    "exact-duplicate cluster-size histogram: how many docs sit in "
    "groups of 1, 2, 3... (bodies travel as md5 digests only)",
)
def dedup_cluster_size_histogram(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    g = docs.groupBy(F.md5("text").alias("h")).agg(
        F.count("*").alias("sz")
    )
    t = g.agg(F.sum("sz").alias("__total"))
    return (
        g.groupBy("sz")
        .agg(F.count("*").alias("n_clusters"))
        .crossJoin(F.broadcast(t))
        .select(
            F.col("sz").alias("cluster_size"),
            "n_clusters",
            (F.col("sz") * F.col("n_clusters")).cast("long").alias("n_docs"),
            (
                F.round(
                    (F.col("sz") * F.col("n_clusters")).cast("double")
                    / F.col("__total"),
                    6,
                )
                + F.lit(0.0)
            ).alias("doc_share"),
        )
        .orderBy("cluster_size")
    )


@q(
    "partition_skew_report",
    # The partition-health audit behind M1/M3 maintenance: per day
    # partition, row count, payload bytes, share of rows, and the skew
    # factor vs the mean partition (the number that says whether the
    # partitioning survives at 100 TB). Fact table aggregates once;
    # the share/skew math runs over the days-sized pre-aggregate with
    # a 1-row broadcast of the totals. Share and skew are INTEGER
    # ppm / basis points (floor division) — the r11 generated-sf1
    # sweep caught the double form diverging on 3 of 31 days: Spark
    # rounds the exact binary value (BigDecimal HALF_UP) while DuckDB
    # rounds via float multiply, and near-tie quotients split. Integer
    # floor division is engine-exact at any scale.
    """WITH m AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                         count(*) AS n_rows,
                         CAST(sum(length(props)) AS BIGINT)
                           AS payload_bytes
                  FROM events GROUP BY 1),
       t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS tot,
                    count(*) AS nparts FROM m)
       SELECT day, n_rows, payload_bytes,
              CAST((n_rows * 1000000) // (SELECT tot FROM t) AS BIGINT)
                AS row_share_ppm,
              CAST((n_rows * (SELECT nparts FROM t) * 10000)
                   // (SELECT tot FROM t) AS BIGINT) AS skew_bp
       FROM m ORDER BY day""",
    "partition-health audit: per-day rows, payload bytes, integer row "
    "share (ppm) and skew vs the mean partition (basis points)",
)
def partition_skew_report(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    m = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.length("props")).alias("payload_bytes"),
    )
    t = m.agg(
        F.sum("n_rows").alias("__tot"), F.count("*").alias("__nparts")
    )
    return (
        m.crossJoin(F.broadcast(t))
        .select(
            "day",
            "n_rows",
            "payload_bytes",
            # SQL `div`: exact integral division on longs — a double
            # `/` + cast would reintroduce the rounding-tie class
            F.expr("(n_rows * 1000000L) div __tot").alias(
                "row_share_ppm"
            ),
            F.expr("(n_rows * __nparts * 10000L) div __tot").alias(
                "skew_bp"
            ),
        )
        .orderBy("day")
    )


@q(
    "embedding_centroid_spread",
    # Embedding-quality audit: squared-euclidean distance of every
    # vector to its OWN label centroid — per label: count, mean and max
    # spread. The flat certified form shares the kmeans oracle's float
    # argument (per-vec distances agree cross-engine to ~1e-13 against
    # a 4-decimal output rounding); the production assigner for the
    # argmin variant is the BLAS GEMM path (similarity.assign_cells).
    """WITH dims AS (
         SELECT vec_id AS id, label AS lbl,
                generate_subscripts(embedding, 1) AS pos,
                CAST(unnest(embedding) AS DOUBLE) AS v
         FROM embeddings),
       c AS (SELECT lbl, pos, sum(v) / count(*) AS c
             FROM dims GROUP BY lbl, pos),
       d AS (SELECT d.id, d.lbl,
                    sum((d.v - c.c) * (d.v - c.c)) AS dist
             FROM dims d JOIN c ON c.lbl = d.lbl AND c.pos = d.pos
             GROUP BY d.id, d.lbl)
       SELECT lbl AS label, count(*) AS n_vecs,
              round(avg(dist), 4) + 0 AS mean_dist,
              round(max(dist), 4) + 0 AS max_dist
       FROM d GROUP BY lbl ORDER BY label""",
    "embedding drift audit: per-label spread (mean/max squared "
    "distance to the label centroid)",
)
def embedding_centroid_spread(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    dims = emb.select(
        F.col("vec_id").alias("id"),
        F.col("label").alias("lbl"),
        F.posexplode("embedding").alias("pos0", "v_f"),
    ).select(
        "id", "lbl", (F.col("pos0") + 1).alias("pos"),
        F.col("v_f").cast("double").alias("v"),
    )
    c = dims.groupBy("lbl", "pos").agg(
        (F.sum("v") / F.count("*")).alias("c")
    )
    d = (
        dims.join(F.broadcast(c), ["lbl", "pos"])
        .groupBy("id", "lbl")
        .agg(
            F.sum(
                (F.col("v") - F.col("c")) * (F.col("v") - F.col("c"))
            ).alias("dist")
        )
    )
    return (
        d.groupBy(F.col("lbl").alias("label"))
        .agg(
            F.count("*").alias("n_vecs"),
            (F.round(F.avg("dist"), 4) + F.lit(0.0)).alias("mean_dist"),
            (F.round(F.max("dist"), 4) + F.lit(0.0)).alias("max_dist"),
        )
        .orderBy("label")
    )


# =====================================================================
# Round-7 wave 7 — JSON aggregation, growth accounting, transitions,
# and grouped top-k
# =====================================================================

@q(
    "json_value_stats_by_type",
    # F1-F4 family widened from predicates to AGGREGATION over the
    # extracted value: per event type, integer-exact stats of props.k
    # (the JSONExtract -> toInt64 -> sum/min/max/avg chain a ClickHouse
    # user writes daily). Extraction stays in the scan stage.
    """SELECT event_type, count(*) AS n,
              CAST(min(CAST(json_extract_string(props, '$.k') AS INTEGER))
                   AS INTEGER) AS min_k,
              CAST(max(CAST(json_extract_string(props, '$.k') AS INTEGER))
                   AS INTEGER) AS max_k,
              CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER))
                   AS BIGINT) AS sum_k,
              round(CAST(sum(CAST(json_extract_string(props, '$.k')
                                  AS INTEGER)) AS DOUBLE) / count(*), 6)
                + 0 AS avg_k
       FROM events GROUP BY event_type ORDER BY event_type""",
    "JSON-extracted value aggregation per event type (F1-F4 surface: "
    "extract -> int -> min/max/sum/avg, integer-exact)",
)
def json_value_stats_by_type(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
            F.sum(k).alias("sum_k"),
            (
                F.round(F.sum(k).cast("double") / F.count("*"), 6)
                + F.lit(0.0)
            ).alias("avg_k"),
        )
        .orderBy("event_type")
    )


q_sql(
    "user_growth_accounting",
    # Growth-accounting staple: per day, how many users appeared for the
    # FIRST time, plus the running total of ever-seen users. Two
    # pre-aggregations (users-sized, then days-sized) and a cumulative
    # window over the days-sized table only.
    """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS day
                  FROM events GROUP BY user_id),
       d AS (SELECT day, count(*) AS new_users FROM f GROUP BY day)
       SELECT day, new_users,
              CAST(sum(new_users) OVER (ORDER BY day
                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
                AS cumulative_users
       FROM d ORDER BY day""",
    "user growth accounting: first-seen users per day + cumulative "
    "ever-seen total (windows touch the days-sized pre-aggregate only)",
)


q_sql(
    "event_transition_matrix",
    # First-order Markov transition counts over each user's event
    # stream: lag() under the (ts, event_id) total order — ONE shuffle
    # on user_id, output event-type² rows.
    """WITH s AS (SELECT user_id, event_type,
                         lag(event_type) OVER (
                           PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev_type
                  FROM events)
       SELECT prev_type AS from_type, event_type AS to_type,
              count(*) AS cnt
       FROM s WHERE prev_type IS NOT NULL
       GROUP BY 1, 2 ORDER BY from_type, to_type""",
    "behavioral transition matrix: per-user consecutive event-type "
    "pairs under a total (ts, event_id) order",
)


@q(
    "top_brands_per_nation",
    # Grouped top-k (top-3 part brands by revenue within each supplier
    # nation): the per-group rank prunes in the shuffle read
    # (WindowGroupLimit, plan-guarded) — a giant group is never fully
    # sorted. Dims broadcast; revenue is decimal-exact so the rank
    # order is engine-identical.
    """WITH r AS (SELECT n.n_name, p.p_brand,
                         CAST(sum(CAST(l.l_extendedprice
                              * (1 - l.l_discount) AS DECIMAL(18,4)))
                              AS DOUBLE) AS revenue
                  FROM lineitem l
                  JOIN supplier s ON s.s_suppkey = l.l_suppkey
                  JOIN nation n ON n.n_nationkey = s.s_nationkey
                  JOIN part p ON p.p_partkey = l.l_partkey
                  GROUP BY n.n_name, p.p_brand),
       k AS (SELECT n_name, p_brand, revenue,
                    row_number() OVER (PARTITION BY n_name
                      ORDER BY revenue DESC, p_brand) AS rk
             FROM r)
       SELECT n_name, p_brand, revenue, CAST(rk AS INTEGER) AS rk
       FROM k WHERE rk <= 3 ORDER BY n_name, rk""",
    "grouped top-k: top-3 part brands by decimal-exact revenue per "
    "supplier nation (WindowGroupLimit pruning)",
)
def top_brands_per_nation(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_partkey", "l_extendedprice", "l_discount"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    r = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("n_name", "p_brand")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("revenue"), "p_brand")
    return (
        r.select(
            "n_name",
            "p_brand",
            "revenue",
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 3)
        .orderBy("n_name", "rk")
    )


# =====================================================================
# Round-7 wave 8 — cross-nation trade flows and per-slice dup rates
# =====================================================================

@q(
    "nation_trade_volume",
    # TPC-H Q7 shape: trade volume between supplier nation and customer
    # nation per ship year. Five tables; the fact scan streams once,
    # every dim (orders->customer hop included) reaches it broadcast-
    # shaped; the (supp_nation, cust_nation, year) rollup is tiny.
    """SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
              CAST(year(l.l_shipdate) AS INTEGER) AS ship_year,
              count(*) AS n_lines,
              CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                   AS DECIMAL(18,4))) AS DOUBLE) AS volume
       FROM lineitem l
       JOIN supplier s ON s.s_suppkey = l.l_suppkey
       JOIN nation ns ON ns.n_nationkey = s.s_nationkey
       JOIN orders o ON o.o_orderkey = l.l_orderkey
       JOIN customer c ON c.c_custkey = o.o_custkey
       JOIN nation nc ON nc.n_nationkey = c.c_nationkey
       WHERE ns.n_name IN ('NATION_1', 'NATION_2')
         AND nc.n_name IN ('NATION_1', 'NATION_2')
         AND ns.n_name <> nc.n_name
       GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, ship_year""",
    "TPC-H Q7-style cross-nation trade volume per ship year "
    "(NATION_1<->NATION_2), decimal-exact, 5-table broadcast-dim join",
)
def nation_trade_volume(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate",
        "l_extendedprice", "l_discount",
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    ns = n.filter(F.col("n_name").isin("NATION_1", "NATION_2")).select(
        F.col("n_nationkey").alias("ns_key"),
        F.col("n_name").alias("supp_nation"),
    )
    nc = n.filter(F.col("n_name").isin("NATION_1", "NATION_2")).select(
        F.col("n_nationkey").alias("nc_key"),
        F.col("n_name").alias("cust_nation"),
    )
    # supplier/customer sides pre-filtered to the two nations so the
    # fact join discards non-matching lines as early as possible
    sup = s.join(F.broadcast(ns), s.s_nationkey == ns.ns_key).select(
        "s_suppkey", "supp_nation"
    )
    cust = c.join(F.broadcast(nc), c.c_nationkey == nc.nc_key).select(
        "c_custkey", "cust_nation"
    )
    ord_n = o.join(F.broadcast(cust), o.o_custkey == cust.c_custkey).select(
        "o_orderkey", "cust_nation"
    )
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(ord_n), li.l_orderkey == ord_n.o_orderkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("volume"),
        )
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


q_sql(
    "dup_rate_by_lang",
    # Per-language duplicate pressure: docs vs distinct bodies (md5
    # digests, bodies never shuffle) and the implied removal rate — the
    # slice-level view the corpus-wide cluster histogram can't give.
    """SELECT lang, count(*) AS n_docs,
              CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
              CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT)
                AS n_removable,
              round(CAST(count(*) - count(DISTINCT md5(text)) AS DOUBLE)
                    / count(*), 6) + 0 AS dup_rate
       FROM documents GROUP BY lang ORDER BY lang""",
    "per-language exact-duplicate rate: docs, distinct bodies (as md5 "
    "digests), removable count and rate",
)


# =====================================================================
# Round-7 wave 10 — cross-split leakage audit
# =====================================================================

@q(
    "split_leakage_report",
    # The evaluation-integrity check a training pipeline must run on its
    # OWN splits: verbatim 8-token spans shared between train and each
    # held-out split (Lee et al. 2022 find such leakage inflates eval).
    # Spans travel as md5 digests; per split the distinct span set is
    # computed once; train membership is a digest equi-join (AQE decides
    # broadcast vs shuffle — leakage-rate-sized, not corpus-sized).
    """WITH labeled AS (
         SELECT doc_id, text,
                CASE
                  WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                       < 'cccccccd' THEN 'train'
                  WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                       < 'e6666666' THEN 'val'
                  ELSE 'test'
                END AS split
         FROM documents),
       sp AS (SELECT DISTINCT split,
                     md5(list_aggregate(wl[i:i+7], 'string_agg', ' '))
                       AS d
              FROM (SELECT split, string_split(text, ' ') AS wl
                    FROM labeled),
                   (SELECT unnest(range(1, 100000)) AS i) idx
              WHERE i <= len(wl) - 7),
       tr AS (SELECT d FROM sp WHERE split = 'train')
       SELECT s.split, count(*) AS n_spans,
              count(t.d) AS n_leaked,
              round(CAST(count(t.d) AS DOUBLE) / count(*), 6) + 0
                AS leak_rate
       FROM sp s LEFT JOIN tr t ON t.d = s.d
       WHERE s.split <> 'train'
       GROUP BY s.split ORDER BY s.split""",
    "cross-split leakage audit: distinct 8-token spans of each held-out "
    "split that also appear in train (digest equi-join, bodies never "
    "shuffle)",
)
def split_leakage_report(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents")
    labeled = hash_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    # token array projected first — see word_shingles for why
    sp = (
        D.spread(labeled)
        .select("split", D.tokens("text").alias("__tk"))
        .select(
            "split", F.explode(D.ngram_array(F.col("__tk"), 8)).alias("g")
        )
        .filter(F.col("g").isNotNull())
        .select("split", F.md5("g").alias("d"))
        .distinct()
    )
    tr = sp.filter(F.col("split") == "train").select(
        F.col("d").alias("td")
    )
    ev = sp.filter(F.col("split") != "train")
    return (
        ev.join(tr, ev.d == tr.td, "left")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_spans"),
            F.count("td").alias("n_leaked"),
            (
                F.round(
                    F.count("td").cast("double") / F.count("*"), 6
                )
                + F.lit(0.0)
            ).alias("leak_rate"),
        )
        .orderBy("split")
    )


# =====================================================================
# Round-7 wave 11 — integer-exact anomaly flags and linkage coverage
# =====================================================================

@q(
    "daily_anomaly_flags",
    # 3-sigma anomaly detection over daily event counts with the flag
    # spelled INTEGER-EXACT: with integer daily counts x, day count n,
    # sums sx/sxx, the test (x-mean)^2 > 9*var is cross-multiplied to
    #   (n*x - sx)^2 * (n-1)  >  9 * n * (n*sxx - sx^2)
    # — pure BIGINT arithmetic, no float boundary to disagree on. The
    # reported deviation is informational (rounded double). Stats ride
    # a 1-row broadcast over the days-sized pre-aggregate.
    """WITH d AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                         count(*) AS x
                  FROM events GROUP BY 1),
       s AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
                    CAST(sum(x * x) AS BIGINT) AS sxx FROM d)
       SELECT day, x AS n_events,
              ((n * x - sx) * (n * x - sx) * (n - 1)
               > 9 * n * (n * sxx - sx * sx)) AS is_anomaly,
              round((CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / n)
                    / sqrt((CAST(n AS DOUBLE) * sxx
                            - CAST(sx AS DOUBLE) * sx)
                           / (CAST(n AS DOUBLE) * (n - 1))), 4) + 0
                AS z_score
       FROM d, s ORDER BY day""",
    "3-sigma daily-count anomaly flags, integer-exact via "
    "cross-multiplied variance test (no float boundary)",
)
def daily_anomaly_flags(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count("*").alias("x"))
    s = d.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n, x, sx, sxx = F.col("n"), F.col("x"), F.col("sx"), F.col("sxx")
    dev = n * x - sx
    flag = (dev * dev * (n - 1)) > (9 * n * (n * sxx - sx * sx))
    z = (x.cast("double") - sx.cast("double") / n) / F.sqrt(
        (n.cast("double") * sxx - sx.cast("double") * sx)
        / (n.cast("double") * (n - 1))
    )
    return (
        d.crossJoin(F.broadcast(s))
        .select(
            "day",
            x.alias("n_events"),
            flag.alias("is_anomaly"),
            (F.round(z, 4) + F.lit(0.0)).alias("z_score"),
        )
        .orderBy("day")
    )


@q(
    "embedding_coverage_report",
    # Referential-integrity governance between the document corpus and
    # its embedding table: coverage both ways via id anti-joins (the
    # multimodal/RAG pipeline's "is every doc embedded?" check). One
    # row; both sides shuffle ids only.
    """SELECT (SELECT count(*) FROM documents) AS n_docs,
              (SELECT count(*) FROM embeddings) AS n_vecs,
              (SELECT count(*) FROM documents d
               WHERE EXISTS (SELECT 1 FROM embeddings e
                             WHERE e.vec_id = d.doc_id)) AS n_docs_with_vec,
              (SELECT count(*) FROM embeddings e
               WHERE NOT EXISTS (SELECT 1 FROM documents d
                                 WHERE d.doc_id = e.vec_id))
                AS n_orphan_vecs""",
    "docs<->embeddings referential coverage: embedded-doc count and "
    "orphan vectors via id semi/anti joins",
)
def embedding_coverage_report(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    emb = _t(spark, sf_dir, "embeddings").select("vec_id")
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    n_vecs = emb.agg(F.count("*").alias("n_vecs"))
    with_vec = (
        docs.join(emb, docs.doc_id == emb.vec_id, "left_semi")
        .agg(F.count("*").alias("n_docs_with_vec"))
    )
    orphans = (
        emb.join(docs, emb.vec_id == docs.doc_id, "left_anti")
        .agg(F.count("*").alias("n_orphan_vecs"))
    )
    return (
        n_docs.crossJoin(F.broadcast(n_vecs))
        .crossJoin(F.broadcast(with_vec))
        .crossJoin(F.broadcast(orphans))
    )


# =====================================================================
# Round-7 wave 12 — rolling actives, behavioral gaps, market baskets
# =====================================================================

@q(
    "rolling_weekly_active_users",
    # Rolling 7-day distinct actives (WAU) per day WITHOUT a sliding
    # count-distinct window (not mergeable): each distinct (day, user)
    # contributes to <= 7 window days via a scan-side sequence explode,
    # then one exact count-distinct per window day, restricted to real
    # activity days. DAU rides the same distinct table.
    """WITH du AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE)
                          AS day, user_id FROM events),
       spine AS (SELECT DISTINCT day FROM du),
       contrib AS (SELECT user_id,
                          CAST(unnest(generate_series(day, day + 6,
                               INTERVAL 1 DAY)) AS DATE) AS win_day
                   FROM du),
       wau AS (SELECT c.win_day AS day,
                      count(DISTINCT c.user_id) AS wau
               FROM contrib c JOIN spine s ON s.day = c.win_day
               GROUP BY 1),
       dau AS (SELECT day, count(*) AS dau FROM du GROUP BY day)
       SELECT d.day, d.dau, w.wau,
              round(CAST(d.dau AS DOUBLE) / w.wau, 6) + 0 AS stickiness
       FROM dau d JOIN wau w ON w.day = d.day ORDER BY d.day""",
    "rolling 7-day active users per day (scan-side window-day explode, "
    "never a sliding count-distinct) + DAU/WAU stickiness",
)
def rolling_weekly_active_users(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", "ts").cast("date").alias("day"), "user_id"
    ).distinct()
    spine = du.select("day").distinct()
    contrib = du.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("win_day"),
    )
    wau = (
        contrib.join(spine, contrib.win_day == spine.day)
        .groupBy("win_day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    dau = du.groupBy("day").agg(F.count("*").alias("dau"))
    return (
        dau.join(wau, dau.day == wau.win_day)
        .select(
            dau.day,
            "dau",
            "wau",
            (
                F.round(F.col("dau").cast("double") / F.col("wau"), 6)
                + F.lit(0.0)
            ).alias("stickiness"),
        )
        .orderBy("day")
    )


@q(
    "purchase_gap_histogram",
    # Inter-purchase interval distribution: consecutive purchase gaps
    # per user (lag under the (ts, event_id) total order), bucketed in
    # INTEGER hours from exact epoch-microsecond differences — one
    # shuffle on user_id, output bucket-sized.
    """WITH p AS (SELECT user_id, ts, event_id FROM events
                  WHERE event_type = 'purchase'),
       g AS (SELECT (epoch_us(ts) - epoch_us(lag(ts) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id)))
                      // 3600000000 AS gap_h
             FROM p)
       SELECT CAST(gap_h AS BIGINT) AS gap_bucket_hours,
              count(*) AS n_gaps
       FROM g WHERE gap_h IS NOT NULL
       GROUP BY 1 ORDER BY gap_bucket_hours""",
    "inter-purchase gap histogram in integer-hour buckets (exact epoch "
    "micros, one user_id shuffle)",
)
def purchase_gap_histogram(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.floor(
        (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
        )
        / F.lit(3600000000)
    )
    return (
        p.select(gap.alias("gap_bucket_hours"))
        .filter(F.col("gap_bucket_hours").isNotNull())
        .groupBy("gap_bucket_hours")
        .agg(F.count("*").alias("n_gaps"))
        .orderBy("gap_bucket_hours")
    )


q_sql(
    "basket_cooccurrence_topk",
    # Market-basket co-occurrence: part pairs bought within the same
    # order. The self-join keys on order id, so fan-out is bounded by
    # lines-per-order squared (a per-basket constant, never corpus²);
    # top-20 via the TakeOrdered heap.
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
       SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
              count(*) AS n_orders
       FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                          AND a.l_partkey < b.l_partkey
       GROUP BY 1, 2
       ORDER BY n_orders DESC, part_a, part_b LIMIT 20""",
    "market-basket part-pair co-occurrence (order-bounded self-join "
    "fan-out), top-20 pairs",
)


# =====================================================================
# Round-7 wave 13 — drift audits and vocabulary growth
# =====================================================================

@q(
    "distribution_shift_by_type",
    # Data-drift audit: event-type mix of the log's first half vs
    # second half (split at the midpoint timestamp, epoch-micros
    # integer compare) with per-type share deltas on 6-decimal DECIMAL
    # values — the L1 terms are exact, so the drift ranking is
    # engine-identical. Two small aggregates + a types-sized join.
    """WITH b AS (SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2
                    AS mid FROM events),
       h AS (SELECT event_type,
                    CASE WHEN epoch_us(ts) < (SELECT mid FROM b)
                         THEN 'first' ELSE 'second' END AS half
             FROM events),
       c AS (SELECT event_type, half, count(*) AS n
             FROM h GROUP BY 1, 2),
       t AS (SELECT half, CAST(sum(n) AS BIGINT) AS tot
             FROM c GROUP BY half),
       s AS (SELECT c.event_type, c.half,
                    CAST(round(CAST(c.n AS DOUBLE) / t.tot, 6)
                         AS DECIMAL(18,6)) AS share
             FROM c JOIN t USING (half))
       SELECT f.event_type,
              CAST(f.share AS DOUBLE) + 0 AS share_first,
              CAST(s.share AS DOUBLE) + 0 AS share_second,
              CAST(abs(f.share - s.share) AS DOUBLE) + 0 AS abs_delta
       FROM (SELECT * FROM s WHERE half = 'first') f
       JOIN (SELECT * FROM s WHERE half = 'second') s
         ON s.event_type = f.event_type
       ORDER BY f.event_type""",
    "event-type distribution shift between the log's two time halves: "
    "6-decimal-exact shares and L1 delta terms",
)
def distribution_shift_by_type(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    b = ev.agg(
        (
            (F.unix_micros(F.min("ts")) + F.unix_micros(F.max("ts")))
            / F.lit(2)
        )
        .cast("long")
        .alias("mid")
    )
    h = ev.crossJoin(F.broadcast(b)).select(
        "event_type",
        F.when(F.unix_micros("ts") < F.col("mid"), "first")
        .otherwise("second")
        .alias("half"),
    )
    c = h.groupBy("event_type", "half").agg(F.count("*").alias("n"))
    t = c.groupBy("half").agg(F.sum("n").alias("tot"))
    s = c.join(t, "half").select(
        "event_type",
        "half",
        F.round(F.col("n").cast("double") / F.col("tot"), 6)
        .cast("decimal(18,6)")
        .alias("share"),
    )
    f = s.filter(F.col("half") == "first").select(
        "event_type", F.col("share").alias("sf")
    )
    sec = s.filter(F.col("half") == "second").select(
        F.col("event_type").alias("et2"), F.col("share").alias("ss")
    )
    return (
        f.join(sec, f.event_type == sec.et2)
        .select(
            "event_type",
            (F.col("sf").cast("double") + F.lit(0.0)).alias("share_first"),
            (F.col("ss").cast("double") + F.lit(0.0)).alias("share_second"),
            (
                F.abs(F.col("sf") - F.col("ss")).cast("double")
                + F.lit(0.0)
            ).alias("abs_delta"),
        )
        .orderBy("event_type")
    )


@q(
    "vocab_growth_curve",
    # Heaps-law probe: how the distinct-token vocabulary grows as the
    # corpus is consumed in doc_id order. Each token's FIRST document
    # (min doc_id over one token agg) buckets into corpus deciles;
    # cumulative sum over the 10-row decile table gives the curve —
    # no repeated scans, no set-union window.
    """WITH bounds AS (SELECT min(doc_id) AS lo,
                              max(doc_id) + 1 AS hi FROM documents),
       ft AS (SELECT tok, min(doc_id) AS first_doc
              FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                    FROM documents) GROUP BY tok),
       d AS (SELECT CAST(least(9, ((first_doc - lo) * 10) // (hi - lo))
                         AS INTEGER) AS decile,
                    count(*) AS new_tokens
             FROM ft, bounds GROUP BY 1)
       SELECT decile, new_tokens,
              CAST(sum(new_tokens) OVER (ORDER BY decile
                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
                AS cumulative_vocab
       FROM d ORDER BY decile""",
    "Heaps-law vocabulary growth: first-appearance decile of every "
    "distinct token + cumulative vocabulary curve",
)
def vocab_growth_curve(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    bounds = docs.agg(
        F.min("doc_id").alias("lo"),
        (F.max("doc_id") + 1).alias("hi"),
    )
    ft = (
        D.spread(docs)
        .select("doc_id", F.explode(D.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    d = (
        ft.crossJoin(F.broadcast(bounds))
        .select(
            F.least(
                F.lit(9).cast("long"),
                F.expr("((first_doc - lo) * 10) div (hi - lo)"),
            )
            .cast("int")
            .alias("decile")
        )
        .groupBy("decile")
        .agg(F.count("*").alias("new_tokens"))
    )
    cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return d.select(
        "decile",
        "new_tokens",
        F.sum("new_tokens").over(cum).cast("long").alias(
            "cumulative_vocab"
        ),
    ).orderBy("decile")


# =====================================================================
# Round-7 wave 14 — grouped top-k over exploded tokens
# =====================================================================

@q(
    "topk_words_per_source",
    # Per-source top-5 tokens: the grouped-top-k idiom applied to an
    # exploded token stream — counts map-side combine on (source, tok),
    # then the rank window heap-prunes per source in the shuffle read
    # (WindowGroupLimit); a giant source never fully sorts.
    """WITH c AS (SELECT source, tok, count(*) AS cnt
                  FROM (SELECT source,
                               unnest(string_split(text, ' ')) AS tok
                        FROM documents)
                  GROUP BY source, tok),
       r AS (SELECT source, tok, cnt,
                    row_number() OVER (PARTITION BY source
                      ORDER BY cnt DESC, tok) AS rk
             FROM c)
       SELECT source, tok, cnt, CAST(rk AS INTEGER) AS rk
       FROM r WHERE rk <= 5 ORDER BY source, rk""",
    "per-source top-5 tokens (grouped top-k over the exploded token "
    "stream, WindowGroupLimit pruning)",
)
def topk_words_per_source(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    c = (
        D.spread(docs)
        .select("source", F.explode(D.tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("cnt"), "tok")
    return (
        c.select(
            "source", "tok", "cnt", F.row_number().over(w).alias("rk")
        )
        .filter(F.col("rk") <= 5)
        .orderBy("source", "rk")
    )


# =====================================================================
# Round-7 wave 15 — forward as-of
# =====================================================================

@q(
    "asof_next_event",
    # Forward as-of cross-validated against DuckDB's NATIVE ASOF JOIN
    # with the inequality reversed (e.ts >= probe) — a structurally
    # different algorithm from the Spark union + carry-BACKWARD window.
    # Same-timestamp ties pin to the LOWEST event_id on both sides
    # (min/arg_min pre-dedup in the oracle, tie_break_col in Spark).
    """WITH probes AS (
         SELECT DISTINCT user_id, t AS probe_time
         FROM events,
              (SELECT unnest([TIMESTAMP '2024-01-08 00:00:00',
                              TIMESTAMP '2024-01-16 00:00:00',
                              TIMESTAMP '2024-01-24 00:00:00']) AS t)),
       ev AS (
         SELECT user_id, ts, min(event_id) AS event_id,
                arg_min(event_type, event_id) AS event_type
         FROM events GROUP BY user_id, ts)
       SELECT p.user_id, p.probe_time, e.event_id, e.event_type
       FROM probes p ASOF LEFT JOIN ev e
         ON p.user_id = e.user_id AND e.ts >= p.probe_time
       ORDER BY p.user_id, p.probe_time""",
    "forward as-of: each user's NEXT event at three probe instants "
    "(union + carry-backward window, one shuffle for any probe count)",
)
def asof_next_event(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.asof import asof_join_forward

    events = _t(spark, sf_dir, "events")
    probes = events.select("user_id").distinct().select(
        "user_id",
        F.explode(
            F.array(
                *[
                    F.lit(t).cast("timestamp")
                    for t in (
                        "2024-01-08 00:00:00",
                        "2024-01-16 00:00:00",
                        "2024-01-24 00:00:00",
                    )
                ]
            )
        ).alias("probe_time"),
    )
    return asof_join_forward(
        events,
        probes,
        key_col="user_id",
        event_time_col="ts",
        probe_time_col="probe_time",
        value_cols=["event_id", "event_type"],
        tie_break_col="event_id",
    ).orderBy("user_id", "probe_time")


# =====================================================================
# Round-7 wave 16 — session path mining and audience overlap
# =====================================================================

@q(
    "session_path_topk",
    # Sequence mining: the most common session-opening paths (first 5
    # event types per gap-based session, joined with '>'). Reuses the
    # certified sessionize window; the path string builds from an
    # ordered list aggregate truncated to 5 — session-sized state, and
    # the path rollup shuffles path strings, not events.
    """WITH s AS (
         SELECT user_id, ts, event_id, event_type,
                sum(CASE WHEN prev IS NULL
                         OR epoch_us(ts) - epoch_us(prev) > 1800000000
                         THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS session_id
         FROM (SELECT user_id, ts, event_id, event_type,
                      lag(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS prev
               FROM events)),
       p AS (SELECT user_id, session_id,
                    list_aggregate(
                      (list(event_type ORDER BY ts, event_id))[1:5],
                      'string_agg', '>') AS path
             FROM s GROUP BY user_id, session_id)
       SELECT path, count(*) AS n_sessions
       FROM p GROUP BY path
       ORDER BY n_sessions DESC, path LIMIT 10""",
    "top session-opening paths: first 5 event types per 30-min-gap "
    "session, '>'-joined; top-10 paths by frequency",
)
def session_path_topk(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.analytics import sessionize

    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, "user_id", "ts", "event_id", gap_minutes=30)
    w = (
        Window.partitionBy("user_id", "session_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    per_sess = (
        s.withColumn("__types", F.collect_list("event_type").over(w))
        .groupBy("user_id", "session_id")
        .agg(F.first("__types").alias("types"))
        .select(
            F.array_join(F.slice("types", 1, 5), ">").alias("path")
        )
    )
    return (
        per_sess.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(10)
    )


@q(
    "audience_overlap_by_type",
    # Audience overlap: user-set Jaccard between event-type pairs. The
    # intersection join keys on user_id over the DISTINCT (type, user)
    # table — fan-out bounded by types-per-user (<= 5 here), never
    # users²; set sizes broadcast back onto the types²-sized result.
    """WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
       sz AS (SELECT event_type, count(*) AS n FROM du GROUP BY 1),
       inter AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                        count(*) AS n_common
                 FROM du a JOIN du b ON a.user_id = b.user_id
                                    AND a.event_type < b.event_type
                 GROUP BY 1, 2)
       SELECT i.type_a, i.type_b, i.n_common,
              round(CAST(i.n_common AS DOUBLE)
                    / (sa.n + sb.n - i.n_common), 6) + 0 AS jaccard
       FROM inter i
       JOIN sz sa ON sa.event_type = i.type_a
       JOIN sz sb ON sb.event_type = i.type_b
       ORDER BY i.type_a, i.type_b""",
    "audience overlap: user-set Jaccard per event-type pair "
    "(per-user bounded self-join, never users²)",
)
def audience_overlap_by_type(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").distinct()
    sz = du.groupBy("event_type").agg(F.count("*").alias("n"))
    a = du.alias("a")
    b = du.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sz.select(
        F.col("event_type").alias("__ta"), F.col("n").alias("na")
    )
    sb = sz.select(
        F.col("event_type").alias("__tb"), F.col("n").alias("nb")
    )
    return (
        inter.join(F.broadcast(sa), inter.type_a == sa.__ta)
        .join(F.broadcast(sb), inter.type_b == sb.__tb)
        .select(
            "type_a",
            "type_b",
            "n_common",
            (
                F.round(
                    F.col("n_common").cast("double")
                    / (F.col("na") + F.col("nb") - F.col("n_common")),
                    6,
                )
                + F.lit(0.0)
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


# =====================================================================
# Round-7 wave 17 — out-of-orderness and template detection
# =====================================================================

@q(
    "late_arrival_audit",
    # The watermark-tuning statistic for §2.10 streaming: how out of
    # order is each user's stream when consumed in arrival (event_id)
    # order? An event is LATE if its ts precedes the running max ts of
    # earlier-arriving events; lateness = that max - ts, exact epoch
    # micros. One user_id shuffle; per-type rollup output.
    """WITH s AS (SELECT event_type, ts,
                         max(ts) OVER (PARTITION BY user_id
                                       ORDER BY event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING) AS prior_max
                  FROM events)
       SELECT event_type, count(*) AS n_events,
              count(*) FILTER (WHERE ts < prior_max) AS n_late,
              round(CAST(count(*) FILTER (WHERE ts < prior_max)
                         AS DOUBLE) / count(*), 6) + 0 AS late_rate,
              CAST(coalesce(max(CASE WHEN ts < prior_max
                             THEN epoch_us(prior_max) - epoch_us(ts)
                             END) // 1000000, 0) AS BIGINT)
                AS max_lateness_s
       FROM s GROUP BY event_type ORDER BY event_type""",
    "out-of-orderness audit for watermark tuning: late events vs the "
    "running max ts in arrival order, exact max lateness seconds",
)
def late_arrival_audit(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    s = ev.select(
        "event_type", "ts", F.max("ts").over(w).alias("prior_max")
    )
    late = F.col("ts") < F.col("prior_max")
    lateness = F.floor(
        (
            F.unix_micros("prior_max") - F.unix_micros("ts")
        )
        / F.lit(1000000)
    )
    return (
        s.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count(F.when(late, F.lit(1))).alias("n_late"),
            (
                F.round(
                    F.count(F.when(late, F.lit(1))).cast("double")
                    / F.count("*"),
                    6,
                )
                + F.lit(0.0)
            ).alias("late_rate"),
            F.coalesce(
                F.max(F.when(late, lateness)), F.lit(0)
            )
            .cast("long")
            .alias("max_lateness_s"),
        )
        .orderBy("event_type")
    )


@q(
    "template_prefix_audit",
    # Template/boilerplate detection the whole-doc hash misses: docs
    # sharing their FIRST 16 tokens with at least one other doc. The
    # prefix travels as an md5 digest; two digest-keyed aggregations.
    """WITH p AS (SELECT source,
                         md5(list_aggregate(
                             (string_split(text, ' '))[1:16],
                             'string_agg', ' ')) AS d
                  FROM documents),
       g AS (SELECT d, count(*) AS sz FROM p GROUP BY d)
       SELECT p.source, count(*) AS n_docs,
              count(*) FILTER (WHERE g.sz > 1) AS n_templated,
              round(CAST(count(*) FILTER (WHERE g.sz > 1) AS DOUBLE)
                    / count(*), 6) + 0 AS templated_rate
       FROM p JOIN g ON g.d = p.d
       GROUP BY p.source ORDER BY p.source""",
    "template-prefix audit: docs sharing their first 16 tokens with "
    "another doc, per source (prefix digests only)",
)
def template_prefix_audit(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    d = F.md5(F.array_join(F.slice(D.tokens("text"), 1, 16), " "))
    p = docs.select("source", d.alias("d"))
    g = p.groupBy("d").agg(F.count("*").alias("sz"))
    t = F.col("sz") > 1
    return (
        p.join(g, "d")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(t, F.lit(1))).alias("n_templated"),
            (
                F.round(
                    F.count(F.when(t, F.lit(1))).cast("double")
                    / F.count("*"),
                    6,
                )
                + F.lit(0.0)
            ).alias("templated_rate"),
        )
        .orderBy("source")
    )


# =====================================================================
# Round-7 wave 18 — cohort conversion
# =====================================================================

q_sql(
    "conversion_by_signup_cohort",
    # Cohorted conversion: users grouped by first-signup week, the
    # fraction who purchase AFTER that signup. Three users-sized
    # pre-aggregates; the purchase check is a (user, first-signup)
    # join against the purchase min-times — never a per-user subquery.
    """WITH su AS (SELECT user_id, min(ts) AS first_signup
                   FROM events WHERE event_type = 'signup'
                   GROUP BY user_id),
       pu AS (SELECT e.user_id, min(e.ts) AS first_purchase_after
              FROM events e JOIN su ON su.user_id = e.user_id
              WHERE e.event_type = 'purchase' AND e.ts > su.first_signup
              GROUP BY e.user_id)
       SELECT CAST(date_trunc('week', su.first_signup) AS DATE)
                AS cohort_week,
              count(*) AS n_users,
              count(pu.user_id) AS n_converted,
              round(CAST(count(pu.user_id) AS DOUBLE) / count(*), 6) + 0
                AS conversion_rate
       FROM su LEFT JOIN pu ON pu.user_id = su.user_id
       GROUP BY 1 ORDER BY cohort_week""",
    "signup-cohort conversion: per first-signup week, users who later "
    "purchase (users-sized pre-aggregates, no correlated scan)",
)


# =====================================================================
# Round-7 wave 19 — acquisition entry points and TTR-by-length
# =====================================================================

@q(
    "first_event_type_distribution",
    # Acquisition audit: which event type each user ENTERS with (argmin
    # under the (ts, event_id) total order) — e.g. purchases with no
    # prior signup. One users-sized min_by aggregate, no window over
    # the log.
    """SELECT first_type, count(*) AS n_users
       FROM (SELECT user_id, event_type AS first_type,
                    row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS rn
             FROM events) WHERE rn = 1
       GROUP BY first_type ORDER BY first_type""",
    "entry-point distribution: each user's FIRST event type "
    "(single min_by aggregate, never a log-wide window)",
)
def first_event_type_distribution(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.min_by(
            "event_type", F.struct(F.col("ts"), F.col("event_id"))
        ).alias("first_type")
    )
    return (
        first.groupBy("first_type")
        .agg(F.count("*").alias("n_users"))
        .orderBy("first_type")
    )


@q(
    "ttr_by_length_decile",
    # Lexical diversity vs document length: type-token ratio averaged
    # within length deciles (TTR falls with length by construction, so
    # comparing it unstratified is the classic mistake this view
    # fixes). Per-doc TTR rounds to 6dp and averages as exact DECIMAL;
    # deciles are integer-exact value-range buckets over the corpus
    # min/max token counts.
    """WITH d AS (SELECT len(string_split(text, ' ')) AS n_tok,
                         len(list_distinct(string_split(text, ' ')))
                           AS n_types
                  FROM documents),
       b AS (SELECT min(n_tok) AS lo, max(n_tok) + 1 AS hi FROM d),
       t AS (SELECT CAST(least(9, ((n_tok - lo) * 10) // (hi - lo))
                         AS INTEGER) AS decile,
                    n_tok,
                    CAST(round(CAST(n_types AS DOUBLE) / n_tok, 6)
                         AS DECIMAL(18,6)) AS ttr
             FROM d, b)
       SELECT decile, count(*) AS n_docs,
              CAST(min(n_tok) AS BIGINT) AS min_tokens,
              CAST(max(n_tok) AS BIGINT) AS max_tokens,
              round(CAST(sum(ttr) AS DOUBLE) / count(*), 6) + 0
                AS mean_ttr
       FROM t GROUP BY decile ORDER BY decile""",
    "type-token ratio by length decile: the length-stratified lexical "
    "diversity curve (decimal-exact TTR averaging)",
)
def ttr_by_length_decile(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    toks = D.tokens("text")
    d = docs.select(
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_types"),
    )
    b = d.agg(
        F.min("n_tok").alias("lo"), (F.max("n_tok") + 1).alias("hi")
    )
    t = d.crossJoin(F.broadcast(b)).select(
        F.least(
            F.lit(9).cast("long"),
            F.expr("((n_tok - lo) * 10) div (hi - lo)"),
        )
        .cast("int")
        .alias("decile"),
        "n_tok",
        F.round(
            F.col("n_types").cast("double") / F.col("n_tok"), 6
        )
        .cast("decimal(18,6)")
        .alias("ttr"),
    )
    return (
        t.groupBy("decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_tok").cast("long").alias("min_tokens"),
            F.max("n_tok").cast("long").alias("max_tokens"),
            (
                F.round(
                    F.sum("ttr").cast("double") / F.count("*"), 6
                )
                + F.lit(0.0)
            ).alias("mean_ttr"),
        )
        .orderBy("decile")
    )


# =====================================================================
# Round-7 wave 20 — higher-moment stats and interval concurrency
# =====================================================================

q_sql(
    "value_skew_kurtosis_by_type",
    # ClickHouse skewPop/kurtPop parity WITHOUT engine aggregates
    # (their double accumulation is partition-order dependent): four
    # decimal-exact power sums (terms rounded to 6dp; value^4 <= ~6e10
    # sits comfortably in DECIMAL(38,6)) combine in ONE fixed double
    # expression tree via the raw-moment identities.
    """WITH m AS (SELECT event_type, count(*) AS n,
                         sum(CAST(round(value, 6) AS DECIMAL(38,6))) AS s1,
                         sum(CAST(round(value * value, 6)
                                  AS DECIMAL(38,6))) AS s2,
                         sum(CAST(round(value * value * value, 6)
                                  AS DECIMAL(38,6))) AS s3,
                         sum(CAST(round(value * value * value * value, 6)
                                  AS DECIMAL(38,6))) AS s4
                  FROM events GROUP BY event_type)
       SELECT event_type, n,
              round((CAST(s3 AS DOUBLE) / n
                     - 3 * (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s2 AS DOUBLE) / n)
                     + 2 * (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s1 AS DOUBLE) / n))
                    / pow(CAST(s2 AS DOUBLE) / n
                          - (CAST(s1 AS DOUBLE) / n)
                            * (CAST(s1 AS DOUBLE) / n), 1.5), 6) + 0
                AS skew_pop,
              round((CAST(s4 AS DOUBLE) / n
                     - 4 * (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s3 AS DOUBLE) / n)
                     + 6 * (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s2 AS DOUBLE) / n)
                     - 3 * pow(CAST(s1 AS DOUBLE) / n, 4.0))
                    / pow(CAST(s2 AS DOUBLE) / n
                          - (CAST(s1 AS DOUBLE) / n)
                            * (CAST(s1 AS DOUBLE) / n), 2.0) - 3, 6)
                + 0 AS kurt_excess
       FROM m ORDER BY event_type""",
    "population skewness + excess kurtosis per event type "
    "(skewPop/kurtPop parity) from decimal-exact power sums",
)


@q(
    "max_concurrent_sessions",
    # ClickHouse maxIntersections parity: peak session concurrency via
    # the sweep line — sessions collapse to (start, +1)/(end, -1)
    # deltas, one global running sum finds the peak. The window runs
    # over 2x-sessions rows (already the per-user pre-aggregate), never
    # the event log; ends sort before same-instant starts (half-open
    # intervals).
    """WITH s AS (
         SELECT user_id, session_id,
                min(ts) AS t0, max(ts) AS t1
         FROM (SELECT user_id, ts, event_id,
                      sum(CASE WHEN prev IS NULL
                               OR epoch_us(ts) - epoch_us(prev)
                                  > 1800000000
                               THEN 1 ELSE 0 END)
                        OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_id
               FROM (SELECT user_id, ts, event_id,
                            lag(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS prev
                     FROM events))
         GROUP BY user_id, session_id),
       d AS (SELECT t0 AS t, 1 AS delta FROM s
             UNION ALL SELECT t1, -1 FROM s),
       r AS (SELECT CAST(sum(delta) OVER (
                      ORDER BY t, delta
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS live
             FROM d)
       SELECT CAST((SELECT count(*) FROM s) AS BIGINT) AS n_sessions,
              max(live) AS max_concurrent
       FROM r""",
    "peak concurrent sessions (maxIntersections parity): sweep-line "
    "running sum over the sessions-sized delta table",
)
def max_concurrent_sessions(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.analytics import sessionize

    ev = _t(spark, sf_dir, "events")
    s = (
        sessionize(ev, "user_id", "ts", "event_id", gap_minutes=30)
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
    )
    d = s.select(F.col("t0").alias("t"), F.lit(1).alias("delta")).unionAll(
        s.select(F.col("t1").alias("t"), F.lit(-1).alias("delta"))
    )
    w = Window.orderBy("t", "delta").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = d.select(F.sum("delta").over(w).cast("long").alias("live"))
    n = s.agg(F.count("*").alias("n_sessions"))
    return (
        r.agg(F.max("live").alias("max_concurrent"))
        .crossJoin(F.broadcast(n))
        .select("n_sessions", "max_concurrent")
    )


# =====================================================================
# Round-7 wave 21 — counter deltas and interval union time
# =====================================================================

q_sql(
    "value_delta_sum_by_type",
    # ClickHouse deltaSum parity (counter-reset-tolerant rate): the sum
    # of POSITIVE value deltas along each user's (ts, event_id)-ordered
    # stream, rolled up per event type of the later event. Deltas round
    # to 6dp and sum as exact DECIMAL; one user_id shuffle.
    """WITH d AS (SELECT event_type,
                         value - lag(value) OVER (
                           PARTITION BY user_id
                           ORDER BY ts, event_id) AS dv
                  FROM events)
       SELECT event_type,
              count(*) FILTER (WHERE dv > 0) AS n_increases,
              CAST(sum(CASE WHEN dv > 0
                       THEN CAST(round(dv, 6) AS DECIMAL(28,6))
                       ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
                AS delta_sum
       FROM d WHERE dv IS NOT NULL
       GROUP BY event_type ORDER BY event_type""",
    "deltaSum parity: positive value deltas along per-user ordered "
    "streams, decimal-exact, rolled up per event type",
)


@q(
    "active_time_union_seconds",
    # ClickHouse intervalLengthSum parity: total wall time during which
    # AT LEAST ONE session is open — the union length of all session
    # intervals, overlaps merged. Sweep line over the sessions-sized
    # delta table: running coverage count + lead(t); segments with
    # live > 0 contribute (next_t - t). Exact epoch-microsecond
    # integers to the final division.
    """WITH s AS (
         SELECT user_id, session_id, min(ts) AS t0, max(ts) AS t1
         FROM (SELECT user_id, ts, event_id,
                      sum(CASE WHEN prev IS NULL
                               OR epoch_us(ts) - epoch_us(prev)
                                  > 1800000000
                               THEN 1 ELSE 0 END)
                        OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_id
               FROM (SELECT user_id, ts, event_id,
                            lag(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS prev
                     FROM events))
         GROUP BY user_id, session_id),
       d AS (SELECT epoch_us(t0) AS t, 1 AS delta FROM s
             UNION ALL SELECT epoch_us(t1), -1 FROM s),
       r AS (SELECT t, delta,
                    CAST(sum(delta) OVER (ORDER BY t, delta
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS live,
                    lead(t) OVER (ORDER BY t, delta) AS t_next
             FROM d)
       SELECT CAST(sum(CASE WHEN live > 0 THEN t_next - t ELSE 0 END)
                   // 1000000 AS BIGINT) AS union_active_seconds,
              CAST((SELECT count(*) FROM s) AS BIGINT) AS n_sessions
       FROM r WHERE t_next IS NOT NULL""",
    "intervalLengthSum parity: union length of all session intervals "
    "(overlaps merged) via the sweep-line coverage count",
)
def active_time_union_seconds(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.analytics import sessionize

    ev = _t(spark, sf_dir, "events")
    s = (
        sessionize(ev, "user_id", "ts", "event_id", gap_minutes=30)
        .groupBy("user_id", "session_id")
        .agg(
            F.unix_micros(F.min("ts")).alias("t0"),
            F.unix_micros(F.max("ts")).alias("t1"),
        )
    )
    d = s.select(F.col("t0").alias("t"), F.lit(1).alias("delta")).unionAll(
        s.select(F.col("t1").alias("t"), F.lit(-1).alias("delta"))
    )
    w = Window.orderBy("t", "delta")
    r = d.select(
        "t",
        F.sum("delta")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("live"),
        F.lead("t").over(w).alias("t_next"),
    ).filter(F.col("t_next").isNotNull())
    n = s.agg(F.count("*").alias("n_sessions"))
    return (
        r.agg(
            F.floor(
                F.sum(
                    F.when(
                        F.col("live") > 0, F.col("t_next") - F.col("t")
                    ).otherwise(F.lit(0))
                )
                / F.lit(1000000)
            )
            .cast("long")
            .alias("union_active_seconds")
        )
        .crossJoin(F.broadcast(n))
        .select("union_active_seconds", "n_sessions")
    )


# =====================================================================
# Round-7 wave 22 — conversion latency and basket-size distributions
# =====================================================================

@q(
    "signup_to_purchase_latency",
    # Time-to-convert: days between each user's first signup and their
    # first LATER purchase, bucketed in integer days from exact epoch
    # micros. Complements conversion_by_signup_cohort (rate) and
    # purchase_gap_histogram (inter-purchase cadence).
    """WITH su AS (SELECT user_id, min(ts) AS t_signup
                   FROM events WHERE event_type = 'signup'
                   GROUP BY user_id),
       pu AS (SELECT e.user_id, min(e.ts) AS t_purchase
              FROM events e JOIN su ON su.user_id = e.user_id
              WHERE e.event_type = 'purchase' AND e.ts > su.t_signup
              GROUP BY e.user_id)
       SELECT CAST((epoch_us(pu.t_purchase) - epoch_us(su.t_signup))
                   // 86400000000 AS BIGINT) AS latency_days,
              count(*) AS n_users
       FROM su JOIN pu ON pu.user_id = su.user_id
       GROUP BY 1 ORDER BY latency_days""",
    "time-to-convert histogram: integer days from first signup to "
    "first later purchase (exact epoch micros)",
)
def signup_to_purchase_latency(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    pu = (
        ev.filter(F.col("event_type") == "purchase")
        .join(su, "user_id")
        .filter(F.col("ts") > F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    lat = F.floor(
        (
            F.unix_micros("t_purchase") - F.unix_micros("t_signup")
        )
        / F.lit(86400000000)
    ).cast("long")
    return (
        su.join(pu, "user_id")
        .select(lat.alias("latency_days"))
        .groupBy("latency_days")
        .agg(F.count("*").alias("n_users"))
        .orderBy("latency_days")
    )


@q(
    "order_line_count_histogram",
    # Basket-size distribution: how many orders have 1, 2, 3... line
    # items — the fan-out profile every per-order self-join's cost
    # model (basket_cooccurrence_topk) depends on. Two hash
    # aggregations, orders-sized then histogram-sized.
    """WITH o AS (SELECT l_orderkey, count(*) AS n_lines
                  FROM lineitem GROUP BY l_orderkey)
       SELECT n_lines, count(*) AS n_orders,
              round(CAST(count(*) AS DOUBLE)
                    / (SELECT count(*) FROM o), 6) + 0 AS order_share
       FROM o GROUP BY n_lines ORDER BY n_lines""",
    "basket-size histogram: orders per line-item count (the fan-out "
    "profile behind per-order self-join cost)",
)
def order_line_count_histogram(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = li.groupBy("l_orderkey").agg(F.count("*").alias("n_lines"))
    t = o.agg(F.count("*").alias("__tot"))
    return (
        o.groupBy("n_lines")
        .agg(F.count("*").alias("n_orders"))
        .crossJoin(F.broadcast(t))
        .select(
            "n_lines",
            "n_orders",
            (
                F.round(
                    F.col("n_orders").cast("double") / F.col("__tot"), 6
                )
                + F.lit(0.0)
            ).alias("order_share"),
        )
        .orderBy("n_lines")
    )


# =====================================================================
# Round-7 wave 23 — activity-distribution percentiles
# =====================================================================

@q(
    "user_activity_percentiles",
    # The activity-distribution summary (events per user): exact
    # interpolated p50/p90/p99 over the users-sized pre-aggregate plus
    # mean — the sibling of user_activity_gini that reports the shape,
    # not just the inequality scalar. Integer inputs make the
    # interpolation arithmetic engine-identical.
    """WITH u AS (SELECT user_id, count(*) AS cnt
                  FROM events GROUP BY user_id)
       SELECT CAST(count(*) AS BIGINT) AS n_users,
              round(quantile_cont(cnt, 0.5), 6) + 0 AS p50,
              round(quantile_cont(cnt, 0.9), 6) + 0 AS p90,
              round(quantile_cont(cnt, 0.99), 6) + 0 AS p99,
              round(CAST(sum(cnt) AS DOUBLE) / count(*), 6) + 0
                AS mean_events
       FROM u""",
    "events-per-user distribution: exact interpolated p50/p90/p99 + "
    "mean over the users-sized pre-aggregate",
)
def user_activity_percentiles(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
    return u.agg(
        F.count("*").alias("n_users"),
        (
            F.round(F.expr("percentile(cnt, 0.5)"), 6) + F.lit(0.0)
        ).alias("p50"),
        (
            F.round(F.expr("percentile(cnt, 0.9)"), 6) + F.lit(0.0)
        ).alias("p90"),
        (
            F.round(F.expr("percentile(cnt, 0.99)"), 6) + F.lit(0.0)
        ).alias("p99"),
        (
            F.round(
                F.sum("cnt").cast("double") / F.count("*"), 6
            )
            + F.lit(0.0)
        ).alias("mean_events"),
    )


# =====================================================================
# Round-7 wave 24 — dedup savings accounting and GROUPING SETS
# =====================================================================

@q(
    "dedup_token_savings_by_source",
    # The number every dedup report leads with: token savings. Exact
    # dedup keeps the lowest doc_id per md5(text) group; per source,
    # total vs surviving whitespace tokens and the savings rate.
    # Survivor selection is a digest-keyed min aggregate joined back on
    # doc id — bodies never shuffle.
    """WITH t AS (SELECT doc_id, source,
                         len(string_split(text, ' ')) AS n_tok,
                         md5(text) AS h
                  FROM documents),
       k AS (SELECT min(doc_id) AS keep FROM t GROUP BY h)
       SELECT source,
              CAST(sum(n_tok) AS BIGINT) AS total_tokens,
              CAST(sum(CASE WHEN k.keep IS NOT NULL THEN n_tok
                            ELSE 0 END) AS BIGINT) AS surviving_tokens,
              round(CAST(sum(CASE WHEN k.keep IS NULL THEN n_tok
                                  ELSE 0 END) AS DOUBLE)
                    / sum(n_tok), 6) + 0 AS savings_rate
       FROM t LEFT JOIN k ON k.keep = t.doc_id
       GROUP BY source ORDER BY source""",
    "exact-dedup token savings per source: total vs surviving "
    "(keep-lowest-id) whitespace tokens and the removal rate",
)
def dedup_token_savings_by_source(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        F.size(D.tokens("text")).alias("n_tok"),
        F.md5("text").alias("h"),
    )
    k = t.groupBy("h").agg(F.min("doc_id").alias("keep")).select("keep")
    kept = F.col("keep").isNotNull()
    return (
        t.join(k, t.doc_id == k.keep, "left")
        .groupBy("source")
        .agg(
            F.sum("n_tok").alias("total_tokens"),
            F.sum(F.when(kept, F.col("n_tok")).otherwise(0)).alias(
                "surviving_tokens"
            ),
            (
                F.round(
                    F.sum(
                        F.when(~kept, F.col("n_tok")).otherwise(0)
                    ).cast("double")
                    / F.sum("n_tok"),
                    6,
                )
                + F.lit(0.0)
            ).alias("savings_rate"),
        )
        .orderBy("source")
    )


@q(
    "grouping_sets_event_report",
    # §2.4 completeness: the third grouping construct alongside ROLLUP
    # and CUBE — an EXPLICIT GROUPING SETS list ((type), (weekday), ())
    # with grouping() flags disambiguating the subtotal NULLs from real
    # values on both engines.
    """SELECT coalesce(event_type, '(all)') AS event_type,
              CAST(coalesce(isodow(ts), -1) AS INTEGER) AS dow,
              CAST(grouping(event_type) AS INTEGER) AS g_type,
              CAST(grouping(isodow(ts)) AS INTEGER) AS g_dow,
              count(*) AS cnt
       FROM events
       GROUP BY GROUPING SETS ((event_type), (isodow(ts)), ())
       ORDER BY g_type, g_dow, event_type, dow""",
    "explicit GROUPING SETS ((type), (weekday), ()) with grouping() "
    "subtotal flags (completes ROLLUP/CUBE/GROUPING SETS)",
)
def grouping_sets_event_report(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__gs_events")
    # ISO weekday in Spark: dayofweek is 1=Sunday..7=Saturday
    return ev.sparkSession.sql(
        """SELECT coalesce(event_type, '(all)') AS event_type,
                  CAST(coalesce((dayofweek(ts) + 5) % 7 + 1, -1)
                       AS INT) AS dow,
                  CAST(grouping(event_type) AS INT) AS g_type,
                  CAST(grouping((dayofweek(ts) + 5) % 7 + 1) AS INT)
                    AS g_dow,
                  count(*) AS cnt
           FROM __gs_events
           GROUP BY GROUPING SETS ((event_type),
                                   ((dayofweek(ts) + 5) % 7 + 1), ())
           ORDER BY g_type, g_dow, event_type, dow"""
    )


# =====================================================================
# Round-7 wave 25 — revenue concentration (Pareto/ABC)
# =====================================================================

@q(
    "revenue_pareto_report",
    # The 80/20 audit: how few customers carry 80% of revenue. Revenue
    # is decimal-exact per customer; the cumulative window runs over
    # the customers-sized pre-aggregate under a total (revenue desc,
    # custkey) order, and every comparison happens on exact DECIMALs
    # (threshold = total * 0.8 is exact decimal multiplication).
    """WITH r AS (SELECT o.o_custkey,
                         sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(18,4))) AS rev
                  FROM lineitem l
                  JOIN orders o ON o.o_orderkey = l.l_orderkey
                  GROUP BY o.o_custkey),
       t AS (SELECT CAST(sum(rev) AS DECIMAL(28,4)) AS total,
                    CAST(max(rev) AS DECIMAL(18,4)) AS top1,
                    count(*) AS n FROM r),
       c AS (SELECT rev,
                    CAST(sum(rev) OVER (ORDER BY rev DESC, o_custkey
                         ROWS UNBOUNDED PRECEDING) AS DECIMAL(28,4))
                      AS cum
             FROM r)
       SELECT CAST(t.n AS BIGINT) AS n_customers,
              CAST(count(*) FILTER (WHERE c.cum - c.rev
                   < t.total * CAST(0.8 AS DECIMAL(3,1))) AS BIGINT)
                AS customers_for_80pct,
              round(CAST(count(*) FILTER (WHERE c.cum - c.rev
                         < t.total * CAST(0.8 AS DECIMAL(3,1)))
                         AS DOUBLE) / t.n, 6) + 0 AS customer_share,
              round(CAST(t.top1 AS DOUBLE) / CAST(t.total AS DOUBLE), 6)
                + 0 AS top1_revenue_share
       FROM c, t GROUP BY t.n, t.top1, t.total""",
    "Pareto/ABC revenue concentration: customers needed for 80% of "
    "revenue (decimal-exact cumulative over the customers-sized table)",
)
def revenue_pareto_report(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    r = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            ).alias("rev")
        )
    )
    t = r.agg(
        F.sum("rev").cast("decimal(28,4)").alias("total"),
        F.max("rev").cast("decimal(18,4)").alias("top1"),
        F.count("*").alias("n"),
    )
    w = Window.orderBy(F.desc("rev"), "o_custkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = r.select(
        "rev", F.sum("rev").over(w).cast("decimal(28,4)").alias("cum")
    )
    need = (F.col("cum") - F.col("rev")) < (
        F.col("total") * F.lit(0.8).cast("decimal(3,1)")
    )
    return (
        c.crossJoin(F.broadcast(t))
        .agg(
            F.first("n").alias("n_customers"),
            F.count(F.when(need, F.lit(1))).alias("customers_for_80pct"),
            (
                F.round(
                    F.count(F.when(need, F.lit(1))).cast("double")
                    / F.first("n"),
                    6,
                )
                + F.lit(0.0)
            ).alias("customer_share"),
            (
                F.round(
                    F.first("top1").cast("double")
                    / F.first("total").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("top1_revenue_share"),
        )
    )


# ---------------------------------------------------------------------
# Hashed n-gram linear classifier (fastText-style quality filter —
# DCLM / FineWeb-Edu curation stage; operators/classifier.py)
# ---------------------------------------------------------------------

# The model constant the oracle interpolates (house rule: oracle and
# engine share ONE constant, computed once at import): 256 integer
# micro-weights derived from md5, stand-in for trained fastText weights
# with the same storage/plan shape.
from neo4j_to_clickhouse_spark.operators.classifier import (  # noqa: E402
    weight_table as _cls_weight_table,
)

_CLS_W = _cls_weight_table(256, 7)
_CLS_W_SQL = "[" + ", ".join(str(w) for w in _CLS_W) + "]"

# one-vs-all taxonomy model for the multi-class lane: three synthetic
# per-class vectors in ONE shared bucket space (names sorted — the
# argmax tie-break order)
_MC_W = {
    "code": _cls_weight_table(256, 8),
    "news": _cls_weight_table(256, 9),
    "web": _cls_weight_table(256, 10),
}
_MC_W_SQL = {
    k: "[" + ", ".join(str(w) for w in v) + "]"
    for k, v in _MC_W.items()
}

# Shared oracle prelude: tokenize exactly like dedup.tokens (strip, ''
# -> [], split \s+), build unigrams+bigrams, score = mean hashed-gram
# micro-weight (exact BIGINT sum; ONE correctly-rounded division).
_CLS_SCORED_CTE = rf"""t AS (SELECT doc_id, source, n_chars,
    CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = ''
         THEN []::VARCHAR[]
         ELSE regexp_split_to_array(
                regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')
    END AS toks
  FROM documents),
g AS (SELECT doc_id, source, n_chars,
    toks || list_transform(range(1, len(toks)),
                           i -> toks[i] || ' ' || toks[i+1]) AS grams
  FROM t),
scored AS (SELECT doc_id, source, n_chars,
  CASE WHEN len(grams) = 0 THEN 0.0
       ELSE round(CAST(list_sum(list_transform(grams, x ->
              ({_CLS_W_SQL})[1 + CAST(('0x' || substr(md5('7:' || x),
                                                      1, 8))::BIGINT
                                      % 256 AS INT)]))
            AS DOUBLE) / (len(grams) * 1000000.0), 6) + 0 END AS score
FROM g)"""


@q(
    "quality_classifier_stats",
    # Certifies fastText-style hashed-ngram linear inference
    # (operators/classifier.py::score_documents — the DCLM/FineWeb-Edu
    # quality-filter shape): unigram+bigram features, md5 bucket mod
    # 256, integer micro-weight sums (exact), one rounded division.
    # The oracle recomputes the full scoring pipeline in DuckDB list
    # lambdas — a hard bit-for-bit check, not a planted closed form.
    f"""WITH {_CLS_SCORED_CTE}
       SELECT source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_positive,
              round(CAST(sum(CAST(score AS DECIMAL(28,6))) AS DOUBLE)
                    / count(*), 6) + 0 AS avg_score
       FROM scored GROUP BY source ORDER BY source""",
    "hashed n-gram linear classifier (fastText inference shape): "
    "plan-literal weight vector, zero shuffle, exact integer sums — "
    "the DCLM/FineWeb-Edu quality-filter stage",
)
def quality_classifier_stats(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.classifier import (
        score_documents,
    )

    scored = score_documents(
        _t(spark, sf_dir, "documents"), "text", _CLS_W, seed=7
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(F.col("score") > 0, 1).otherwise(0)
            ).alias("n_positive"),
            (F.round(_avg(F.col("score")), 6) + F.lit(0.0)).alias(
                "avg_score"
            ),
        )
        .orderBy("source")
    )


@q(
    "quality_classifier_broadcast_stats",
    # Certifies the BROADCAST-GATHER scoring kernel (VERDICT r14 item
    # 5, operators/classifier.py::_gather_sum_udf): the large-feature-
    # space path above the ~100k plan-literal ceiling — buckets hashed
    # JVM-side, weights gathered in one Arrow-batched numpy int64 sum.
    # Same bucket space and weights as quality_classifier_stats, same
    # oracle: the kernel must be bit-equal to the literal chain, so
    # one SQL restatement certifies both formulations.
    f"""WITH {_CLS_SCORED_CTE}
       SELECT source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_positive,
              round(CAST(sum(CAST(score AS DECIMAL(28,6))) AS DOUBLE)
                    / count(*), 6) + 0 AS avg_score
       FROM scored GROUP BY source ORDER BY source""",
    "broadcast-gather classifier scoring (the >100k-bucket path): "
    "JVM-side bucket hashing + one Arrow numpy gather, certified "
    "bit-equal to the plan-literal formulation's oracle",
)
def quality_classifier_broadcast_stats(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.classifier import (
        score_documents,
    )

    scored = score_documents(
        _t(spark, sf_dir, "documents"),
        "text",
        _CLS_W,
        seed=7,
        weight_strategy="broadcast",
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(F.col("score") > 0, 1).otherwise(0)
            ).alias("n_positive"),
            (F.round(_avg(F.col("score")), 6) + F.lit(0.0)).alias(
                "avg_score"
            ),
        )
        .orderBy("source")
    )


_MC_SCORE_COLS_SQL = ",\n        ".join(
    "CASE WHEN len(grams) = 0 THEN 0.0 ELSE round(CAST(list_sum("
    "list_transform(grams, x -> ({w})[1 + CAST(('0x' || "
    "substr(md5('7:' || x), 1, 8))::BIGINT % 256 AS INT)])) AS DOUBLE)"
    " / (len(grams) * 1000000.0), 6) + 0 END AS s_{n}".format(
        w=_MC_W_SQL[n], n=n
    )
    for n in sorted(_MC_W)
)


@q(
    "topic_classifier_stats",
    # Certifies one-vs-all MULTI-CLASS linear tagging
    # (operators/classifier.py::score_documents_multiclass — the
    # topic/domain taxonomy step curation pipelines run after binary
    # quality filtering, feeding per-domain mixture weights): three
    # per-class vectors in one shared bucket space, scores with the
    # binary lane's exact rounding contract, argmax label with the
    # deterministic first-in-sorted-name-order tie-break (all-zero
    # docs label 'code'). The oracle replays all three sums and the
    # tie-break as CASE comparisons over the rounded scores; the
    # reused scored CTE from the binary lane goes unreferenced.
    f"""WITH {_CLS_SCORED_CTE},
       mc AS (SELECT doc_id, source,
        {_MC_SCORE_COLS_SQL}
        FROM g),
       lab AS (SELECT source,
               CASE WHEN s_code >= s_news AND s_code >= s_web
                    THEN 'code'
                    WHEN s_news >= s_web THEN 'news'
                    ELSE 'web' END AS label,
               greatest(s_code, s_news, s_web) AS win
               FROM mc)
       SELECT source, label,
              CAST(count(*) AS BIGINT) AS n_docs,
              round(CAST(sum(CAST(win AS DECIMAL(28,6))) AS DOUBLE),
                    6) + 0 AS win_score_sum
       FROM lab GROUP BY source, label ORDER BY source, label""",
    "one-vs-all multi-class linear tagging (topic/domain taxonomy): "
    "shared bucket hashing computed once, k plan-literal score "
    "columns, codegen argmax with deterministic tie-break",
)
def topic_classifier_stats(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.classifier import (
        score_documents_multiclass,
    )

    tagged = score_documents_multiclass(
        _t(spark, sf_dir, "documents"), "text", _MC_W, seed=7
    )
    win = F.greatest(
        *[F.col(f"score_{n}") for n in sorted(_MC_W)]
    )
    return (
        tagged.withColumn("win", win)
        .groupBy("source", "label")
        .agg(
            F.count("*").alias("n_docs"),
            (
                F.round(
                    F.sum(
                        F.col("win").cast("decimal(28,6)")
                    ).cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("win_score_sum"),
        )
        .orderBy("source", "label")
    )


@q(
    "topic_mixture_report",
    # Certifies the composed taxonomy -> mixture pipeline (the reason
    # the tagger exists): score_documents_multiclass assigns each doc
    # its argmax topic, then budget_mixture hits a per-TOPIC token
    # budget (code 0.5 / news 0.3 / web 0.2 of 20000 estimate tokens)
    # with the deterministic md5-threshold member set. The oracle
    # recomputes the tagging, the per-topic rates AND the exact member
    # set — a hard end-to-end check of the composition, not just the
    # pieces.
    f"""WITH {_CLS_SCORED_CTE},
       mc AS (SELECT doc_id, source,
        {_MC_SCORE_COLS_SQL}
        FROM g),
       lab AS (SELECT doc_id, source,
               CASE WHEN s_code >= s_news AND s_code >= s_web
                    THEN 'code'
                    WHEN s_news >= s_web THEN 'news'
                    ELSE 'web' END AS label
               FROM mc),
       doc AS (SELECT l.doc_id, l.source, l.label,
                      CAST(ceil(length(d.text) / 4.0) AS BIGINT) AS t
               FROM lab l JOIN documents d USING (doc_id)),
       tokg AS (SELECT label, CAST(sum(t) AS BIGINT) AS tok
                FROM doc GROUP BY label),
       r AS (SELECT label,
                least(1.0, 20000.0 *
                    (CASE label WHEN 'code' THEN 0.5
                          WHEN 'news' THEN 0.3 ELSE 0.2 END)
                  / CAST(tok AS DOUBLE)) AS rate
             FROM tokg),
       kept AS (SELECT doc.source, doc.label, doc.t, r.rate
                FROM doc JOIN r USING (label)
                WHERE ('0x' || substr(md5(CAST(doc.doc_id
                                               AS VARCHAR)), 1, 8)
                      )::BIGINT
                      < CAST(floor(r.rate * 4294967296.0) AS BIGINT))
       SELECT source, label AS topic,
              round(min(rate), 6) + 0 AS mixture_rate,
              CAST(count(*) AS BIGINT) AS n_kept,
              CAST(sum(t) AS BIGINT) AS tokens_kept
       FROM kept GROUP BY source, label ORDER BY source, topic""",
    "taxonomy-driven mixture: argmax topic tagging -> per-topic token "
    "budgets -> deterministic md5-threshold sampling, the composition "
    "certified end-to-end (tags, rates, and member set recomputed)",
)
def topic_mixture_report(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.classifier import (
        score_documents_multiclass,
    )
    from neo4j_to_clickhouse_spark.operators.sampling import (
        budget_mixture,
    )
    from neo4j_to_clickhouse_spark.operators.text import (
        subword_estimate,
    )

    tagged = score_documents_multiclass(
        _t(spark, sf_dir, "documents"), "text", _MC_W, seed=7
    )
    tok = subword_estimate("text")
    kept = budget_mixture(
        tagged,
        "label",
        "doc_id",
        {"code": 0.5, "news": 0.3, "web": 0.2},
        20000,
        tok,
    )
    return (
        kept.groupBy("source", F.col("label").alias("topic"))
        .agg(
            (F.round(F.min("mixture_rate"), 6) + F.lit(0.0)).alias(
                "mixture_rate"
            ),
            F.count("*").alias("n_kept"),
            F.sum(tok).alias("tokens_kept"),
        )
        .select(
            "source", "topic", "mixture_rate", "n_kept", "tokens_kept"
        )
        .orderBy("source", "topic")
    )


@q(
    "classifier_topp_selection_stats",
    # Certifies exact top-fraction selection WITHOUT a global sort
    # (operators/classifier.py::select_top_fraction — DCLM keeps the
    # top ~10-25% by classifier score): the engine runs the
    # histogram-threshold + boundary-tie algorithm; the oracle states
    # the naive global window it must equal member-for-member.
    f"""WITH {_CLS_SCORED_CTE},
       sel AS (SELECT * FROM scored
               QUALIFY row_number() OVER (ORDER BY score DESC, doc_id)
                       <= ceil(0.25 * (SELECT count(*) FROM scored)))
       SELECT source,
              CAST(count(*) AS BIGINT) AS n_kept,
              min(score) AS min_kept_score,
              CAST(sum(n_chars) AS BIGINT) AS chars_kept
       FROM sel GROUP BY source ORDER BY source""",
    "top-25% selection by classifier score with NO global sort: "
    "score-histogram threshold + boundary-tie ranking, certified "
    "against the naive window formulation",
)
def classifier_topp_selection_stats(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.classifier import (
        score_documents,
        select_top_fraction,
    )

    scored = score_documents(
        _t(spark, sf_dir, "documents"), "text", _CLS_W, seed=7
    )
    sel = select_top_fraction(scored, "score", "doc_id", 0.25)
    return (
        sel.groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.min("score").alias("min_kept_score"),
            F.sum("n_chars").alias("chars_kept"),
        )
        .orderBy("source")
    )


@q(
    "threshold_selection_stats",
    # Certifies the calibrate-then-broadcast ONLINE selection gate
    # (operators/classifier.py::calibrate_threshold — VERDICT r13 item
    # 6): the engine computes the top-25% score threshold from the
    # bounded histogram as ONE driver float, then filters score >= t
    # (the exact plan the ingest stream runs with score_threshold=t).
    # The oracle restates the same histogram/threshold algebra in SQL:
    # t = the score where the descending cumulative count first
    # reaches k = ceil(0.25 * n). Unlike the exact-k batch ranker
    # (classifier_topp_selection_stats), the gate keeps ALL ties at t.
    f"""WITH {_CLS_SCORED_CTE},
       hist AS (SELECT score, count(*) AS n FROM scored GROUP BY score),
       cum AS (SELECT score, n,
                      sum(n) OVER (ORDER BY score DESC) AS c
               FROM hist),
       kk AS (SELECT ceil(0.25 * count(*)) AS k FROM scored),
       thresh AS (SELECT score AS t FROM cum, kk
                  WHERE c >= kk.k AND c - n < kk.k),
       sel AS (SELECT * FROM scored
               WHERE score >= (SELECT t FROM thresh))
       SELECT source,
              CAST(count(*) AS BIGINT) AS n_kept,
              min(score) + 0 AS min_kept_score,
              CAST(sum(n_chars) AS BIGINT) AS chars_kept
       FROM sel GROUP BY source ORDER BY source""",
    "online top-fraction gate: histogram-calibrated threshold "
    "broadcast as a plan literal, score >= t inside the scan — the "
    "streaming form of DCLM selection (ties at t all kept)",
)
def threshold_selection_stats(spark, sf_dir):
    from pyspark import StorageLevel

    from neo4j_to_clickhouse_spark.operators.classifier import (
        calibrate_threshold,
        score_documents,
    )

    # persist the scored frame: calibration materializes it for the
    # histogram, the gate's final aggregate reuses it — without the
    # cache the corpus is SCORED twice (measured 5.9 s -> one scoring
    # pass at sf0.1). Same shared-plan cache idiom as the dedup
    # shingle frames; in the streaming deployment calibration runs
    # once on a sample and only the literal travels.
    scored = score_documents(
        _t(spark, sf_dir, "documents"), "text", _CLS_W, seed=7
    ).persist(StorageLevel.MEMORY_AND_DISK)
    t = calibrate_threshold(scored, "score", 0.25)
    sel = scored.filter(F.col("score") >= F.lit(t))
    return (
        sel.groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            (F.min("score") + F.lit(0.0)).alias("min_kept_score"),
            F.sum("n_chars").alias("chars_kept"),
        )
        .orderBy("source")
    )


@q(
    "rolling_threshold_trajectory",
    # Certifies the ROLLING recalibration loop (VERDICT r14 item 4,
    # operators/classifier.py::rolling_threshold_report — the batch
    # restatement of the streaming recalibrator): documents are
    # deterministically assigned to 6 md5 batches, and each batch's
    # gate threshold is calibrated on the trailing-3-batch score
    # histogram (top-25%, ties kept — gate semantics). The oracle
    # restates the whole trajectory: per-batch histograms, the
    # window-aligned pool, the descending-cumulative threshold row,
    # and the kept count of each batch's own documents.
    f"""WITH {_CLS_SCORED_CTE},
       sb AS (SELECT score,
                CAST(('0x' || substr(md5('b:' ||
                        CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                     % 6 AS INT) AS batch
              FROM scored),
       hist AS (SELECT batch, score, count(*) AS n
                FROM sb GROUP BY batch, score),
       batches AS (SELECT DISTINCT batch FROM sb),
       pool AS (SELECT b.batch AS b, h.score, sum(h.n) AS n
                FROM batches b
                JOIN hist h ON h.batch <= b.batch
                           AND h.batch > b.batch - 3
                GROUP BY b.batch, h.score),
       cum AS (SELECT b, score, n,
                      sum(n) OVER (PARTITION BY b
                                   ORDER BY score DESC) AS c
               FROM pool),
       tot AS (SELECT b, sum(n) AS total FROM pool GROUP BY b),
       thr AS (SELECT cum.b, cum.score AS t, tot.total
               FROM cum JOIN tot ON cum.b = tot.b
               WHERE c >= ceil(0.25 * total)
                 AND c - n < ceil(0.25 * total)),
       bd AS (SELECT batch, sum(n) AS batch_docs
              FROM hist GROUP BY batch),
       kept AS (SELECT h.batch, sum(h.n) AS batch_kept
                FROM hist h JOIN thr ON h.batch = thr.b
                WHERE h.score >= thr.t GROUP BY h.batch)
       SELECT thr.b AS batch, thr.t + 0 AS threshold,
              CAST(thr.total AS BIGINT) AS pool_docs,
              CAST(bd.batch_docs AS BIGINT) AS batch_docs,
              CAST(coalesce(kept.batch_kept, 0) AS BIGINT)
                AS batch_kept
       FROM thr
       JOIN bd ON bd.batch = thr.b
       LEFT JOIN kept ON kept.batch = thr.b
       ORDER BY batch""",
    "rolling gate recalibration trajectory: per-batch trailing-window "
    "histogram thresholds (top-25%, ties kept) with pool/kept "
    "accounting — the drift-tracking form of online selection",
)
def rolling_threshold_trajectory(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.classifier import (
        rolling_threshold_report,
        score_documents,
    )
    from neo4j_to_clickhouse_spark.operators.sampling import md5_u32

    scored = score_documents(
        _t(spark, sf_dir, "documents"), "text", _CLS_W, seed=7
    )
    sb = scored.select(
        "score",
        (
            md5_u32(
                F.concat(F.lit("b:"), F.col("doc_id").cast("string"))
            )
            % 6
        )
        .cast("int")
        .alias("batch"),
    )
    return rolling_threshold_report(
        sb, "score", "batch", 0.25, window=3
    )


@q(
    "cdx_fetch_plan_stats",
    # Certifies the CDX(J) crawl-index source (sources/cdx.py):
    # Common Crawl's per-capture index lines are planted from doc_id
    # (incl. a malformed-line lane at doc_id%7==0 that must quarantine),
    # parsed by codegen regex + JSON-path on BOTH engines, then
    # selected (status 200, text/html) into the per-WARC-file
    # byte-range fetch plan. Hard full-recompute oracle: DuckDB builds
    # and parses the very same lines.
    r"""WITH lines AS (SELECT
         CASE WHEN doc_id % 7 = 0 THEN 'not a cdx line'
              ELSE 'com,example)/p' || doc_id || ' 20240101'
                   || lpad(CAST(doc_id % 86400 AS VARCHAR), 6, '0')
                   || ' {"url":"http://example.com/p' || doc_id
                   || '","mime":"'
                   || CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                           ELSE 'text/html' END
                   || '","status":"'
                   || CASE WHEN doc_id % 4 <= 1 THEN '200'
                           WHEN doc_id % 4 = 2 THEN '301'
                           ELSE '404' END
                   || '","digest":"D' || doc_id
                   || '","length":"' || (500 + doc_id % 300)
                   || '","offset":"' || (doc_id * 1000)
                   || '","filename":"crawl-' || (doc_id % 5)
                   || '.warc.gz"}'
         END AS line
       FROM documents),
       p AS (SELECT NULLIF(regexp_extract(line,
                      '^(\S+) (\d{14}) (\{.*\})$', 3), '') AS j
             FROM lines),
       sel AS (SELECT
                json_extract_string(j, '$.filename') AS warc_filename,
                CAST(json_extract_string(j, '$.status') AS INT)
                  AS status,
                json_extract_string(j, '$.mime') AS mime,
                CAST(json_extract_string(j, '$.length') AS BIGINT)
                  AS len,
                CAST(json_extract_string(j, '$.offset') AS BIGINT)
                  AS off
               FROM p WHERE j IS NOT NULL)
       SELECT warc_filename,
              CAST(count(*) AS BIGINT) AS n_records,
              CAST(sum(len) AS BIGINT) AS bytes_total,
              min(off) AS offset_min,
              max(off) AS offset_max
       FROM sel
       WHERE status = 200 AND mime LIKE 'text/html%'
       GROUP BY warc_filename ORDER BY warc_filename""",
    "CDX crawl-index source: parse CDXJ capture lines (codegen regex "
    "+ JSON path, malformed lines quarantined), select 200/text-html "
    "captures, emit the per-WARC-file byte-range fetch plan",
)
def cdx_fetch_plan_stats(spark, sf_dir):
    from neo4j_to_clickhouse_spark.sources.cdx import (
        cdx_fetch_plan,
        parse_cdxj,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    sid = i.cast("string")
    line = F.when(i % 7 == 0, F.lit("not a cdx line")).otherwise(
        F.concat(
            F.lit("com,example)/p"),
            sid,
            F.lit(" 20240101"),
            F.lpad((i % 86400).cast("string"), 6, "0"),
            F.lit(' {"url":"http://example.com/p'),
            sid,
            F.lit('","mime":"'),
            F.when(i % 3 == 0, F.lit("image/png")).otherwise(
                F.lit("text/html")
            ),
            F.lit('","status":"'),
            F.when(i % 4 <= 1, F.lit("200"))
            .when(i % 4 == 2, F.lit("301"))
            .otherwise(F.lit("404")),
            F.lit('","digest":"D'),
            sid,
            F.lit('","length":"'),
            (i % 300 + 500).cast("string"),
            F.lit('","offset":"'),
            (i * 1000).cast("string"),
            F.lit('","filename":"crawl-'),
            (i % 5).cast("string"),
            F.lit('.warc.gz"}'),
        )
    )
    parsed = parse_cdxj(d.select(line.alias("line")), "line")
    return cdx_fetch_plan(
        parsed, statuses=(200,), mime_prefixes=("text/html",)
    ).orderBy("warc_filename")


@q(
    "link_extraction_stats",
    # Certifies anchor extraction + RFC 3986 reference resolution
    # (functions/url.py::extract_links — the link-graph edge builder):
    # every doc gets 5 planted anchors — absolute external
    # (h{doc_id%7}.test), root-relative (-> base origin), directory-
    # relative (-> base dir), mailto: and #fragment (both must drop) —
    # with one uppercase <A HREF> exercising case-insensitivity.
    # Closed form: 3 resolved links/page, 2 internal, external host
    # set = distinct doc_id%7 per source.
    """SELECT source,
              CAST(count(*) AS BIGINT) AS n_pages,
              CAST(3 * count(*) AS BIGINT) AS n_links,
              CAST(2 * count(*) AS BIGINT) AS n_internal,
              CAST(count(DISTINCT doc_id % 7) AS BIGINT)
                AS n_external_hosts
       FROM documents GROUP BY source ORDER BY source""",
    "anchor <a href> extraction + reference resolution (absolute / "
    "protocol- and root-relative / directory-relative; javascript:, "
    "mailto:, fragments dropped) — the link-graph edge builder",
)
def link_extraction_stats(spark, sf_dir):
    from neo4j_to_clickhouse_spark.functions.url import (
        extract_links,
        url_host,
    )

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    i = F.col("doc_id")
    sid = i.cast("string")
    base = F.concat(
        F.lit("http://base"),
        (i % 3).cast("string"),
        F.lit(".test/dir/page"),
        sid,
        F.lit(".html"),
    )
    html = F.concat(
        F.col("text"),
        F.lit('<a href="http://h'),
        (i % 7).cast("string"),
        F.lit(".test/x"),
        sid,
        F.lit('">e</a>'),
        F.lit("<A HREF='/root'>r</A>"),
        F.lit('<a href="rel'),
        sid,
        F.lit('.html">l</a>'),
        F.lit('<a href="mailto:x@y.test">m</a>'),
        F.lit('<a href="#frag">f</a>'),
    )
    pages = d.select(
        "source",
        url_host(base).alias("bh"),
        extract_links(html, base).alias("links"),
    )
    ex = pages.select(
        "source", "bh", F.explode("links").alias("link")
    ).withColumn("host", url_host(F.col("link")))
    per_page = pages.groupBy("source").agg(
        F.count("*").alias("n_pages")
    )
    per_link = ex.groupBy("source").agg(
        F.count("*").alias("n_links"),
        F.sum(
            F.when(F.col("host") == F.col("bh"), 1).otherwise(0)
        ).alias("n_internal"),
        F.countDistinct(
            F.when(F.col("host") != F.col("bh"), F.col("host"))
        ).alias("n_external_hosts"),
    )
    return per_page.join(per_link, "source").orderBy("source")


@q(
    "token_budget_mixture_stats",
    # Certifies the mixture planner + deterministic budget sample
    # (operators/sampling.py::mixture_rates/budget_mixture — the
    # Pile/Dolma "hit a target token mix" step): weight w_g =
    # (1 + src_num % 4) / 10 derived from the source name, budget
    # 20000 subword-estimate tokens, keep-rate min(1, budget*w/tok_g),
    # member set = md5(doc_id) under floor(rate * 2^32). The oracle
    # RECOMPUTES rates and the exact member set — a hard check of both
    # the planning arithmetic and the hash-threshold sampling.
    r"""WITH tok AS (SELECT source,
                CAST(sum(CAST(ceil(length(text) / 4.0) AS BIGINT))
                     AS BIGINT) AS tok
              FROM documents GROUP BY source),
       r AS (SELECT source, tok,
                least(1.0, (20000.0 *
                    ((1 + CAST(regexp_extract(source, 'src(\d+)', 1)
                               AS INT) % 4) / 10.0))
                  / CAST(tok AS DOUBLE)) AS rate
             FROM tok),
       kept AS (SELECT d.source,
                       CAST(ceil(length(d.text) / 4.0) AS BIGINT) AS t
                FROM documents d JOIN r USING (source)
                WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),
                                      1, 8))::BIGINT
                      < CAST(floor(r.rate * 4294967296.0) AS BIGINT)),
       agg AS (SELECT source, count(*) AS n_kept,
                      CAST(sum(t) AS BIGINT) AS tokens_kept
               FROM kept GROUP BY source)
       SELECT r.source, round(r.rate, 6) + 0 AS mixture_rate,
              CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept,
              CAST(coalesce(agg.tokens_kept, 0) AS BIGINT)
                AS tokens_kept
       FROM r LEFT JOIN agg USING (source)
       ORDER BY r.source""",
    "token-budget mixture sampling (Pile/Dolma mixture planning): "
    "per-source keep-rates min(1, budget*w/tokens) computed "
    "distributed, deterministic md5-threshold member set — rates AND "
    "members recomputed by the oracle",
)
def token_budget_mixture_stats(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.sampling import (
        budget_mixture,
        mixture_rates,
    )
    from neo4j_to_clickhouse_spark.operators.text import (
        subword_estimate,
    )

    docs = _t(spark, sf_dir, "documents")
    w = (
        1
        + F.regexp_extract("source", r"src(\d+)", 1).cast("int") % 4
    ) / 10.0
    tok = subword_estimate("text")
    kept = budget_mixture(
        docs, "source", "doc_id", w, 20000, tok
    )
    rates = mixture_rates(docs, "source", w, 20000, tok)
    agg = kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum(tok).alias("tokens_kept"),
    )
    return (
        rates.join(agg, "source", "left")
        .select(
            "source",
            (F.round(F.col("mixture_rate"), 6) + F.lit(0.0)).alias(
                "mixture_rate"
            ),
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            F.coalesce(F.col("tokens_kept"), F.lit(0)).alias(
                "tokens_kept"
            ),
        )
        .orderBy("source")
    )


def _minhash_incremental_frames(spark, sf_dir):
    """(old, new) corpus split for the incremental near-dup fixture:
    old = 2/3 of documents (the historical store's contents), new = the
    remaining 1/3 with every doc_id % 6 == 0 row replaced by a clone of
    an old document (the planted near-dup lane). Shared by the
    certified registry query (which builds the store inline) and the
    bench probe row (which builds the store UNTIMED — production probes
    a persisted store, so the timed path must be the probe alone)."""
    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 3 != 0).select(
        "doc_id", "text"
    )
    clone_src = old.select(
        (F.col("doc_id") - 1).alias("doc_id"),
        F.col("text").alias("__clone"),
    )
    new = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select("doc_id", "source", "text")
        .join(clone_src, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.when(
                (F.col("doc_id") % 6 == 0)
                & F.col("__clone").isNotNull(),
                F.col("__clone"),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    return old, new


@q(
    "minhash_incremental_stats",
    # Certifies incremental NEAR-dup against a hash-only persisted
    # store (operators/dedup.py::minhash_incremental — the daily-crawl
    # companion of dedup_incremental): old corpus = doc_id%3!=0, new
    # batch = doc_id%3==0 with a planted clone lane (doc_id%6==0 takes
    # the text of old doc doc_id+1 -> J=1, must drop). The engine runs
    # banded-LSH candidates + digest-verified Jaccard vs the store; the
    # oracle computes the EXHAUSTIVE new x old Jaccard — the same
    # 1-(1-J^2)^32 >= 0.9999 candidate-recall argument certified on
    # dedup_minhash_lsh makes the two coincide.
    """WITH old AS (SELECT doc_id, text FROM documents
                  WHERE doc_id % 3 <> 0),
       newb AS (SELECT n.doc_id, n.source,
                  CASE WHEN n.doc_id % 6 = 0 AND o.text IS NOT NULL
                       THEN o.text ELSE n.text END AS text
                FROM documents n
                LEFT JOIN old o ON o.doc_id = n.doc_id + 1
                WHERE n.doc_id % 3 = 0),
       osh AS (SELECT DISTINCT doc_id,
                 list_aggregate(w[i:i+2], 'string_agg', ' ') AS shingle
               FROM (SELECT doc_id, string_split(text, ' ') AS w
                     FROM old) d,
                    (SELECT unnest(range(1, 100000)) AS i) idx
               WHERE i <= len(w) - 2),
       nsh AS (SELECT DISTINCT doc_id,
                 list_aggregate(w[i:i+2], 'string_agg', ' ') AS shingle
               FROM (SELECT doc_id, string_split(text, ' ') AS w
                     FROM newb) d,
                    (SELECT unnest(range(1, 100000)) AS i) idx
               WHERE i <= len(w) - 2),
       nsz AS (SELECT doc_id, count(*) AS n_a FROM nsh GROUP BY doc_id),
       osz AS (SELECT doc_id, count(*) AS n_b FROM osh GROUP BY doc_id),
       inter AS (SELECT a.doc_id AS new_id, b.doc_id AS old_id,
                        count(*) AS n_inter
                 FROM nsh a JOIN osh b USING (shingle)
                 GROUP BY a.doc_id, b.doc_id),
       dropped AS (SELECT DISTINCT new_id FROM inter
                   JOIN nsz ON nsz.doc_id = new_id
                   JOIN osz ON osz.doc_id = old_id
                   WHERE CAST(n_inter AS DOUBLE)
                         / (n_a + n_b - n_inter) >= 0.5)
       SELECT source,
              CAST(count(*) AS BIGINT) AS n_new,
              CAST(sum(CASE WHEN new_id IS NULL THEN 0 ELSE 1 END)
                   AS BIGINT) AS n_dropped,
              CAST(sum(CASE WHEN new_id IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_survivors
       FROM newb LEFT JOIN dropped ON doc_id = new_id
       GROUP BY source ORDER BY source""",
    "incremental MinHash-LSH near-dup vs a hash-only persisted store "
    "(band buckets for candidates, md5 shingle digests for exact "
    "verification) — certified against the exhaustive oracle",
)
def minhash_incremental_stats(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.dedup import (
        lsh_store,
        minhash_incremental,
    )

    old, new = _minhash_incremental_frames(spark, sf_dir)
    store_b, store_d = lsh_store(old)
    surv = minhash_incremental(new, store_b, store_d, threshold=0.5)
    n_new = new.groupBy("source").agg(F.count("*").alias("n_new"))
    n_surv = surv.groupBy("source").agg(
        F.count("*").alias("n_survivors")
    )
    return (
        n_new.join(n_surv, "source", "left")
        .select(
            "source",
            "n_new",
            (
                F.col("n_new")
                - F.coalesce(F.col("n_survivors"), F.lit(0))
            ).alias("n_dropped"),
            F.coalesce(F.col("n_survivors"), F.lit(0)).alias(
                "n_survivors"
            ),
        )
        .orderBy("source")
    )


@q(
    "host_link_pagerank",
    # Certifies the extract-links -> host-edge -> PageRank COMPOSITION
    # (the CommonCrawl-style crawl-quality centrality path): pages get
    # the same planted anchors as link_extraction_stats; the engine
    # extracts + resolves them, builds the symmetrized distinct host
    # edge set (self-edges dropped), and runs 4 power iterations. The
    # oracle derives the identical edge set closed-form from doc_id
    # (the extraction itself is certified by link_extraction_stats)
    # and unrolls the same power method.
    _pagerank_oracle_sql(
        4,
        edges_cte="""ud AS (
         SELECT DISTINCT 'base' || (doc_id % 3) || '.test' AS x,
                         'h' || (doc_id % 7) || '.test' AS y
         FROM documents),
       e AS (SELECT x AS s, y AS t FROM ud UNION ALL
             SELECT y AS s, x AS t FROM ud)""",
    ),
    "host link-graph PageRank (crawl-quality centrality): anchors "
    "extracted + resolved, host edges symmetrized, 4 power "
    "iterations — the extract_links -> graph.pagerank composition",
)
def host_link_pagerank(spark, sf_dir):
    from neo4j_to_clickhouse_spark.functions.url import (
        extract_links,
        url_host,
    )
    from neo4j_to_clickhouse_spark.operators.graph import pagerank

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("doc_id")
    base = F.concat(
        F.lit("http://base"),
        (i % 3).cast("string"),
        F.lit(".test/dir/page"),
        i.cast("string"),
        F.lit(".html"),
    )
    html = F.concat(
        F.col("text"),
        F.lit('<a href="http://h'),
        (i % 7).cast("string"),
        F.lit(".test/x"),
        i.cast("string"),
        F.lit('">e</a>'),
        F.lit("<A HREF='/root'>r</A>"),
        F.lit('<a href="mailto:x@y.test">m</a>'),
    )
    ex = d.select(
        url_host(base).alias("src"),
        F.explode(extract_links(html, base)).alias("link"),
    ).select("src", url_host(F.col("link")).alias("dst"))
    ud = ex.filter(F.col("src") != F.col("dst")).distinct()
    edges = ud.unionAll(
        ud.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return (
        pagerank(edges, iterations=4)
        .select("node", (F.round("rank", 5) + F.lit(0.0)).alias("rank"))
        .orderBy("node")
    )


@q(
    "lexicon_flag_stats",
    # Certifies the C4-style bad-words lexicon flag
    # (operators/curate.py::flag_lexicon — flat codegen marker counts,
    # zero shuffle): lane doc_id%9==2 appends ' badwordx badwordy
    # badwordx' (3 hits — repeats count), every other doc is verified
    # lexicon-free in the fixture. Closed form: flagged = lane,
    # hits = 3 per lane doc.
    """SELECT source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(CASE WHEN doc_id % 9 = 2 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_flagged,
              CAST(sum(CASE WHEN doc_id % 9 = 2 THEN 3 ELSE 0 END)
                   AS BIGINT) AS total_hits
       FROM documents GROUP BY source ORDER BY source""",
    "lexicon (bad-words) content flag, the C4 exclusion rule: flat "
    "per-word codegen counts over lowercased tokens, any hit flags",
)
def lexicon_flag_stats(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.curate import flag_lexicon

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    planted = d.select(
        "source",
        F.when(
            F.col("doc_id") % 9 == 2,
            F.concat(F.col("text"), F.lit(" badwordx badwordy badwordx")),
        )
        .otherwise(F.col("text"))
        .alias("t"),
    )
    flagged = flag_lexicon(
        planted, "t", ("badwordx", "badwordy"), max_ratio=0.0
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(F.col("lexicon_flagged"), 1).otherwise(0)
            ).alias("n_flagged"),
            F.sum("lexicon_hits").alias("total_hits"),
        )
        .orderBy("source")
    )


@q(
    "domain_blocklist_stats",
    # Certifies parent-domain blocklist matching
    # (operators/curate.py::flag_blocked_domains — K broadcast left
    # joins, corpus never shuffles): host = sub{doc_id%5}.dom{doc_id%11}
    # .test; blocklist = {dom3.test (parent match), sub2.dom7.test
    # (exact 3-label match)}. Closed form: blocked iff doc_id%11==3 OR
    # (doc_id%5==2 AND doc_id%11==7).
    """SELECT source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(CASE WHEN doc_id % 11 = 3
                            OR (doc_id % 5 = 2 AND doc_id % 11 = 7)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked
       FROM documents GROUP BY source ORDER BY source""",
    "domain blocklist with parent-domain matching (the URL-exclusion "
    "stage): suffix-chain probes as K broadcast joins — a million-"
    "entry list broadcasts instead of bloating the plan",
)
def domain_blocklist_stats(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.curate import (
        flag_blocked_domains,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    i = F.col("doc_id")
    hosted = d.select(
        "source",
        F.concat(
            F.lit("sub"),
            (i % 5).cast("string"),
            F.lit(".dom"),
            (i % 11).cast("string"),
            F.lit(".test"),
        ).alias("host"),
    )
    bl = hosted.sparkSession.createDataFrame(
        [("dom3.test",), ("sub2.dom7.test",)], "domain string"
    )
    flagged = flag_blocked_domains(hosted, "host", bl)
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(F.col("domain_blocked"), 1).otherwise(0)
            ).alias("n_blocked"),
        )
        .orderBy("source")
    )


@q(
    "cdx_latest_capture_stats",
    # Certifies the latest-capture-per-urlkey view (sources/cdx.py::
    # latest_captures — recrawl dedup, the standard "current snapshot"
    # read of a CDX index): every URL gets TWO planted captures. Lane
    # doc_id%13==0 plants an equal-timestamp pair differing only in
    # offset (tie-break -> lowest (filename, offset) = capture A);
    # all other docs get a later second capture (newest ts wins =
    # capture B, which sits in the NEXT warc file with offset+7).
    # Closed form over the survivors' file/offset arithmetic.
    """WITH s AS (SELECT doc_id,
         CASE WHEN doc_id % 13 = 0
              THEN 'crawl-' || (doc_id % 5) || '.warc.gz'
              ELSE 'crawl-' || ((doc_id + 1) % 5) || '.warc.gz'
         END AS warc_filename,
         CASE WHEN doc_id % 13 = 0 THEN doc_id * 1000
              ELSE doc_id * 1000 + 7 END AS off
       FROM documents)
       SELECT warc_filename,
              CAST(count(*) AS BIGINT) AS n_urls,
              CAST(sum(off) AS BIGINT) AS sum_offset
       FROM s GROUP BY warc_filename ORDER BY warc_filename""",
    "latest capture per urlkey over a CDX index (recrawl dedup): "
    "newest timestamp wins, deterministic (filename, offset) "
    "tie-break — WindowGroupLimit shape, certified closed-form",
)
def cdx_latest_capture_stats(spark, sf_dir):
    from neo4j_to_clickhouse_spark.sources.cdx import (
        latest_captures,
        parse_cdxj,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    sid = i.cast("string")

    def line(ts, fidx, off):
        return F.concat(
            F.lit("com,example)/p"),
            sid,
            F.lit(f" {ts} "),
            F.lit('{"url":"http://example.com/p'),
            sid,
            F.lit('","mime":"text/html","status":"200","digest":"D'),
            sid,
            F.lit('","length":"100","offset":"'),
            off.cast("string"),
            F.lit('","filename":"crawl-'),
            fidx.cast("string"),
            F.lit('.warc.gz"}'),
        )

    tie = i % 13 == 0
    line_a = line("20240101000000", i % 5, i * 1000)
    line_b = F.when(
        tie, line("20240101000000", i % 5, i * 1000 + 7)
    ).otherwise(line("20240202000000", (i + 1) % 5, i * 1000 + 7))
    lines = d.select(
        F.explode(F.array(line_a, line_b)).alias("line")
    )
    latest = latest_captures(parse_cdxj(lines, "line"))
    return (
        latest.groupBy("warc_filename")
        .agg(
            F.count("*").alias("n_urls"),
            F.sum("warc_offset").alias("sum_offset"),
        )
        .orderBy("warc_filename")
    )


@q(
    "dedup_quality_survivors_by_source",
    # Certifies the keep-BEST survivor rule (dedup_by_pairs(keep_by=…)
    # — RefinedWeb keeps the longest duplicate, not the lowest id):
    # same Jaccard>=0.5 cluster graph as dedup_survivors_by_source,
    # survivor = argmax(n_chars) per cluster, ties by lowest id. The
    # oracle ranks cluster members inside the same recursive-closure
    # CTE the id-rule query certifies against.
    "WITH RECURSIVE" + _JACCARD_PAIRS_CTE
    + """,
       memb AS (SELECT c.id, c.cluster_id, d.n_chars
                FROM clusters c JOIN documents d ON d.doc_id = c.id),
       losers AS (SELECT id FROM memb
                  QUALIFY row_number() OVER (
                    PARTITION BY cluster_id
                    ORDER BY n_chars DESC, id) > 1)
       SELECT source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_chars) AS BIGINT) AS chars_kept
       FROM documents
       WHERE doc_id NOT IN (SELECT id FROM losers)
       GROUP BY source ORDER BY source""",
    "near-dup survivors keeping the LONGEST duplicate per cluster "
    "(argmax n_chars, ties lowest id) — the RefinedWeb survivor rule, "
    "vs the keep-lowest-id baseline certified separately",
)
def dedup_quality_survivors_by_source(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    return (
        D.dedup_by_pairs(docs, pairs, "doc_id", keep_by="n_chars")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("chars_kept"),
        )
        .orderBy("source")
    )


@q(
    "packed_sequence_emission_stats",
    # Certifies packed-sequence MATERIALIZATION (operators/text.py::
    # pack_token_sequences — the training-data emission step): docs
    # concatenated per source in doc_id order, cut every 64 tokens,
    # each pack's ids in exact positional order. Token ids here are
    # the cross-engine md5_u32(word) % 1000; the checksum weights each
    # id by (offset+1) so ANY in-pack reordering, drop, or boundary
    # slip changes it — order-exact certification without shipping
    # arrays through the compare.
    """WITH d AS (SELECT doc_id, source,
                         string_split(text, ' ') AS wl
                  FROM documents),
       st AS (SELECT doc_id, source, wl,
                     sum(len(wl)) OVER (PARTITION BY source
                                        ORDER BY doc_id
                                        ROWS UNBOUNDED PRECEDING)
                       - len(wl) AS start
              FROM d),
       tok AS (SELECT source,
                      start + i - 1 AS pos,
                      ('0x' || substr(md5(wl[i]), 1, 8))::BIGINT
                        % 1000 AS id
               FROM st, (SELECT unnest(range(1, 100000)) AS i) idx
               WHERE i <= len(wl)),
       pk AS (SELECT source,
                     pos // 64 AS pack_id,
                     count(*) AS n_tok,
                     sum((pos % 64 + 1) * id) AS checksum
              FROM tok GROUP BY source, pos // 64)
       SELECT source,
              CAST(count(*) AS BIGINT) AS n_packs,
              CAST(sum(CASE WHEN n_tok = 64 THEN 1 ELSE 0 END)
                   AS BIGINT) AS full_packs,
              CAST(sum(n_tok) AS BIGINT) AS total_tokens,
              CAST(sum(checksum) AS BIGINT) AS order_checksum
       FROM pk GROUP BY source ORDER BY source""",
    "packed-sequence emission: concat-and-chunk token ids into 64-"
    "token training windows, certified order-exact via a position-"
    "weighted checksum",
)
def packed_sequence_emission_stats(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.sampling import md5_u32
    from neo4j_to_clickhouse_spark.operators.text import (
        pack_token_sequences,
    )

    ids = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.transform(
            F.split(F.col("text"), " "),
            lambda w: (md5_u32(w) % 1000).cast("long"),
        ).alias("token_ids"),
    )
    packed = pack_token_sequences(
        ids, "token_ids", "source", "doc_id", budget=64
    )
    per_pack = packed.select(
        "source",
        F.size("token_ids").alias("n_tok"),
        F.aggregate(
            F.zip_with(
                F.sequence(
                    F.lit(1), F.size("token_ids")
                ),
                F.col("token_ids"),
                lambda o, i: o.cast("long") * i,
            ),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("checksum"),
    )
    return (
        per_pack.groupBy("source")
        .agg(
            F.count("*").alias("n_packs"),
            F.sum(
                F.when(F.col("n_tok") == 64, 1).otherwise(0)
            ).alias("full_packs"),
            F.sum("n_tok").alias("total_tokens"),
            F.sum("checksum").alias("order_checksum"),
        )
        .orderBy("source")
    )


@q(
    "classifier_confusion_report",
    # Certifies the evaluation half of the classifier loop
    # (operators/classifier.py::confusion_counts): integer-exact
    # confusion counts of `score > 0` against a closed-form label
    # (document contains the token 'spark'), per source. The scoring
    # pipeline is the already-certified md5 path (same CTE as
    # quality_classifier_stats); the label and counts are recomputed
    # end-to-end by the oracle — a hard check, nothing planted.
    f"""WITH {_CLS_SCORED_CTE},
       lab AS (SELECT doc_id,
                      CASE WHEN list_contains(toks, 'spark')
                           THEN 1 ELSE 0 END AS y
               FROM t),
       j AS (SELECT s.source, s.score, l.y
             FROM scored s JOIN lab l USING (doc_id))
       SELECT source,
              CAST(sum(CASE WHEN score > 0 AND y = 1
                            THEN 1 ELSE 0 END) AS BIGINT) AS tp,
              CAST(sum(CASE WHEN score > 0 AND y = 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS fp,
              CAST(sum(CASE WHEN score <= 0 AND y = 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS tn,
              CAST(sum(CASE WHEN score <= 0 AND y = 1
                            THEN 1 ELSE 0 END) AS BIGINT) AS fn
       FROM j GROUP BY source ORDER BY source""",
    "classifier evaluation report: integer-exact confusion counts at "
    "a fixed threshold per source — the train->score->evaluate loop's "
    "measurement stage",
)
def classifier_confusion_report(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.classifier import (
        confusion_counts,
        score_documents,
    )

    scored = score_documents(
        _t(spark, sf_dir, "documents"), "text", _CLS_W, seed=7
    ).withColumn(
        "y",
        F.array_contains(D.tokens(F.col("text")), "spark").cast("int"),
    )
    return confusion_counts(scored, "score", "y", threshold=0.0, by="source")


@q(
    "bpe_learned_merges",
    None,  # iterative merge learning is not SQL-expressible ->
    # rows-only; the loop itself is pinned by tests/test_bpe.py
    # (hand-derived merge sequences + learn->encode roundtrip) and the
    # word-count aggregate it runs on is the certified A3 shape
    "learn a BPE merge table from the corpus: one distributed "
    "word-frequency aggregate + the deterministic Sennrich merge loop "
    "over the vocabulary-sized count table (rank, left, right rows)",
)
def bpe_learned_merges(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.bpe import learn_bpe

    merges = learn_bpe(
        _t(spark, sf_dir, "documents"), "text", num_merges=8
    )
    return spark.createDataFrame(
        [(i, a, b, a + b) for i, (a, b) in enumerate(merges)],
        "rank int, left string, right string, merged string",
    )


@q(
    "classifier_training_report",
    None,  # the trained weight vector is the fixed point of an
    # iterative gradient loop — not SQL-expressible; bit-determinism
    # is pinned against a pure-Python replica in
    # tests/test_classifier_fit.py, and the evaluation algebra is the
    # certified classifier_confusion_report shape
    "the full DCLM loop executed end-to-end: fit_classifier (8 "
    "deterministic integer-GD iterations, label = document contains "
    "'spark') -> score_documents with the trained weights -> "
    "integer-exact confusion counts per source",
)
def classifier_training_report(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.classifier import (
        confusion_counts,
        fit_classifier,
        score_documents,
    )

    docs = _t(spark, sf_dir, "documents").withColumn(
        "y",
        F.array_contains(D.tokens(F.col("text")), "spark").cast("int"),
    )
    w = fit_classifier(
        docs, "text", "y", n_buckets=256, iters=8, lr=4.0
    )
    scored = score_documents(docs, "text", w, seed=7)
    return confusion_counts(scored, "score", "y", threshold=0.0, by="source")


# micro-BPE fixture (operators/bpe.py): the closed-form merge chain
# both engines can state. Merges [(t,h) r0, (th,e) r1, (s,t) r2] over
# the dense char vocab a..z (0-25), th=26, the=27, st=28. Closed form
# per word (proof sketch in tests/test_bpe.py; guarded there by a
# hypothesis property test vs the pure-Python reference encoder):
#   every 'th' substring merges (th/th can't overlap; t is consumed
#   only by its own th, h only by its own t), every 'the' substring
#   then merges its th with its e, and every 'st' substring NOT
#   followed by 'h' merges (the t of 'sth' is already gone — (t,h) is
#   rank 0). So with non-overlapping substring counts occ():
#     n_tokens = len(w) - occ('th') - occ('the') - (occ('st') - occ('sth'))
#     id_sum   = sum(ascii(c)-97) - 3*occ('the') - 9*(occ('st')-occ('sth'))
#   (id deltas: th-merge 26-19-7 = 0, the-merge 27-26-4 = -3,
#    st-merge 28-18-19 = -9.)
_BPE_MICRO_MERGES = [("t", "h"), ("th", "e"), ("s", "t")]


@q(
    "bpe_token_count_stats",
    # Certifies the merge-rank BPE encoder (operators/bpe.py) at the
    # id level: token counts certify the (t,h)/(th,e)/(s,t) merge
    # loop, the id_sum certifies the vocabulary mapping (each merge's
    # id delta is closed-form). occ() via non-overlapping replace().
    # whitespace-run split (engine side is str.split()) and a LEFT
    # JOIN back to documents so degenerate docs (empty / whitespace-
    # only text -> 0 tokens) count on both sides (ADVICE r13)
    """WITH w AS (SELECT doc_id,
                         unnest(string_split_regex(text, '\\s+')) AS w
                  FROM documents),
       o AS (SELECT doc_id, length(w) AS n,
                    (length(w) - length(replace(w, 'th', ''))) / 2
                      AS occ_th,
                    (length(w) - length(replace(w, 'the', ''))) / 3
                      AS occ_the,
                    (length(w) - length(replace(w, 'st', ''))) / 2
                      - (length(w) - length(replace(w, 'sth', ''))) / 3
                      AS occ_st,
                    list_sum(list_transform(
                      regexp_extract_all(w, '.'),
                      c -> ascii(c) - 97)) AS char_sum
             FROM w WHERE length(w) > 0),
       nonempty AS (SELECT doc_id,
                           sum(n - occ_th - occ_the - occ_st) AS n_tok,
                           sum(char_sum - 3 * occ_the - 9 * occ_st)
                             AS id_sum
                    FROM o GROUP BY doc_id),
       per_doc AS (SELECT d.doc_id, d.source,
                          coalesce(p.n_tok, 0) AS n_tok,
                          coalesce(p.id_sum, 0) AS id_sum
                   FROM documents d
                   LEFT JOIN nonempty p ON d.doc_id = p.doc_id)
       SELECT source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_tok) AS BIGINT) AS bpe_tokens,
              CAST(sum(id_sum) AS BIGINT) AS id_sum,
              CAST(min(n_tok) AS BIGINT) AS min_doc_tokens,
              CAST(max(n_tok) AS BIGINT) AS max_doc_tokens
       FROM per_doc GROUP BY source ORDER BY source""",
    "merge-rank BPE encode on the closed-form micro-vocab: real token "
    "ids via one Arrow map (broadcast merges + vocab), certified at "
    "token-count AND id-sum level",
)
def bpe_token_count_stats(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.bpe import (
        bpe_encode,
        char_vocab,
    )

    vocab = char_vocab(
        _BPE_MICRO_MERGES, "abcdefghijklmnopqrstuvwxyz"
    )
    enc = bpe_encode(
        _t(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        ),
        "text",
        _BPE_MICRO_MERGES,
        vocab,
    )
    per_doc = enc.select(
        "source",
        F.size("token_ids").alias("n_tok"),
        F.aggregate(
            "token_ids", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("id_sum"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("bpe_tokens"),
            F.sum("id_sum").alias("id_sum"),
            F.min("n_tok").alias("min_doc_tokens"),
            F.max("n_tok").alias("max_doc_tokens"),
        )
        .orderBy("source")
    )


@q(
    "bpe_byte_level_stats",
    # Certifies the byte-level GPT-2 encode lane (operators/bpe.py,
    # VERDICT r13 item 3): pre-tokenize with the published GPT-2
    # regex, map each pre-token's UTF-8 bytes through bytes_to_unicode
    # (space -> 'Ġ'), then the merge chain (Ġ,t)/(Ġt,h)/(Ġth,e) over
    # the 256-entry byte vocab. Closed form (derivation in
    # tests/test_bpe.py; fixture is printable ASCII, single spaces, no
    # apostrophes — asserted properties, so the RE2 split below equals
    # the engine's lookahead pattern and every byte id is
    # ascii(c)-33 except space=220; merge products Ġt=256, Ġth=257,
    # Ġthe=258 give deltas -47/-70/-67):
    #   n_tok(w)  = length(w) - [w ~ ' t%'] - [w ~ ' th%'] - [w ~ ' the%']
    #   id_sum(w) = sum(byte ids) - 47[' t%'] - 70[' th%'] - 67[' the%']
    """WITH w AS (SELECT doc_id,
                unnest(regexp_extract_all(text,
                  ' ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+| +')) AS w
              FROM documents),
       o AS (SELECT doc_id, length(w)
                    - CASE WHEN w LIKE ' t%' THEN 1 ELSE 0 END
                    - CASE WHEN w LIKE ' th%' THEN 1 ELSE 0 END
                    - CASE WHEN w LIKE ' the%' THEN 1 ELSE 0 END
                      AS n_tok,
                    list_sum(list_transform(regexp_extract_all(w, '.'),
                      c -> CASE WHEN c = ' ' THEN 220
                           ELSE ascii(c) - 33 END))
                    - CASE WHEN w LIKE ' t%' THEN 47 ELSE 0 END
                    - CASE WHEN w LIKE ' th%' THEN 70 ELSE 0 END
                    - CASE WHEN w LIKE ' the%' THEN 67 ELSE 0 END
                      AS id_sum
             FROM w),
       nonempty AS (SELECT doc_id, sum(n_tok) AS n_tok,
                           sum(id_sum) AS id_sum
                    FROM o GROUP BY doc_id),
       per_doc AS (SELECT d.doc_id, d.source,
                          coalesce(p.n_tok, 0) AS n_tok,
                          coalesce(p.id_sum, 0) AS id_sum
                   FROM documents d
                   LEFT JOIN nonempty p ON d.doc_id = p.doc_id)
       SELECT source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_tok) AS BIGINT) AS bpe_tokens,
              CAST(sum(id_sum) AS BIGINT) AS id_sum,
              CAST(min(n_tok) AS BIGINT) AS min_doc_tokens,
              CAST(max(n_tok) AS BIGINT) AS max_doc_tokens
       FROM per_doc GROUP BY source ORDER BY source""",
    "byte-level GPT-2 BPE encode: published pre-tokenizer + "
    "bytes-to-unicode 'Ġ' convention + merge-rank loop over the byte "
    "vocab, certified at token-count AND id-sum level",
)
def bpe_byte_level_stats(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.bpe import (
        bpe_encode,
        byte_vocab,
    )

    merges = [("Ġ", "t"), ("Ġt", "h"), ("Ġth", "e")]
    enc = bpe_encode(
        _t(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        ),
        "text",
        merges,
        byte_vocab(merges),
        pretokenize="gpt2",
    )
    per_doc = enc.select(
        "source",
        F.size("token_ids").alias("n_tok"),
        F.aggregate(
            "token_ids", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("id_sum"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("bpe_tokens"),
            F.sum("id_sum").alias("id_sum"),
            F.min("n_tok").alias("min_doc_tokens"),
            F.max("n_tok").alias("max_doc_tokens"),
        )
        .orderBy("source")
    )


@q(
    "bpe_byte_level_utf8_stats",
    # The NON-ASCII hard-oracle lane for byte-level BPE (VERDICT r14
    # item 2): the distinctive byte-level behavior — multi-byte UTF-8
    # through bytes_to_unicode — driver-certified, not pytest-only.
    # Both engines deterministically inject two-byte letters into the
    # (pinned printable-ASCII) fixture: translate 'a'->'ä' (U+00E4 =
    # C3 A4 -> 'Ã','¤', byte ids 127,97) and 'e'->'é' (U+00E9 = C3 A9
    # -> 'Ã','©', ids 127,102), then encode with the ONE merge
    # ('Ã','¤') -> id 256. The algebra is SPLIT-INVARIANT (unlike the
    # ASCII lane, no pre-tokenizer restatement needed): with per-byte
    # tokens everywhere except the merge, ids depend only on the char
    # inventory — a char's bytes always share a pre-token, 'Ã'
    # occurs only as ä/é's lead byte and '¤' only as ä's tail, so the
    # merge fires exactly once per 'ä' and never across chars:
    #   n_tok(c)  = 2 for 'é', 1 otherwise (incl. the merged 'ä')
    #   id_sum(c) = 220 (space) | 256 ('ä') | 229 ('é')
    #             | ascii(c)-33 (printable ASCII)
    """WITH per_doc AS (SELECT doc_id, source,
                regexp_extract_all(translate(text, 'ae', 'äé'), '.')
                  AS cs
              FROM documents),
       stats AS (SELECT doc_id, source,
                        coalesce(list_sum(list_transform(cs,
                          c -> CASE WHEN c = 'é' THEN 2
                               ELSE 1 END)), 0) AS n_tok,
                        coalesce(list_sum(list_transform(cs,
                          c -> CASE WHEN c = ' ' THEN 220
                               WHEN c = 'ä' THEN 256
                               WHEN c = 'é' THEN 229
                               ELSE ascii(c) - 33 END)), 0) AS id_sum
                 FROM per_doc)
       SELECT source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_tok) AS BIGINT) AS bpe_tokens,
              CAST(sum(id_sum) AS BIGINT) AS id_sum,
              CAST(min(n_tok) AS BIGINT) AS min_doc_tokens,
              CAST(max(n_tok) AS BIGINT) AS max_doc_tokens
       FROM stats GROUP BY source ORDER BY source""",
    "byte-level GPT-2 encode over multi-byte UTF-8: two-byte letters "
    "through bytes_to_unicode plus a merge ON multi-byte content, "
    "certified at token-count AND id-sum level (split-invariant "
    "algebra)",
)
def bpe_byte_level_utf8_stats(spark, sf_dir):
    from neo4j_to_clickhouse_spark.operators.bpe import (
        bpe_encode,
        byte_vocab,
    )

    merges = [("Ã", "¤")]
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.translate(F.col("text"), "ae", "äé").alias("text"),
    )
    enc = bpe_encode(
        docs, "text", merges, byte_vocab(merges), pretokenize="gpt2"
    )
    per_doc = enc.select(
        "source",
        F.size("token_ids").alias("n_tok"),
        F.aggregate(
            "token_ids", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("id_sum"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("bpe_tokens"),
            F.sum("id_sum").alias("id_sum"),
            F.min("n_tok").alias("min_doc_tokens"),
            F.max("n_tok").alias("max_doc_tokens"),
        )
        .orderBy("source")
    )


# =====================================================================
# Driver-window ordering (SURVEY.md §8)
# =====================================================================
# The verification driver certifies only the FIRST 50 entries of
# ``queries()``.  From round 10 the window is MECHANICAL, not curated
# (VERDICT r09 item 4): the 50 stalest hard-oracle queries — never-
# certified first, then oldest driver-green round, name tie-break.
# Rows-only-by-design specs get exactly ONE window slot, for their
# debut rows-present record (VERDICT r13 item 2), then rotate out
# permanently (their hard siblings rotate instead).
# Regenerate with ``python tools/driver_window.py`` after each round
# lands its CORRECTNESS file or a new query registers;
# ``tests/test_registry.py::test_driver_window_is_the_stalest_50``
# recomputes the selection from the committed CORRECTNESS ledger and
# fails if this list drifts from it.

# The round this window was generated FOR: its selection is derived
# from CORRECTNESS files of rounds strictly BEFORE it, so the test
# stays reproducible after this round's own file lands.
_WINDOW_ROUND = 16

_DRIVER_WINDOW = [
    "state_interval_stats",  # last green: r11
    "text_stats_by_source",  # last green: r11
    "tokenizer_comparison_by_source",  # last green: r11
    "topk_words_approx",  # last green: r11
    "url_canonical_dedup_stats",  # last green: r11
    "warc_ingest_stats",  # last green: r11
    "window_funnel_strict_order_steps",  # last green: r11
    "argmax_event_per_user",  # last green: r12
    "bigram_lm_quality_by_source",  # last green: r12
    "c4_line_filter_stats",  # last green: r12
    "cdx_fetch_plan_stats",  # last green: r12
    "cdx_latest_capture_stats",  # last green: r12
    "charset_decode_stats",  # last green: r12
    "classifier_topp_selection_stats",  # last green: r12
    "clicker_purchaser_intersect",  # last green: r12
    "compression_ratio_flags",  # last green: r12
    "conditional_aggregates",  # last green: r12
    "count_distinct_salted",  # last green: r12
    "cube_event_counts",  # last green: r12
    "dedup_quality_survivors_by_source",  # last green: r12
    "domain_blocklist_stats",  # last green: r12
    "host_link_pagerank",  # last green: r12
    "lexicon_flag_stats",  # last green: r12
    "line_dedup_rewrite_stats",  # last green: r12
    "link_extraction_stats",  # last green: r12
    "minhash_incremental_stats",  # last green: r12
    "mojibake_repair_stats",  # last green: r12
    "priority_sample_by_length",  # last green: r12
    "priority_sample_estimator",  # last green: r12
    "purchase_gap_histogram",  # last green: r12
    "quality_classifier_stats",  # last green: r12
    "redirect_resolution_stats",  # last green: r12
    "returned_item_revenue",  # last green: r12
    "revenue_forecast",  # last green: r12
    "robots_wildcard_filter_stats",  # last green: r12
    "rolling_weekly_active_users",  # last green: r12
    "session_path_topk",  # last green: r12
    "ship_lag_stats",  # last green: r12
    "shipping_priority",  # last green: r12
    "sitemap_url_expansion",  # last green: r12
    "split_leakage_report",  # last green: r12
    "template_prefix_audit",  # last green: r12
    "token_budget_mixture_stats",  # last green: r12
    "token_zipf_coverage",  # last green: r12
    "top_brands_per_nation",  # last green: r12
    "topk_words_per_source",  # last green: r12
    "ttr_by_length_decile",  # last green: r12
    "unicode_normalize_stats",  # last green: r12
    "urgent_customers_by_segment",  # last green: r12
    "user_activity_gini",  # last green: r12
]

_ROTATION = [
    "user_growth_accounting",  # r12
    "user_halves_churn",  # r12
    "value_corr_by_type",  # r12
    "value_delta_sum_by_type",  # r12
    "value_skew_kurtosis_by_type",  # r12
    "vocab_growth_curve",  # r12
    "wet_ingest_stats",  # r12
    "acctbal_by_segment",  # r13
    "approx_distinct_users_bound",  # r13
    "bpe_token_count_stats",  # r13
    "classifier_confusion_report",  # r13
    "daily_counts_gapfilled",  # r13
    "decontamination_overlap",  # r13
    "dedup_jaccard_capped",  # r13
    "dedup_survivors_minhash",  # r13
    "dedup_token_savings_by_source",  # r13
    "doc_length_magnitude_histogram",  # r13
    "duplicate_metadata_conflicts",  # r13
    "embedding_dimension_stats",  # r13
    "embedding_ivf_full_probe",  # r13
    "embedding_near_duplicates",  # r13
    "event_share_of_total",  # r13
    "event_type_pivot",  # r13
    "events_by_dow_hour",  # r13
    "fingerprint_uniqueness",  # r13
    "first_event_salted",  # r13
    "first_events_per_user",  # r13
    "grouping_sets_event_report",  # r13
    "hourly_event_windows",  # r13
    "langid_distribution",  # r13
    "multimodal_inventory",  # r13
    "ngram_diversity_by_source",  # r13
    "order_line_count_histogram",  # r13
    "orders_monthly_growth",  # r13
    "packed_sequence_emission_stats",  # r13
    "payload_profile",  # r13
    "quality_bands",  # r13
    "range_join_interval_stats",  # r13
    "repetition_by_source",  # r13
    "revenue_by_part_type",  # r13
    "revenue_pareto_report",  # r13
    "sample_stratified_per_source",  # r13
    "sample_temperature_weighted",  # r13
    "signup_to_purchase_latency",  # r13
    "summary_stats",  # r13
    "supplier_pagerank",  # r13
    "supplier_triangle_count",  # r13
    "tfidf_source_profile",  # r13
    "top_revenue_orders",  # r13
    "train_val_test_split_counts",  # r13
    "union_counts",  # r13
    "user_activity_percentiles",  # r13
    "user_entropy_bands",  # r13
    "value_deciles_by_type",  # r13
    "value_mad_by_type",  # r13
    "value_percentiles_by_type",  # r13
    "word_distribution",  # r13
    "asof_user_state",  # r14
    "asof_user_state_bucketed",  # r14
    "bpe_byte_level_stats",  # r14
    "chunking_stats",  # r14
    "conjunctive_filters",  # r14
    "count_by_event_type",  # r14
    "count_distinct_by_type",  # r14
    "cross_source_span_overlap",  # r14
    "curation_funnel_report",  # r14
    "daily_moving_stats",  # r14
    "decontamination_bloom",  # r14
    "dedup_clusters",  # r14
    "dedup_exact_docs",  # r14
    "dedup_minhash_lsh",  # r14
    "dedup_ngram_jaccard",  # r14
    "dedup_simhash_planted",  # r14
    "dedup_survivors_by_source",  # r14
    "dedup_validation",  # r14
    "duplicate_keys",  # r14
    "embedding_ivf_recall",  # r14
    "embedding_kmeans_cells",  # r14
    "embedding_knn",  # r14
    "embedding_lsh_near_dup",  # r14
    "embedding_pq_codes",  # r14
    "embedding_quantization_report",  # r14
    "filter_array_membership",  # r14
    "filter_event_type",  # r14
    "filter_json_path",  # r14
    "filter_json_path_variant",  # r14
    "filter_time_range",  # r14
    "global_totals",  # r14
    "graph_degree_topk",  # r14
    "graph_two_hop_topk",  # r14
    "latest_events",  # r14
    "latest_state_per_entity",  # r14
    "lm_quality_by_source",  # r14
    "mp4_keyframe_stats",  # r14
    "multimodal_probe_stats",  # r14
    "order_priority_count",  # r14
    "orders_per_customer_topk",  # r14
    "pii_redaction_stats",  # r14
    "retention_cohort_counts",  # r14
    "rollup_event_counts",  # r14
    "sequence_count_histogram",  # r14
    "sessionization",  # r14
    "sorted_regions",  # r14
    "threshold_selection_stats",  # r14
    "token_count_extremes",  # r14
    "active_time_union_seconds",  # r15
    "approx_percentile_bound",  # r15
    "approx_percentile_bound_cert",  # r15
    "asof_next_event",  # r15
    "audience_overlap_by_type",  # r15
    "basket_cooccurrence_topk",  # r15
    "bm25_multi_query_topk",  # r15
    "bm25_topk_docs",  # r15
    "bpe_byte_level_utf8_stats",  # r15
    "column_profile_events",  # r15
    "conversion_by_signup_cohort",  # r15
    "corpus_ingest_pipeline_stats",  # r15
    "customers_inactive_since",  # r15
    "daily_anomaly_flags",  # r15
    "dedup_cluster_size_histogram",  # r15
    "dedup_incremental_batch",  # r15
    "distribution_shift_by_type",  # r15
    "dup_rate_by_lang",  # r15
    "embedding_centroid_spread",  # r15
    "embedding_coverage_report",  # r15
    "embedding_pq_adc_recall",  # r15
    "event_transition_matrix",  # r15
    "first_event_type_distribution",  # r15
    "gopher_quality_flags",  # r15
    "html_extract_stats",  # r15
    "json_value_stats_by_type",  # r15
    "langid_confusion",  # r15
    "large_order_customers",  # r15
    "late_arrival_audit",  # r15
    "max_concurrent_sessions",  # r15
    "mixture_epochs_plan",  # r15
    "nation_trade_volume",  # r15
    "partition_skew_report",  # r15
    "pricing_summary",  # r15
    "quality_classifier_broadcast_stats",  # r15
    "repeated_span_stats",  # r15
    "retention_candidates",  # r15
    "revenue_by_nation",  # r15
    "robots_filter_stats",  # r15
    "rolling_threshold_trajectory",  # r15
    "sample_hash_fraction",  # r15
    "semantic_dedup_survivors",  # r15
    "sequence_packing_stats",  # r15
    "session_window_counts",  # r15
    "shard_balance_report",  # r15
    "span_dedup_rewrite_stats",  # r15
    "topic_classifier_stats",  # r15
    "topic_mixture_report",  # r15
    "value_histogram",  # r15
    "window_funnel_steps",  # r15
    "bpe_learned_merges",  # rows-only
    "classifier_training_report",  # rows-only
    "dedup_simhash",  # rows-only
    "embedding_ivf_topk",  # rows-only
    "random_sample",  # rows-only
]


def _apply_driver_window() -> None:
    ordered = _DRIVER_WINDOW + _ROTATION
    missing = set(QUERIES) - set(ordered)
    extra = set(ordered) - set(QUERIES)
    if missing or extra:
        raise AssertionError(
            f"driver-window order out of sync: missing={sorted(missing)} "
            f"extra={sorted(extra)} — every registered query must appear "
            "exactly once in _DRIVER_WINDOW + _ROTATION"
        )
    reordered = {name: QUERIES[name] for name in ordered}
    QUERIES.clear()
    QUERIES.update(reordered)


_apply_driver_window()
