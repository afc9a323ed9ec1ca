"""Query registry: every operator claimed in SURVEY.md §2 gets a
(spark_fn, oracle_sql) pair runnable on the driver testdata tables
(region nation customer supplier part orders lineitem events documents
embeddings).

Design rules (driver contract):
  * every computed column is aliased IDENTICALLY in the Spark plan and
    the DuckDB oracle SQL — the driver sorts columns by name and hashes
    values;
  * floating-point aggregates are rounded in BOTH engines so the hash
    is insensitive to summation order;
  * each query is a pure function (spark, sf_dir) -> DataFrame with no
    driver-side collect in the hot path.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rialto_airflow_spark.session import load_tables


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    headline: bool = False  # include in bench.py


REGISTRY: dict[str, QuerySpec] = {}


def scratch_dir(prefix: str) -> str:
    """A local temporary directory for a query's checkpoints, sinks or
    stores. The returned plan may read it lazily after the query
    function returns, so it cannot be removed inside the query; it is
    removed at interpreter exit instead."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def register(name: str, oracle: str | None, headline: bool = False):
    def deco(fn):
        REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle, headline=headline)
        return fn

    return deco


# ---------------------------------------------------------------------------
# Relational core — parity with the reference's operator inventory
# ---------------------------------------------------------------------------


@register(
    "q01_pricing_summary",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           round(avg(l_extendedprice), 4)                                   AS avg_price,
           round(avg(l_discount), 4)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2024-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    headline=True,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship scan→filter→groupBy→agg (TPC-H Q1 shape).

    Parity target: the reference's mart aggregations (SURVEY §2.4
    A1/A9, publish/publication.py:52-89) — grouped aggregates over a
    filtered fact table. Filter + column pruning push to the parquet
    scan; partial aggregation is map-side so the shuffle carries only
    group keys.
    """
    t = load_tables(spark, sf_dir, "lineitem")
    li = t["lineitem"].where(F.col("l_shipdate") <= F.lit("2024-09-02").cast("timestamp"))
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q02_mn_join_revenue",
    oracle="""
    SELECT n.n_name AS nation,
           r.r_name AS region,
           round(sum(o.o_totalprice), 2) AS revenue,
           count(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY n.n_name, r.r_name
    """,
    headline=True,
)
def q02_mn_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1-shaped M:N join chain (pub⋈assoc⋈author analog —
    publish/publication.py:143). Fact⋈fact shuffles on the key;
    nation/region dims are explicitly broadcast (S10-S15 analog)."""
    t = load_tables(spark, sf_dir, "orders", "customer", "nation", "region")
    return (
        t["orders"]
        .join(
            t["customer"].where(F.col("c_mktsegment") == "BUILDING"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "q03_left_outer_counts",
    oracle="""
    SELECT c.c_custkey,
           c.c_name,
           count(o.o_orderkey) AS n_orders,
           round(coalesce(sum(o.o_totalprice), 0), 2) AS total_spent
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def q03_left_outer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2-shaped left-outer join (pub ⟕ funder —
    publish/publication.py:79) preserving unmatched left rows."""
    t = load_tables(spark, sf_dir, "customer", "orders")
    return (
        t["customer"]
        .join(t["orders"], F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias(
                "total_spent"
            ),
        )
    )


@register(
    "q04_anti_orphans",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
    )
    """,
)
def q04_anti_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 — orphan detection as a left-anti join (the reference's
    DELETE-orphan-publications NOT EXISTS,
    harvest_incremental/deduplicate.py:220-232). The price predicate
    keeps the result non-empty at every test scale factor."""
    t = load_tables(spark, sf_dir, "customer", "orders")
    return t["customer"].join(
        t["orders"].where(F.col("o_totalprice") > 300000),
        F.col("o_custkey") == F.col("c_custkey"),
        "left_anti",
    ).select("c_custkey", "c_name")


@register(
    "q05_semi_join",
    oracle="""
    SELECT p.p_partkey, p.p_name, p.p_brand
    FROM part p
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 45
    )
    """,
)
def q05_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3-shaped semi join (author lookup by id-list,
    sul_pub.py:68-87): EXISTS without multiplying rows."""
    t = load_tables(spark, sf_dir, "part", "lineitem")
    return t["part"].join(
        t["lineitem"].where(F.col("l_quantity") > 45),
        F.col("l_partkey") == F.col("p_partkey"),
        "left_semi",
    ).select("p_partkey", "p_name", "p_brand")


@register(
    "q06_dup_detect",
    oracle="""
    SELECT user_id, event_type, count(*) AS n
    FROM events
    GROUP BY user_id, event_type
    HAVING count(*) > 1
    """,
)
def q06_dup_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — duplicate detection: GROUP BY key HAVING count>1
    (deduplicate.py:38-184's five platform-id variants)."""
    t = load_tables(spark, sf_dir, "events")
    return (
        t["events"]
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )


@register(
    "q07_survivor_dedup",
    oracle="""
    SELECT user_id, event_id, ts, event_type, round(value, 2) AS value
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC
      ) AS rn
      FROM events
    )
    WHERE rn = 1
    """,
    headline=True,
)
def q07_survivor_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A6 — survivor selection: newest row per group wins
    (merge_pubs newest-updated_at survivor, deduplicate.py:187-217;
    latest-record-per-orcid, mais.py:140-147). Ranking window, one
    shuffle on the group key."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        t["events"]
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            "ts",
            "event_type",
            F.round("value", 2).alias("value"),
        )
    )


@register(
    "q08_json_extract",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           round(avg(coalesce(CAST(json_extract_string(props, '$.k') AS INTEGER), -1)), 4) AS avg_k
    FROM events
    GROUP BY event_type
    """,
)
def q08_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 rule-cascade shape: JSON path extraction with a coalesce
    fallback (JsonPathRule + first(), distiller/utils.py:54-132) —
    expressed with get_json_object, no jsonpath UDF needed."""
    t = load_tables(spark, sf_dir, "events")
    k = F.coalesce(
        F.get_json_object("props", "$.k").cast("int"), F.lit(-1)
    )
    return (
        t["events"]
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg(k), 4).alias("avg_k"))
    )


@register(
    "q09_any_agg",
    oracle="""
    SELECT l_orderkey,
           bool_or(l_returnflag = 'R') AS any_returned,
           bool_and(l_linestatus = 'F') AS all_finished,
           round(max(greatest(l_quantity, l_discount * 100, l_tax * 100)), 2) AS max_signal
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def q09_any_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A9 — any()/all() over a group (federally_funded's
    jsonb_agg_strict + any(), publish/publication.py:52-58,108;
    academic_council_authored, distill.py:72-86) — PLUS A7/A8,
    greatest-across-columns under max (citation_count,
    distiller/citation_count.py:4-21; last_harvested,
    schema/rialto.py:102-114). Formerly q09 + q10: both were
    groupBy(l_orderkey) aggregations over the SAME lineitem scan, so
    two registry slots were a redundant scan (the round-8 q26 merge
    rule); each aggregate stays individually hash-gated because the
    driver hashes all columns. The freed slot gates q55_bm25_scores."""
    t = load_tables(spark, sf_dir, "lineitem")
    sig = F.greatest(
        F.col("l_quantity"), F.col("l_discount") * 100, F.col("l_tax") * 100
    )
    return (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(
            F.bool_or(F.col("l_returnflag") == "R").alias("any_returned"),
            F.bool_and(F.col("l_linestatus") == "F").alias("all_finished"),
            F.round(F.max(sig), 2).alias("max_signal"),
        )
    )


@register(
    "q11_piped_set",
    oracle="""
    SELECT o.o_orderkey,
           string_agg(DISTINCT l.l_returnflag, '|' ORDER BY l.l_returnflag) AS flags
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey
    """,
)
def q11_piped_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2/O3/N5 — distinct-sort-pipe-join of grouped values (ISSN and
    ORCID unions, distiller/journal_issn.py:5-48; piped(),
    utils.py:172-182).

    Aggregate-before-join: the fact side reduces to one row per key
    (map-side partial collect_set) BEFORE meeting orders, so the join
    shuffles 1/4 the rows and the agg's hash partitioning is reused
    for the join — the multiplicity-reduction rule the marts follow.
    """
    t = load_tables(spark, sf_dir, "orders", "lineitem")
    flags = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("l_returnflag")), "|"
            ).alias("flags")
        )
    )
    return (
        t["orders"]
        .join(flags, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("o_orderkey", "flags")
    )


@register(
    "q13_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def q13_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O2 — global top-k with deterministic tie-break
    (ORDER BY … LIMIT, schema/rialto.py:229-239). Spark executes as
    TakeOrderedAndProject — no full sort."""
    t = load_tables(spark, sf_dir, "orders")
    return (
        t["orders"]
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select(
            "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice")
        )
    )


@register(
    "q14_window_rank",
    oracle="""
    SELECT c_nationkey, c_custkey, round(c_acctbal, 2) AS c_acctbal, rnk
    FROM (
      SELECT c_nationkey, c_custkey, c_acctbal,
             row_number() OVER (
               PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC
             ) AS rnk
      FROM customer
    )
    WHERE rnk <= 3
    """,
)
def q14_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 — ranking window, top-N per group (the window the Spark
    build uses for A3/A6 survivor selection)."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        t["customer"]
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "c_nationkey", "c_custkey", F.round("c_acctbal", 2).alias("c_acctbal"), "rnk"
        )
    )


@register(
    "q15_merge_upsert",
    oracle="""
    WITH existing AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
      WHERE o_orderdate < TIMESTAMP '1998-01-01'
    ),
    batch AS (
      SELECT o_orderkey, round(o_totalprice + 1000.0, 2) AS o_totalprice,
             'U' AS o_orderstatus
      FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    )
    SELECT coalesce(e.o_orderkey, b.o_orderkey) AS o_orderkey,
           round(coalesce(b.o_totalprice, e.o_totalprice), 2) AS o_totalprice,
           coalesce(b.o_orderstatus, e.o_orderstatus) AS o_orderstatus
    FROM existing e FULL OUTER JOIN batch b ON e.o_orderkey = b.o_orderkey
    """,
)
def q15_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 — MERGE on natural key: matched rows take the batch's
    columns, unmatched batch rows insert, untouched rows survive
    (INSERT … ON CONFLICT (doi) DO UPDATE, openalex.py:86-114)."""
    from rialto_airflow_spark.operators.merge import merge_on_key

    t = load_tables(spark, sf_dir, "orders")
    orders = t["orders"]
    existing = orders.where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    ).select("o_orderkey", "o_totalprice", "o_orderstatus")
    batch = orders.where(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")
    ).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") + 1000.0, 2).alias("o_totalprice"),
        F.lit("U").alias("o_orderstatus"),
    )
    merged = merge_on_key(existing, batch, "o_orderkey")
    return merged.select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "o_orderstatus",
    )


@register(
    "q16_watermark_filter",
    oracle="""
    SELECT event_id, user_id, event_type, ts
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-15' AND event_type IN ('purchase', 'signup')
    """,
)
def q16_watermark_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/P5 — incremental watermark predicate (updated_at >=
    harvest.created_at, openalex.py:161-173): a plain pushed-down
    filter; .explain shows it in PushedFilters at the parquet scan."""
    t = load_tables(spark, sf_dir, "events")
    return (
        t["events"]
        .where(
            (F.col("ts") >= F.lit("2024-01-15").cast("timestamp"))
            & F.col("event_type").isin("purchase", "signup")
        )
        .select("event_id", "user_id", "event_type", "ts")
    )


@register(
    "q17_array_distill",
    oracle="""
    SELECT doc_id,
           coalesce(array_to_string(
             list_sort(list_distinct(
               list_filter(regexp_split_to_array(text, '\\s+'),
                           x -> len(x) >= 6))), '|'), '') AS long_words,
           len(list_distinct(regexp_split_to_array(text, '\\s+'))) AS n_distinct_words
    FROM documents
    """,
)
def q17_array_distill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1-U3/O3 — array union→distinct→sort→pipe-join over
    higher-order functions (journal_issn/author_orcids distillers)."""
    t = load_tables(spark, sf_dir, "documents")
    words = F.split(F.col("text"), r"\s+")
    return t["documents"].select(
        "doc_id",
        F.array_join(
            F.array_sort(
                F.array_distinct(F.filter(words, lambda x: F.length(x) >= 6))
            ),
            "|",
        ).alias("long_words"),
        F.size(F.array_distinct(words)).alias("n_distinct_words"),
    )


@register(
    "q18_rate_by_group",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_customers,
           round(avg(CASE WHEN c_acctbal > 0 THEN 1.0 ELSE 0.0 END), 4) AS positive_rate
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def q18_rate_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 — adoption-percentage shape (validate.py:18-83: % of a
    role group with non-null ORCID): avg of an indicator per group."""
    t = load_tables(spark, sf_dir, "customer")
    return (
        t["customer"]
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                F.avg(F.when(F.col("c_acctbal") > 0, 1.0).otherwise(0.0)), 4
            ).alias("positive_rate"),
        )
    )


@register(
    "q19_pivot_stats",
    oracle="""
    SELECT count(*) FILTER (WHERE event_type = 'click')    AS n_click,
           count(*) FILTER (WHERE event_type = 'view')     AS n_view,
           count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
           count(*) FILTER (WHERE event_type = 'error')    AS n_error,
           count(*) FILTER (WHERE event_type = 'view')
             - count(*) FILTER (WHERE event_type = 'purchase') AS views_minus_purchases
    FROM events
    """,
)
def q19_pivot_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — ORCID scope-count pivot arithmetic (mais.py:150-182:
    counts per scope + derived read_limited − read_write stat)."""
    t = load_tables(spark, sf_dir, "events")

    def n(et: str) -> F.Column:
        return F.count(F.when(F.col("event_type") == et, 1))

    return t["events"].agg(
        n("click").alias("n_click"),
        n("view").alias("n_view"),
        n("purchase").alias("n_purchase"),
        n("signup").alias("n_signup"),
        n("error").alias("n_error"),
        (n("view") - n("purchase")).alias("views_minus_purchases"),
    )


@register(
    "q33_ordered_list_agg",
    oracle="""
    SELECT o.o_custkey,
           count(DISTINCT o.o_orderkey) AS n_orders,
           string_agg(o.o_orderkey::VARCHAR, '|' ORDER BY o.o_totalprice DESC, o.o_orderkey) AS orders_by_price
    FROM orders o
    WHERE o.o_totalprice > 250000
    GROUP BY o.o_custkey
    """,
)
def q33_ordered_list_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 — ordered pipe-joined list aggregation (the CLI's
    '|'.join over related rows, cli.py:70-74): collect structs, sort
    by the ordering key, project, join."""
    t = load_tables(spark, sf_dir, "orders")
    pairs = F.array_sort(
        F.collect_list(
            F.struct(
                (-F.col("o_totalprice")).alias("negprice"),
                F.col("o_orderkey").alias("k"),
            )
        )
    )
    return (
        t["orders"]
        .where(F.col("o_totalprice") > 250000)
        .groupBy("o_custkey")
        .agg(
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.array_join(
                F.transform(pairs, lambda s: s["k"].cast("string")), "|"
            ).alias("orders_by_price"),
        )
    )


def _load_extensions() -> None:
    """Pull in the other registry modules (they self-register)."""
    from rialto_airflow_spark.plans import llm_queries, pipeline_queries  # noqa: F401


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_extensions()
    # sorted: the driver iterates this dict to build its CORRECTNESS
    # artifact — name order keeps cross-round diffs line-stable
    return {name: REGISTRY[name].fn for name in sorted(REGISTRY)}


def oracle_sql() -> dict[str, str]:
    _load_extensions()
    return {
        name: REGISTRY[name].oracle
        for name in sorted(REGISTRY)
        if REGISTRY[name].oracle
    }


def headline_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_extensions()
    return {n: s.fn for n, s in REGISTRY.items() if s.headline}
