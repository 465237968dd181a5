"""Window-function queries (SURVEY.md §2C "Window functions" + "Sort/limit").

All order-bys inside windows include a unique tiebreak column so row_number
/ frame contents are deterministic (oracle-hash requirement, FIXTURES.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from numalogic_prometheus_spark.operators.counter import counter_increases
from numalogic_prometheus_spark.plans import register
from numalogic_prometheus_spark.sources.tables import load_table


@register(
    "win_topk_per_group",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice, rn
    FROM (
        SELECT p_brand, p_partkey, p_retailprice,
               row_number() OVER (PARTITION BY p_brand
                                  ORDER BY p_retailprice DESC, p_partkey) AS rn
        FROM part
    ) WHERE rn <= 3
    """,
)
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (PromQL topk analog; B9 worst offenders): rank ≤ k
    after one shuffle on the partition key. rn cast to int on both sides."""
    p = load_table(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(), "p_partkey")
    return (
        p.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rn")
    )


@register(
    "win_rank_variants",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           round(percent_rank() OVER w, 6) AS prnk,
           ntile(4) OVER w AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def win_rank_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking family (A7 latest-info read side uses row_number; rank /
    dense_rank / percent_rank / ntile complete the surface)."""
    c = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), "c_custkey")
    return c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


@register(
    "win_lag_rate_reset",
    oracle="""
    WITH counter AS (
        -- integer cents BEFORE the running sum: float prefix sums are not
        -- reproducible across engines (DuckDB windows sum via segment
        -- tree), integer sums are exact
        SELECT event_type, ts, event_id,
               (sum(round(value * 100)::BIGINT) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id))::BIGINT % 1000 AS c
        FROM events
    ),
    deltas AS (
        SELECT event_type, ts, event_id, c,
               c - lag(c) OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS raw_delta
        FROM counter
    )
    SELECT event_type, event_id, c AS counter_value,
           CASE WHEN raw_delta < 0 THEN c ELSE raw_delta END AS increase
    FROM deltas
    WHERE raw_delta IS NOT NULL
    """,
)
def win_lag_rate_reset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counter-reset-aware increase (SURVEY.md §4.3; PromQL rate/increase
    semantics over A3 counters): lag per series; a negative delta means
    the counter reset, so the increase is the new value itself. The
    monotone-with-wraparound counter is synthesized from a running sum
    mod 1000 (the fixture has no raw counter column, operators/counter.py)."""
    inc = counter_increases(load_table(spark, sf_dir, "events"))
    return inc.select(
        "event_type", "event_id", F.col("c").alias("counter_value"), "increase"
    )


@register(
    "win_running_cumulative",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           round(sum(l_extendedprice) OVER (
               PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_rev
    FROM lineitem
    WHERE l_suppkey <= 3
    """,
)
def win_running_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running cumulative frame (A6 cumulative le-buckets idiom): ROWS
    unbounded-preceding with a fully deterministic order-by."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 3)
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(F.sum("l_extendedprice").over(w), 2).alias("running_rev"),
    )


@register(
    "win_sliding_range_1h",
    oracle="""
    SELECT event_id, user_id,
           round(avg(value) OVER (
               PARTITION BY user_id
               ORDER BY floor(epoch(ts))::BIGINT
               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 4) AS avg_1h
    FROM events
    """,
)
def win_sliding_range_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding RANGE frame on event-time seconds (B5 rolling scaler
    stats): per user, mean of the trailing hour. RANGE frames are
    tie-safe, so no tiebreak column is needed — rows at the same second
    share a frame in both engines.

    Deliberately CLOSED [t-1h, t]: this entry demonstrates the ANSI SQL
    RANGE frame itself (both bounds inclusive per the standard), not a
    PromQL range selector — the PromQL `*_over_time` family
    (plans/promql2.py/promql3.py) is uniformly left-open (t-1h, t] per
    the round-8 convention unification, and this is the one documented
    intentional exception because its contract IS the SQL standard."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w), 4).alias("avg_1h"),
    )


@register(
    "win_first_last_nth",
    oracle="""
    SELECT c_custkey, c_nationkey,
           first_value(c_acctbal) OVER w AS first_bal,
           last_value(c_acctbal) OVER (PARTITION BY c_nationkey
                ORDER BY c_custkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS last_bal,
           nth_value(c_acctbal, 2) OVER (PARTITION BY c_nationkey
                ORDER BY c_custkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS second_bal
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_custkey)
    """,
)
def win_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value frames (A4 gauge read-at-position shapes) —
    last/nth need the full-partition frame (the default frame stops at
    CURRENT ROW, a classic SQL footgun both engines share)."""
    c = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy("c_custkey")
    wfull = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.first("c_acctbal").over(w).alias("first_bal"),
        F.last("c_acctbal").over(wfull).alias("last_bal"),
        F.nth_value("c_acctbal", 2).over(wfull).alias("second_bal"),
    )


@register(
    "sort_global_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
)
def sort_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject — per-partition
    heap + driver merge of k rows, never a full global sort."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .limit(25)
    )
