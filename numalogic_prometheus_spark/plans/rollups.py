"""Hypertable-style hierarchical rollups: coarse aggregates computed by
RE-AGGREGATING finer rollups rather than re-scanning raw data — the
pattern that turns a 100 TB daily-report scan into a merge over an
hourly rollup table ~4 orders of magnitude smaller.

The algebra: sum/count/min/max are mergeable as-is; avg is carried as
(sum, count) and divided at the end; distinct-count is carried as an HLL
sketch (`agg_hll_mergeable_daily`, plans/extras2.py). The oracle
computes the coarse aggregate DIRECTLY from raw events, so a green row
proves the two-level merge is exact, not approximately right.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from numalogic_prometheus_spark.operators.promql import cents
from numalogic_prometheus_spark.plans import register
from numalogic_prometheus_spark.sources.tables import load_table


def hourly_rollup(ev: DataFrame) -> DataFrame:
    """The fine-grain rollup a streaming pipeline would maintain
    per-trigger: mergeable partials per (series, hour) in integer cents."""
    return ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.sum(cents()).alias("sum_cents"),
        F.count(F.lit(1)).alias("n"),
        F.min(cents()).alias("min_cents"),
        F.max(cents()).alias("max_cents"),
    )


def reaggregate(rollup: DataFrame, bucket: F.Column) -> DataFrame:
    """Merge a finer rollup into a coarser bucket — pure partial-merge,
    never touches raw data."""
    return rollup.groupBy("event_type", bucket.alias("bucket")).agg(
        F.sum("sum_cents").alias("sum_cents"),
        F.sum("n").alias("n"),
        F.min("min_cents").alias("min_cents"),
        F.max("max_cents").alias("max_cents"),
    )


@register(
    "rollup_daily_from_hourly",
    oracle="""
    SELECT event_type, date_trunc('day', ts)::TIMESTAMP AS bucket,
           sum(round(value * 100)::BIGINT)::BIGINT AS sum_cents,
           count(*) AS n,
           min(round(value * 100)::BIGINT)::BIGINT AS min_cents,
           max(round(value * 100)::BIGINT)::BIGINT AS max_cents,
           sum(round(value * 100)::BIGINT)::BIGINT
               / count(*) / 100.0 AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
)
def rollup_daily_from_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily stats derived by merging the hourly rollup (never re-reading
    events); the oracle aggregates raw events directly — equality proves
    sum/count/min/max re-aggregate exactly and avg survives as
    sum÷count. At scale the second aggregation shuffles |series|×24 rows
    per day instead of the raw sample stream."""
    daily = reaggregate(
        hourly_rollup(load_table(spark, sf_dir, "events")),
        F.date_trunc("day", "hour"),
    )
    return daily.select(
        "event_type",
        "bucket",
        "sum_cents",
        "n",
        "min_cents",
        "max_cents",
        # unrounded exact-integer ratio: bit-identical doubles in both
        # engines; in-query round(x, 6) is the only possible divergence
        # (.5e-6 ties — the class the round-8 sf0.1 sweep caught in
        # promql_avg_over_time)
        (F.col("sum_cents") / F.col("n") / 100.0).alias("avg_value"),
    )


@register(
    "rollup_monthly_from_hourly",
    oracle="""
    SELECT event_type, date_trunc('month', ts)::TIMESTAMP AS bucket,
           sum(round(value * 100)::BIGINT)::BIGINT AS sum_cents,
           count(*) AS n,
           min(round(value * 100)::BIGINT)::BIGINT AS min_cents,
           max(round(value * 100)::BIGINT)::BIGINT AS max_cents
    FROM events
    GROUP BY 1, 2
    """,
)
def rollup_monthly_from_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second merge level (hour → month) through the SAME reaggregate
    operator — mergeability is transitive, so any rollup ladder
    (hour→day→month→year) composes from one primitive."""
    return reaggregate(
        hourly_rollup(load_table(spark, sf_dir, "events")),
        F.date_trunc("month", "hour"),
    )


@register(
    "rollup_quantile_sketch_daily",
    oracle="""
    WITH sk AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               round(value * 100)::BIGINT // 100 AS bucket,
               count(*)::BIGINT AS cnt
        FROM events GROUP BY event_type, day, bucket
    ),
    merged AS (
        SELECT event_type, bucket, sum(cnt)::BIGINT AS cnt
        FROM sk GROUP BY event_type, bucket
    ),
    cum AS (
        SELECT event_type, bucket,
               sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
               sum(cnt) OVER (PARTITION BY event_type) AS n
        FROM merged
    )
    SELECT event_type, n::BIGINT AS n,
           min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN bucket END)::BIGINT
               AS p50_bucket,
           min(CASE WHEN cum >= (n * 90 + 99) // 100 THEN bucket END)::BIGINT
               AS p90_bucket,
           min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN bucket END)::BIGINT
               AS p99_bucket
    FROM cum GROUP BY event_type, n
    """,
)
def rollup_quantile_sketch_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE rollup — the percentile sibling of
    `agg_hll_mergeable_daily`: exact percentiles do not re-aggregate
    (you cannot merge two medians), so the daily rollup stores a
    fixed-width histogram sketch (unit-value buckets, integer counts)
    that merges by summing; quantiles are then read off the merged
    sketch as the first bucket whose cumulative count crosses
    ceil(q*n) — all-integer arithmetic end to end, so the sketch is
    bit-exact under any merge order and any engine.

    Scale shape: day-level sketches are built with one partial+final
    agg over raw (map-side combine), the merge and the quantile read
    run over sketch rows only (|series| x |buckets|), never raw data."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.expr("CAST(round(value * 100) AS BIGINT) div 100")
    sk = ev.groupBy(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        bucket.alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    merged = sk.groupBy("event_type", "bucket").agg(F.sum("cnt").alias("cnt"))
    wcum = W.partitionBy("event_type").orderBy("bucket").rowsBetween(
        W.unboundedPreceding, 0
    )
    wall = W.partitionBy("event_type")
    cum = merged.select(
        "event_type",
        "bucket",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )

    def _p(perc: int) -> F.Column:
        thresh = F.expr(f"(n * {perc} + 99) div 100")
        return F.min(F.when(F.col("cum") >= thresh, F.col("bucket"))).alias(
            f"p{perc}_bucket"
        )

    return cum.groupBy("event_type", "n").agg(_p(50), _p(90), _p(99))
