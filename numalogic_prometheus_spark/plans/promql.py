"""Read-side PromQL-analog queries (SURVEY.md §7 step 4).

The reference computes no historical queries (it delegates to Prometheus's
TSDB, SURVEY.md §3.3) — these close that gap on top of the discipline
operators: increase/rate with counter-reset semantics, histogram_quantile
interpolation, topk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from numalogic_prometheus_spark.operators import metrics as M
from numalogic_prometheus_spark.operators.counter import (
    COUNTER_SQL,
    RATE_PER_HOUR_SQL,
    counter_increases,
    rate_per_hour,
)
from numalogic_prometheus_spark.operators.promql import (
    histogram_quantile,
    topk_per_group,
)
from numalogic_prometheus_spark.plans import register
from numalogic_prometheus_spark.sources.tables import load_table
from numalogic_prometheus_spark.functions.timeutil import epoch_us


@register(
    "promql_increase_total",
    oracle=COUNTER_SQL
    + """
    SELECT event_type, sum(increase)::BIGINT AS total_increase,
           count(*) AS n_deltas
    FROM increase
    GROUP BY event_type
    """,
)
def promql_increase_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL `increase()` analog: reset-aware per-series deltas summed
    per series (SURVEY.md §4.3 counter-reset semantics)."""
    inc = counter_increases(load_table(spark, sf_dir, "events"))
    return inc.groupBy("event_type").agg(
        F.sum("increase").alias("total_increase"),
        F.count(F.lit(1)).alias("n_deltas"),
    )


@register("promql_rate_per_hour", oracle=COUNTER_SQL + RATE_PER_HOUR_SQL)
def promql_rate_per_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL `rate()` analog: reset-aware increase per fixed window over
    the window length in seconds."""
    return rate_per_hour(counter_increases(load_table(spark, sf_dir, "events")))


_BUCKET_CTE = f"""
    WITH buckets AS (
        SELECT event_type, le,
               sum(CASE WHEN value <= le THEN 1 ELSE 0 END)::BIGINT AS cum_count
        FROM events
        CROSS JOIN (SELECT unnest([{M.DEFAULT_BUCKETS_SQL}, 'inf'::DOUBLE]) AS le) b
        GROUP BY event_type, le
    ),
    enriched AS (
        SELECT event_type, le, cum_count,
               lag(cum_count, 1, 0) OVER w AS prev_n,
               lag(le, 1, 0.0) OVER w AS prev_le,
               max(cum_count) OVER (PARTITION BY event_type) AS total,
               max(CASE WHEN isfinite(le) THEN le END)
                   OVER (PARTITION BY event_type) AS max_finite_le
        FROM buckets
        WINDOW w AS (PARTITION BY event_type ORDER BY le)
    ),
    hit AS (
        SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY le) AS rn
        FROM enriched
        WHERE cum_count >= total * {{q}}
    )
    SELECT event_type,
           CASE WHEN isinf(le) THEN max_finite_le
                ELSE prev_le + (le - prev_le) * (total * {{q}} - prev_n)
                     / (cum_count - prev_n) END AS quantile_value
    FROM hit WHERE rn = 1
"""


@register("promql_histogram_quantile_p90", oracle=_BUCKET_CTE.format(q=0.9))
def promql_histogram_quantile_p90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL `histogram_quantile(0.9, …)`: linear interpolation inside
    cumulative le-buckets (SURVEY.md §4.3), composed over the histogram
    discipline's output (reference metrics.py:173-177)."""
    ev = load_table(spark, sf_dir, "events")
    buckets = M.histogram_buckets(ev, ["event_type"])
    out = histogram_quantile(buckets, ["event_type"], 0.9)
    # unrounded: bounds are literal doubles and counts exact ints through
    # the identical interpolation operand order in both engines, so the
    # result is bit-identical — in-query round(x, 6) would be the only
    # divergence source (the round-8 sf0.1 sweep tie class)
    return out.select("event_type", "quantile_value")


@register(
    "promql_resets_changes",
    oracle=COUNTER_SQL
    + """
    SELECT event_type,
           sum(CASE WHEN raw_delta < 0 THEN 1 ELSE 0 END)::BIGINT AS n_resets,
           sum(CASE WHEN raw_delta != 0 THEN 1 ELSE 0 END)::BIGINT AS n_changes
    FROM deltas
    WHERE raw_delta IS NOT NULL
    GROUP BY event_type
    """,
)
def promql_resets_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL `resets()` / `changes()` analogs: per-series counts of
    negative deltas (counter restarts) and value changes."""
    deltas = counter_increases(load_table(spark, sf_dir, "events"))
    return deltas.groupBy("event_type").agg(
        F.sum(F.when(F.col("raw_delta") < 0, 1).otherwise(0)).alias("n_resets"),
        F.sum(F.when(F.col("raw_delta") != 0, 1).otherwise(0)).alias("n_changes"),
    )


@register(
    "promql_deriv_per_series",
    oracle="""
    SELECT user_id,
           round(regr_slope(value, floor(epoch(ts))::BIGINT) * 86400, 6)
               AS deriv_per_day,
           count(*) AS n_samples
    FROM events
    GROUP BY user_id
    HAVING count(*) >= 2
    """,
)
def promql_deriv_per_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL `deriv()` analog: per-series least-squares slope over
    event time — a single-pass `regr_slope` aggregate. Reported per-DAY:
    per-second slopes are ~1e-8 and would round to pure noise at 6dp
    (the engines agree to 1e-22; the unit choice keeps the rounding
    granule far above fp noise)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.round(
                F.regr_slope(F.col("value"), F.unix_timestamp("ts")) * 86400, 6
            ).alias("deriv_per_day"),
            F.count(F.lit(1)).alias("n_samples"),
        )
        .filter(F.col("n_samples") >= 2)
    )


@register(
    "promql_quantile_over_time",
    oracle="""
    SELECT event_type, date_trunc('hour', ts) AS hour,
           round(quantile_cont(value, 0.95), 6) AS q95,
           round(quantile_cont(value, 0.5), 6) AS q50
    FROM events
    GROUP BY 1, 2
    """,
)
def promql_quantile_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL `quantile_over_time(φ, …[1h])` analog: exact per-window
    quantiles per series."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("q95"),
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("q50"),
    )


@register(
    "promql_label_ops",
    oracle="""
    SELECT regexp_replace(event_type, '^(err).*', 'incident') AS relabeled,
           event_type || ':' || 'prod' AS joined_label,
           count(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def promql_label_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL `label_replace` / `label_join` analogs: regex rewrite and
    concat over label values, then re-aggregate on the new labels."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.regexp_replace("event_type", r"^(err).*", "incident").alias("relabeled"),
        F.concat_ws(":", F.col("event_type"), F.lit("prod")).alias("joined_label"),
    ).agg(F.count(F.lit(1)).alias("n"))


@register(
    "promql_topk_users_hourly",
    oracle="""
    SELECT hour, user_id, sum_value
    FROM (
        SELECT date_trunc('hour', ts) AS hour, user_id,
               round(sum(value), 4) AS sum_value,
               row_number() OVER (PARTITION BY date_trunc('hour', ts)
                                  ORDER BY round(sum(value), 4) DESC, user_id) AS rn
        FROM events
        GROUP BY 1, 2
    ) WHERE rn <= 3
    """,
)
def promql_topk_users_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL `topk(3, sum by (user)(…))` per hour: aggregation then
    per-window ranking, user_id tiebreak for determinism."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "user_id"
    ).agg(F.round(F.sum("value"), 4).alias("sum_value"))
    return topk_per_group(
        per_user, ["hour"], "sum_value", 3, tiebreak=["user_id"]
    ).select("hour", "user_id", "sum_value")


@register(
    "promql_clamp_values",
    oracle="""
    SELECT event_type,
           round(sum(least(greatest(value, 2.0), 15.0)), 4) AS clamped_sum,
           sum(CASE WHEN value < 2.0 THEN 1 ELSE 0 END)::BIGINT AS n_below,
           sum(CASE WHEN value > 15.0 THEN 1 ELSE 0 END)::BIGINT AS n_above
    FROM events
    GROUP BY event_type
    """,
)
def promql_clamp_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL `clamp(v, min, max)` (and the clamp_min/clamp_max pair)
    analog: per-sample clamp then aggregate — a pure row expression, the
    sum stays a single-exchange hash aggregate."""
    ev = load_table(spark, sf_dir, "events")
    clamped = F.least(F.greatest(F.col("value"), F.lit(2.0)), F.lit(15.0))
    return ev.groupBy("event_type").agg(
        F.round(F.sum(clamped), 4).alias("clamped_sum"),
        F.sum(F.when(F.col("value") < 2.0, 1).otherwise(0)).alias("n_below"),
        F.sum(F.when(F.col("value") > 15.0, 1).otherwise(0)).alias("n_above"),
    )


@register(
    "promql_absent_series",
    oracle="""
    WITH hours AS (SELECT DISTINCT date_trunc('hour', ts) AS hour FROM events),
    types AS (SELECT DISTINCT event_type FROM events),
    present AS (
        SELECT DISTINCT date_trunc('hour', ts) AS hour, event_type FROM events
    )
    SELECT h.hour, t.event_type, 1::BIGINT AS absent
    FROM hours h CROSS JOIN types t
    LEFT JOIN present p ON p.hour = h.hour AND p.event_type = t.event_type
    WHERE p.hour IS NULL
    """,
)
def promql_absent_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL `absent()` analog over the (hour × series) grid: emit 1 for
    every grid cell with NO samples — the alerting primitive for dead
    series. The grid dims are tiny aggregates (distinct hours, distinct
    types) so both broadcast; the anti-join against the fact side is the
    only real work and shuffles once on the grid key."""
    ev = load_table(spark, sf_dir, "events")
    hours = ev.select(F.date_trunc("hour", "ts").alias("hour")).distinct()
    types = ev.select("event_type").distinct()
    grid = F.broadcast(hours).crossJoin(F.broadcast(types))
    present = ev.select(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).distinct()
    return (
        grid.join(present, ["hour", "event_type"], "left_anti")
        .select("hour", "event_type", F.lit(1).cast("long").alias("absent"))
    )


@register(
    "promql_irate_last_delta",
    oracle="""
    -- epoch_us on both sides: second-granularity epoch truncates the
    -- fixture's sub-second ts and fractional epochs differ per engine
    SELECT event_type,
           (CASE WHEN v1 >= v0 THEN v1 - v0 ELSE v1 END)
               * 1000000.0 / (epoch_us(t1) - epoch_us(t0)) AS irate
    FROM (
        SELECT event_type,
               max(CASE WHEN rn = 1 THEN cum END) AS v1,
               max(CASE WHEN rn = 2 THEN cum END) AS v0,
               max(CASE WHEN rn = 1 THEN ts END) AS t1,
               max(CASE WHEN rn = 2 THEN ts END) AS t0
        FROM (
            -- one point per (event_type, ts): ts collisions in the fixture
            -- would otherwise make t1 = t0 and the rate divide by zero
            -- (NULL on Spark, inf on DuckDB — a parity flake)
            SELECT event_type, ts, cum,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY ts DESC) AS rn
            FROM (
                SELECT event_type, ts, cum,
                       row_number() OVER (PARTITION BY event_type, ts
                                          ORDER BY event_id DESC) AS rn_ts
                FROM (
                    SELECT event_type, ts, event_id,
                           sum(value) OVER (PARTITION BY event_type
                                            ORDER BY ts, event_id
                                            ROWS UNBOUNDED PRECEDING) AS cum
                    FROM (SELECT event_type, ts, event_id, round(value, 2) AS value
                          FROM events)
                )
            ) WHERE rn_ts = 1
        ) WHERE rn <= 2
        GROUP BY event_type
    )
    """,
)
def promql_irate_last_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL `irate()` analog: instantaneous rate from the LAST two points
    of a cumulative counter per series, with the counter-reset rule (if the
    counter dropped, the post-reset value is the increase). The synthetic
    cumulative series is a running sum of 2dp-rounded values — integer-like
    units so the cross-engine prefix sum is exact (window prefix sums over
    raw doubles are not reproducible across engines)."""
    ev = load_table(spark, sf_dir, "events")
    cum_w = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    with_cum = ev.select(
        "event_type", "ts", "event_id",
        F.sum(F.round("value", 2)).over(cum_w).alias("cum"),
    )
    # Dedupe to one point per (event_type, ts) — last event_id wins, i.e.
    # the cumulative value after all same-ts samples — so the final two
    # points always have t1 > t0 and the rate never divides by zero
    # (Spark's non-ANSI x/0 is NULL, DuckDB's is inf: a parity flake).
    per_ts = with_cum.withColumn(
        "rn_ts",
        F.row_number().over(
            W.partitionBy("event_type", "ts").orderBy(F.col("event_id").desc())
        ),
    ).filter(F.col("rn_ts") == 1)
    last2 = per_ts.withColumn(
        "rn",
        F.row_number().over(W.partitionBy("event_type").orderBy(F.col("ts").desc())),
    ).filter(F.col("rn") <= 2)
    pivoted = last2.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == 1, F.col("cum"))).alias("v1"),
        F.max(F.when(F.col("rn") == 2, F.col("cum"))).alias("v0"),
        F.max(F.when(F.col("rn") == 1, F.col("ts"))).alias("t1"),
        F.max(F.when(F.col("rn") == 2, F.col("ts"))).alias("t0"),
    )
    increase = F.when(F.col("v1") >= F.col("v0"), F.col("v1") - F.col("v0")).otherwise(
        F.col("v1")
    )
    dt_us = epoch_us("t1") - epoch_us("t0")
    return pivoted.select(
        "event_type", (increase * F.lit(1000000.0) / dt_us).alias("irate")
    )


@register(
    "promql_predict_linear",
    oracle="""
    SELECT user_id,
           round(regr_intercept(value, floor(epoch(ts))::BIGINT)
                 + regr_slope(value, floor(epoch(ts))::BIGINT)
                   * (max(floor(epoch(ts))::BIGINT) + 3600), 4)
               AS predicted_1h,
           count(*) AS n_samples
    FROM events
    GROUP BY user_id
    HAVING count(*) >= 2
    """,
)
def promql_predict_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL `predict_linear(v[range], 3600)` analog: least-squares
    extrapolation one hour past each series' last sample — slope and
    intercept are single-pass regr_* aggregates sharing one exchange with
    the max-ts pick (same integer-second x axis as promql_deriv)."""
    ev = load_table(spark, sf_dir, "events")
    x = F.unix_timestamp("ts")
    return (
        ev.groupBy("user_id")
        .agg(
            F.round(
                F.regr_intercept(F.col("value"), x)
                + F.regr_slope(F.col("value"), x) * (F.max(x) + 3600),
                4,
            ).alias("predicted_1h"),
            F.count(F.lit(1)).alias("n_samples"),
        )
        .filter(F.col("n_samples") >= 2)
    )


@register(
    "promql_sort_desc",
    oracle="""
    WITH latest AS (
        SELECT event_type, value, ts, event_id,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    SELECT event_type, value,
           row_number() OVER (ORDER BY value DESC, event_type) AS sort_rank
    FROM latest WHERE rn = 1
    """,
)
def promql_sort_desc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL `sort_desc()` analog (VERDICT.md missing #5): the instant
    vector (latest sample per series, event_id-tiebroken) ordered by
    value descending, with the rank materialized as a column so the
    result is order-insensitively comparable. Series cardinality is tiny
    relative to samples, so the global ranking window is a no-op at any
    scale — the cost stays in the per-series max_by partial agg."""
    ev = load_table(spark, sf_dir, "events")
    latest = ev.groupBy("event_type").agg(
        F.max_by("value", F.struct("ts", "event_id")).alias("value")
    )
    w = W.orderBy(F.col("value").desc(), "event_type")
    return latest.withColumn("sort_rank", F.row_number().over(w).cast("long"))


@register(
    "promql_count_values",
    oracle="""
    SELECT event_type, round(value, 0) AS value_bucket,
           count(*)::BIGINT AS n_series
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-16'
    GROUP BY event_type, round(value, 0)
    """,
)
def promql_count_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL `count_values("bucket", v)` analog: histogram of distinct
    sample values (unit-rounded so float identity is well-defined across
    engines) per family over one day. Map-side partial count, single
    exchange."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(
            (F.col("ts") >= F.lit("2024-01-15").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-16").cast("timestamp"))
        )
        .groupBy("event_type", F.round("value", 0).alias("value_bucket"))
        .agg(F.count(F.lit(1)).alias("n_series"))
    )


@register(
    "promql_bottomk_users",
    oracle="""
    SELECT user_id, round(sum(value), 4) AS total_value,
           row_number() OVER (ORDER BY round(sum(value), 4), user_id) AS rk
    FROM events
    GROUP BY user_id
    ORDER BY total_value, user_id
    LIMIT 5
    """,
)
def promql_bottomk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL `bottomk(5, sum by(user_id))` analog: the k smallest
    aggregated series. Sort key rounded before ranking; compiles to
    TakeOrderedAndProject over the aggregate, so the global sort never
    materializes."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(F.round(F.sum("value"), 4).alias("total_value"))
    w = W.orderBy("total_value", "user_id")
    return (
        agg.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 5)
        .orderBy("total_value", "user_id")
    )


@register(
    "promql_offset_day_over_day",
    oracle="""
    WITH daily AS (
        -- ::TIMESTAMP: DuckDB's date_trunc('day') yields DATE for µs
        -- timestamps (it yielded TIMESTAMP_NS under the old ns parquet
        -- encoding); Spark's date_trunc always yields TIMESTAMP
        SELECT event_type, date_trunc('day', ts)::TIMESTAMP AS day,
               round(sum(value), 4) AS day_value
        FROM events GROUP BY event_type, date_trunc('day', ts)
    )
    SELECT event_type, day, day_value,
           lag(day_value) OVER (PARTITION BY event_type ORDER BY day)
               AS prev_day_value,
           round(day_value - coalesce(lag(day_value) OVER (
               PARTITION BY event_type ORDER BY day), 0), 4) AS delta
    FROM daily
    """,
)
def promql_offset_day_over_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL `offset 1d` comparison analog: each series' daily total
    beside its previous-day value and the delta — the offset modifier
    re-expressed as a lag over the pre-aggregated (small) daily relation,
    so the raw samples are scanned once."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.round(F.sum("value"), 4).alias("day_value"))
    w = W.partitionBy("event_type").orderBy("day")
    prev = F.lag("day_value").over(w)
    return daily.select(
        "event_type",
        "day",
        "day_value",
        prev.alias("prev_day_value"),
        F.round(F.col("day_value") - F.coalesce(prev, F.lit(0.0)), 4).alias(
            "delta"
        ),
    )


@register(
    "promql_delta_gauge",
    oracle="""
    WITH samples AS (
        SELECT event_type, ts, max(value) AS value
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-22'
        GROUP BY event_type, ts
    )
    SELECT event_type,
           round(arg_min(value, ts), 4) AS first_value,
           round(arg_max(value, ts), 4) AS last_value,
           round(arg_max(value, ts) - arg_min(value, ts), 4) AS delta,
           count(*)::BIGINT AS n_samples
    FROM samples
    GROUP BY event_type
    """,
)
def promql_delta_gauge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL `delta(gauge[7d])` analog: last minus first sample per
    series over the range — the gauge counterpart of increase() (no
    reset logic, value may go negative). Samples dedupe to one row per
    (series, ts) first so first/last picks are ties-free; one
    partial-aggregating exchange for both the dedup and the min_by/
    max_by rollup."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("ts") >= F.lit("2024-01-15").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-22").cast("timestamp"))
    )
    samples = ev.groupBy("event_type", "ts").agg(F.max("value").alias("value"))
    first_v = F.min_by("value", "ts")
    last_v = F.max_by("value", "ts")
    return samples.groupBy("event_type").agg(
        F.round(first_v, 4).alias("first_value"),
        F.round(last_v, 4).alias("last_value"),
        F.round(last_v - first_v, 4).alias("delta"),
        F.count(F.lit(1)).alias("n_samples"),
    )
