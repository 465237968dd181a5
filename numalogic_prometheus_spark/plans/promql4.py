"""PromQL read-side operators, round 9: the calendar/time function
family (`hour` / `minute` / `day_of_week` / `day_of_month` / `month` /
`year` / `days_in_month` / `timestamp`), the Prometheus-3 experimental
`sort_by_label`, and the cross-series `quantile by (...)` aggregator.
The reference delegates all PromQL evaluation to the Prometheus Query
Service (reference CHANGELOG.md:10 #168); this engine owns those
semantics over the canonical samples relation.

Semantics notes (public PromQL spec):

* The time functions are defined on UTC (Prometheus has no zoned
  evaluation); the engine session pins spark.sql.session.timeZone=UTC
  (session.RUNTIME_INVARIANTS), so Spark's calendar extraction and
  DuckDB's agree by construction. `day_of_week` is 0=Sunday..6=Saturday
  (Prometheus convention): Spark's 1-based `dayofweek` shifts by −1;
  DuckDB's `dayofweek` is already 0-based Sunday.
* `timestamp(v)` returns the sample's own timestamp; emitted here as
  exact epoch SECONDS (BIGINT, floor) rather than Prometheus's float
  seconds so the cross-engine check stays integer-exact. Positive-epoch
  assumption as in promql3._k0 (Spark `div` truncates, DuckDB `//`
  floors; equal for ts >= 1970).
* `sort_by_label` orders by the STRING form of the label (label values
  are strings in Prometheus, so "10" < "2" lexicographically — fidelity
  the numeric-sort entries deliberately do not have), tiebroken by the
  metric name for a total order; the rank is materialized as a column
  so the result is order-insensitively comparable.
* `quantile by (group)(φ, v)` interpolates linearly between cross-series
  order statistics, exactly like quantile_over_time on the time axis.
  φ=0.75 keeps every factor binary-exact ((n−1)·0.75 and the lo+(hi−lo)·φ
  blend over integer cents are exact doubles), so the result hash-matches
  bit-for-bit — same discipline as the promql3 median family.

Scale notes (100 TB design points): all three entries reduce the fact
table with ONE per-series partial aggregation (max_by / percentile over
(event_type[, user_id]) — map-side combine, one exchange keyed by the
series id). The ranking/sort windows then run over the SERIES dimension
only (cardinality thousands, not corpus-sized), so the global
row_number window is a no-op at any scale — the same posture as
promql_sort_desc (plans/promql.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from numalogic_prometheus_spark.functions.timeutil import epoch_us_sql
from numalogic_prometheus_spark.operators import metrics as M
from numalogic_prometheus_spark.operators.promql import (
    cents,
    histogram_fraction,
    instant_vector_cents,
)
from numalogic_prometheus_spark.plans import register
from numalogic_prometheus_spark.sources.tables import load_table


@register(
    "promql_time_functions",
    oracle="""
    WITH latest AS (
        SELECT event_type, max(ts) AS ts
        FROM events
        GROUP BY event_type
    )
    SELECT event_type,
           (epoch_us(ts) // 1000000)::BIGINT AS ts_epoch_s,
           hour(ts)::BIGINT AS hour_utc,
           minute(ts)::BIGINT AS minute_utc,
           dayofweek(ts)::BIGINT AS day_of_week,
           day(ts)::BIGINT AS day_of_month,
           month(ts)::BIGINT AS month_utc,
           year(ts)::BIGINT AS year_utc,
           date_part('day', date_trunc('month', ts) + INTERVAL 1 MONTH
                            - INTERVAL 1 DAY)::BIGINT AS days_in_month
    FROM latest
    """,
)
def promql_time_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL calendar-function family over the instant vector: the
    latest sample timestamp per series, decomposed by `timestamp()` /
    `hour()` / `minute()` / `day_of_week()` / `day_of_month()` /
    `month()` / `year()` / `days_in_month()` (UTC; 0=Sunday weekday per
    the Prometheus convention — Spark's 1-based dayofweek shifts by −1).
    One partial max per series; calendar extraction on the tiny series
    relation only."""
    ev = load_table(spark, sf_dir, "events")
    latest = ev.groupBy("event_type").agg(F.max("ts").alias("ts"))
    ts = F.col("ts")
    return latest.select(
        "event_type",
        F.expr(f"{epoch_us_sql('ts')} div 1000000").alias("ts_epoch_s"),
        F.hour(ts).cast("long").alias("hour_utc"),
        F.minute(ts).cast("long").alias("minute_utc"),
        (F.dayofweek(ts) - 1).cast("long").alias("day_of_week"),
        F.dayofmonth(ts).cast("long").alias("day_of_month"),
        F.month(ts).cast("long").alias("month_utc"),
        F.year(ts).cast("long").alias("year_utc"),
        F.dayofmonth(F.last_day(ts)).cast("long").alias("days_in_month"),
    )


@register(
    "promql_sort_by_label",
    oracle="""
    -- row_number, not arg_max: DuckDB's arg_max cannot order by a
    -- (ts, event_id) struct (same idiom as gauge_latest_per_user)
    WITH latest AS (
        SELECT event_type, user_id, value
        FROM (
            SELECT event_type, user_id, value,
                   row_number() OVER (PARTITION BY event_type, user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
    )
    SELECT event_type, user_id::VARCHAR AS user_lbl, value,
           row_number() OVER (ORDER BY user_id::VARCHAR, event_type)
               AS sort_rank
    FROM latest
    """,
)
def promql_sort_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus-3 experimental `sort_by_label(v, "user")`: the instant
    vector (latest sample per (event_type, user) series, event_id
    tiebroken) ordered by the label's STRING value — "10" < "2", the
    lexicographic label semantics, not numeric — tiebroken by metric
    name for a total order, rank materialized. Fact-table cost is one
    per-series max_by partial agg; the ranking window sees only the
    series relation."""
    ev = load_table(spark, sf_dir, "events")
    latest = ev.groupBy("event_type", "user_id").agg(
        F.max_by("value", F.struct("ts", "event_id")).alias("value")
    )
    lbl = F.col("user_id").cast("string")
    w = W.orderBy(lbl.asc(), F.col("event_type").asc())
    return latest.select(
        "event_type",
        lbl.alias("user_lbl"),
        "value",
        F.row_number().over(w).cast("long").alias("sort_rank"),
    )


@register(
    "promql_quantile_agg_by",
    oracle="""
    -- row_number, not arg_max: DuckDB's arg_max cannot order by a
    -- (ts, event_id) struct (same idiom as gauge_latest_per_user)
    WITH latest AS (
        SELECT event_type, user_id, round(value * 100)::BIGINT AS cents
        FROM (
            SELECT event_type, user_id, value,
                   row_number() OVER (PARTITION BY event_type, user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
    )
    SELECT event_type,
           quantile_cont(cents, 0.75) AS p75_cents,
           count(*)::BIGINT AS n_series
    FROM latest
    GROUP BY event_type
    """,
)
def promql_quantile_agg_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL `quantile by (event_type) (0.75, v)`: the φ-quantile
    ACROSS series of the instant vector (cross-series axis — the
    aggregator, not `quantile_over_time`'s time axis). Interpolation
    runs over integer cents with φ=0.75, so position and blend are
    binary-exact doubles and the value hash-matches without rounding
    (module docstring). Two partial aggregations: per-series max_by,
    then per-family percentile over the series relation."""
    latest = instant_vector_cents(load_table(spark, sf_dir, "events"))
    return latest.groupBy("event_type").agg(
        F.percentile("cents", 0.75).alias("p75_cents"),
        F.count(F.lit(1)).cast("long").alias("n_series"),
    )


_FRAC_LO = 0.175  # strictly inside bucket (0.1, 0.25]
_FRAC_HI = 3.0    # strictly inside bucket (2.5, 5.0]


@register(
    "promql_histogram_fraction",
    oracle=f"""
    WITH buckets AS (
        SELECT event_type, le,
               sum(CASE WHEN value <= le THEN 1 ELSE 0 END)::BIGINT
                   AS cum_count
        FROM events
        CROSS JOIN (SELECT unnest([{M.DEFAULT_BUCKETS_SQL}, 'inf'::DOUBLE]) AS le) b
        GROUP BY event_type, le
    ),
    enriched AS (
        SELECT event_type, le, cum_count,
               lag(cum_count, 1, 0) OVER w AS prev_n,
               lag(le, 1, 0.0) OVER w AS prev_le,
               max(cum_count) OVER (PARTITION BY event_type) AS total
        FROM buckets
        WINDOW w AS (PARTITION BY event_type ORDER BY le)
    ),
    lo AS (
        -- le = +Inf rows short-circuit to CDF total, mirroring the
        -- operator's clamp (ADVICE r10 / operators/promql.py): today's
        -- endpoints sit inside finite buckets, but the twin must stay
        -- faithful for ANY endpoint choice
        SELECT event_type,
               CASE WHEN le = 'inf'::DOUBLE THEN total::DOUBLE
                    ELSE prev_n + (cum_count - prev_n)
                         * ({_FRAC_LO} - prev_le) / (le - prev_le)
               END AS cdf_lo
        FROM enriched WHERE prev_le < {_FRAC_LO} AND {_FRAC_LO} <= le
    ),
    hi AS (
        SELECT event_type,
               CASE WHEN le = 'inf'::DOUBLE THEN total::DOUBLE
                    ELSE prev_n + (cum_count - prev_n)
                         * ({_FRAC_HI} - prev_le) / (le - prev_le)
               END AS cdf_hi,
               total
        FROM enriched WHERE prev_le < {_FRAC_HI} AND {_FRAC_HI} <= le
    )
    SELECT event_type, (cdf_hi - cdf_lo) / total AS fraction
    FROM lo JOIN hi USING (event_type)
    """,
)
def promql_histogram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic-bucket `histogram_fraction(0.175, 3.0, …)`:
    the estimated fraction of observations per series falling in
    (0.175, 3.0], by within-bucket linear interpolation of the CDF at
    both endpoints — the dual of `promql_histogram_quantile_p90`, on the
    same cumulative-le bucket substrate (operators/metrics.py
    histogram_buckets; one conditional aggregation, one exchange).
    Endpoints sit strictly inside finite buckets (the +Inf bucket has no
    width); interpolation operands are exact BIGINT counts and literal
    double bounds combined in the identical order in both engines, so
    the value is bit-identical unrounded (the round-8 tie-class rule —
    same argument as the quantile entry's docstring)."""
    ev = load_table(spark, sf_dir, "events")
    buckets = M.histogram_buckets(ev, ["event_type"])
    return histogram_fraction(buckets, ["event_type"], _FRAC_LO, _FRAC_HI)


@register(
    "promql_idelta",
    oracle="""
    WITH ranked AS (
        SELECT event_type, ts, event_id,
               round(value * 100)::BIGINT AS cents,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    SELECT event_type,
           (max(CASE WHEN rn = 1 THEN cents END)
            - max(CASE WHEN rn = 2 THEN cents END)) / 100.0 AS idelta,
           (epoch_us(max(CASE WHEN rn = 1 THEN ts END))
            - epoch_us(max(CASE WHEN rn = 2 THEN ts END)))
               // 1000000 AS gap_s
    FROM ranked WHERE rn <= 2
    GROUP BY event_type
    HAVING count(*) = 2
    """,
)
def promql_idelta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL `idelta(v[1h])`: the raw difference between the LAST TWO
    samples of each series (the gauge sibling of `irate`'s last-delta
    rate), with the inter-sample gap in whole seconds. Series with fewer
    than two samples drop out (Prometheus returns no point). The rank
    window runs per-series after one exchange; the subtraction is exact
    integer cents with one final IEEE division (gap_s is an exact
    integer floor-div of the µs difference — positive by construction,
    so Spark `div` and DuckDB `//` agree)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = ev.select(
        "event_type", "ts", cents().alias("cents"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") <= 2)
    last_c = F.max(F.when(F.col("rn") == 1, F.col("cents")))
    prev_c = F.max(F.when(F.col("rn") == 2, F.col("cents")))
    last_ts = F.max(F.when(F.col("rn") == 1, F.col("ts")))
    prev_ts = F.max(F.when(F.col("rn") == 2, F.col("ts")))
    return (
        ranked.groupBy("event_type")
        .agg(
            ((last_c - prev_c) / 100.0).alias("idelta"),
            F.expr(
                f"({epoch_us_sql('max(CASE WHEN rn = 1 THEN ts END)')}"
                f" - {epoch_us_sql('max(CASE WHEN rn = 2 THEN ts END)')})"
                " div 1000000"
            ).alias("gap_s"),
            F.count(F.lit(1)).alias("__n"),
        )
        .filter(F.col("__n") == 2)
        .drop("__n")
    )
