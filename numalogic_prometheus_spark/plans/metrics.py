"""Metric-discipline queries (SURVEY.md §2A → driver `queries()` entries).

Each query binds a discipline operator (operators/metrics.py) to the
``events`` fixture (FIXTURES.md: the metric-sample relation) and pairs it
with a DuckDB oracle. Float aggregates are rounded to 4 decimals in BOTH
engines so summation-order fp noise cannot flip the driver's value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from numalogic_prometheus_spark.operators import metrics as M
from numalogic_prometheus_spark.plans import register
from numalogic_prometheus_spark.sources.tables import load_table


@register(
    "counter_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour,
           event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def counter_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counter discipline (reference metrics.py:64-68) over hourly windows:
    per-(hour, event_type) event counts + value sums. The flagship query —
    scan → project → agg → (driver collects). Single hash exchange."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


@register(
    "gauge_latest_per_user",
    oracle="""
    -- row_number window, not arg_max: DuckDB's arg_max cannot order by a
    -- (ts, event_id) struct, and the event_id tiebreak must match Spark's
    -- max_by(value, struct(ts, event_id))
    SELECT user_id, value AS gauge_value, ts AS last_ts
    FROM (
        SELECT user_id, value, ts,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def gauge_latest_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gauge discipline (reference metrics.py:144-152): last-write-wins per
    series via single-pass max_by — no window function, no second shuffle.
    event_id tiebreak mirrored in the oracle's arg_max struct key so a ts
    collision cannot flip the parity hash."""
    ev = load_table(spark, sf_dir, "events")
    return M.gauge_latest(ev, ["user_id"], tiebreak="event_id")


@register(
    "summary_by_type",
    oracle="""
    SELECT event_type,
           count(value) AS obs_count,
           round(sum(value), 4) AS obs_sum,
           round(quantile_cont(value, 0.5), 4) AS q50,
           round(quantile_cont(value, 0.9), 4) AS q90,
           round(quantile_cont(value, 0.99), 4) AS q99
    FROM events
    GROUP BY event_type
    """,
)
def summary_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Summary discipline (reference metrics.py:120-124): count+sum per
    series, plus exact quantiles (read-side superset; the pinned client
    emits none — SURVEY.md §2A). Exact `percentile` for oracle parity;
    production at 100 TB would use percentile_approx (mergeable sketch)."""
    ev = load_table(spark, sf_dir, "events")
    out = M.summary(ev, ["event_type"])
    return out.select(
        "event_type",
        "obs_count",
        F.round("obs_sum", 4).alias("obs_sum"),
        F.round("q50", 4).alias("q50"),
        F.round("q90", 4).alias("q90"),
        F.round("q99", 4).alias("q99"),
    )


@register(
    "histogram_cumulative",
    oracle=f"""
    SELECT event_type, le,
           sum(CASE WHEN value <= le THEN 1 ELSE 0 END)::BIGINT AS cum_count
    FROM events
    CROSS JOIN (SELECT unnest([{M.DEFAULT_BUCKETS_SQL}, 'inf'::DOUBLE]) AS le) buckets
    GROUP BY event_type, le
    """,
)
def histogram_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram discipline (reference metrics.py:173-177): cumulative `le`
    bucket counts with prometheus-client 0.18 default bounds + +Inf.
    Cumulative ≡ `sum(value <= le)`, so it's one conditional aggregation."""
    ev = load_table(spark, sf_dir, "events")
    return M.histogram_buckets(ev, ["event_type"])


@register(
    "info_latest_per_user",
    oracle="""
    SELECT user_id, ts AS info_ts, props AS info
    FROM (
        SELECT user_id, ts, props,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    WHERE rn = 1
    """,
)
def info_latest_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Info discipline (reference metrics.py:91-99): latest metadata snapshot
    per series = row_number()==1 over ts desc (SCD read side)."""
    ev = load_table(spark, sf_dir, "events")
    return M.info_latest(ev, ["user_id"], "props", tiebreak="event_id")


@register(
    "exposition_counter",
    oracle="""
    SELECT 'events_total{event_type="' || event_type || '"} '
           || count(*)::VARCHAR AS line
    FROM events
    GROUP BY event_type
    """,
)
def exposition_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exposition sink (reference numaprom/monitoring/__init__.py:16-24):
    render `name{labels} value` text lines, deterministically ordered labels
    (SURVEY.md §4.3 exposition determinism)."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return M.exposition_lines(counts, "events_total", ["event_type"], "n")


@register(
    "exposition_full_registry",
    oracle="""
    SELECT 'events_total{event_type="' || event_type || '"} '
           || count(*)::VARCHAR AS line
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'events_value{event_type="' || event_type || '"} '
           || printf('%.4f', value) AS line
    FROM (SELECT event_type, value,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) WHERE rn = 1
    """,
)
def exposition_full_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-registry scrape (A10): every family rendered and merged via
    unionByName — the relational form of REGISTRY.collect() iterating all
    collectors per scrape (reference monitoring/__init__.py:16-24).
    Gauge values rendered with an explicit '%.4f' format on both sides
    (engine-default double→string casts diverge outside the fixture's
    value range: scientific-notation thresholds, trailing zeros); the
    event_id tiebreak pins arg_max under ts collisions."""
    ev = load_table(spark, sf_dir, "events")
    counters = M.counter(ev, ["event_type"]).select(
        "event_type", F.col("n_samples").alias("v")
    )
    counter_lines = M.exposition_lines(counters, "events_total", ["event_type"], "v")
    gauges = M.gauge_latest(ev, ["event_type"], tiebreak="event_id").select(
        "event_type", F.format_string("%.4f", F.col("gauge_value")).alias("v")
    )
    gauge_lines = M.exposition_lines(gauges, "events_value", ["event_type"], "v")
    return counter_lines.unionByName(gauge_lines)


@register(
    "counter_monotonic_guard",
    oracle="""
    WITH valid AS (
        SELECT event_type,
               (value IS NOT NULL AND NOT isnan(value) AND value >= 0) AS ok
        FROM events
    )
    SELECT event_type,
           sum(CASE WHEN ok THEN 1 ELSE 0 END)::BIGINT AS n_samples,
           sum(CASE WHEN ok THEN 0 ELSE 1 END)::BIGINT AS n_rejected
    FROM valid
    GROUP BY event_type
    """,
)
def counter_monotonic_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counter monotonicity enforcement (reference metrics.py:64-68 +
    pinned prometheus-client: negative increments raise ValueError;
    VERDICT.md "What's missing" #2). Relationally the invalid samples
    become a dead-letter side relation; this query reports accepted vs
    rejected sample counts per series — fused into ONE conditional
    aggregate (single scan, single exchange; the two-relation side-output
    form is `counter_guarded`, exercised with crafted negative/NaN/null
    rows in tests/test_golden_semantics.py). The fixture has no invalid
    rows, so the driver check degenerates to n_rejected=0."""
    ev = load_table(spark, sf_dir, "events")
    valid = M.counter_valid()
    return ev.groupBy("event_type").agg(
        F.sum(F.when(valid, 1).otherwise(0)).alias("n_samples"),
        F.sum(F.when(valid, 0).otherwise(1)).alias("n_rejected"),
    )


# Shared exposition formatting: histogram `le` labels need an explicit
# cross-engine text form — Spark casts +Inf to 'Infinity', DuckDB to 'inf',
# and Prometheus convention is '+Inf'.
_LE_SQL = "CASE WHEN isinf(le) THEN '+Inf' ELSE printf('%.3f', le) END"


@register(
    "exposition_all_families",
    oracle=f"""
    SELECT 'events_total{{event_type="' || event_type || '"}} '
           || count(*)::VARCHAR AS line
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'events_value{{event_type="' || event_type || '"}} '
           || printf('%.4f', value) AS line
    FROM (SELECT event_type, value,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) WHERE rn = 1
    UNION ALL
    SELECT 'events_obs{{event_type="' || event_type || '",quantile="0.5"}} '
           || printf('%.4f', quantile_cont(value, 0.5)) AS line
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'events_obs_count{{event_type="' || event_type || '"}} '
           || count(value)::VARCHAR AS line
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'events_obs_sum{{event_type="' || event_type || '"}} '
           || printf('%.4f', sum(value)) AS line
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'events_hist_bucket{{event_type="' || event_type || '",le="'
           || {_LE_SQL} || '"}} '
           || sum(CASE WHEN value <= le THEN 1 ELSE 0 END)::VARCHAR AS line
    FROM events
    CROSS JOIN (SELECT unnest([{M.DEFAULT_BUCKETS_SQL}, 'inf'::DOUBLE]) AS le) buckets
    GROUP BY event_type, le
    UNION ALL
    SELECT 'events_meta_info{{event_type="' || event_type || '",props='
           || props || '}} 1' AS line
    FROM (SELECT event_type, props,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) WHERE rn = 1
    """,
)
def exposition_all_families(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full five-family scrape (VERDICT.md "What's missing" #3): counter,
    gauge, summary (quantile + _count + _sum), histogram (_bucket le
    lines incl. +Inf), and `<name>_info{…} 1` (reference
    numaprom/monitoring/metrics.py:91-99 emits every family including
    info). All numeric text via explicit printf-style formats on both
    engines; all latest-value picks tiebroken by event_id."""
    ev = load_table(spark, sf_dir, "events")

    counters = M.counter(ev, ["event_type"]).select(
        "event_type", F.col("n_samples").alias("v")
    )
    counter_lines = M.exposition_lines(counters, "events_total", ["event_type"], "v")

    gauges = M.gauge_latest(ev, ["event_type"], tiebreak="event_id").select(
        "event_type", F.format_string("%.4f", F.col("gauge_value")).alias("v")
    )
    gauge_lines = M.exposition_lines(gauges, "events_value", ["event_type"], "v")

    summ = M.summary(ev, ["event_type"], quantiles=(0.5,))
    q_lines = M.exposition_lines(
        summ.select(
            "event_type",
            F.lit("0.5").alias("quantile"),
            F.format_string("%.4f", F.col("q50")).alias("v"),
        ),
        "events_obs",
        ["event_type", "quantile"],
        "v",
    )
    count_lines = M.exposition_lines(
        summ.select("event_type", F.col("obs_count").alias("v")),
        "events_obs_count",
        ["event_type"],
        "v",
    )
    sum_lines = M.exposition_lines(
        summ.select(
            "event_type", F.format_string("%.4f", F.col("obs_sum")).alias("v")
        ),
        "events_obs_sum",
        ["event_type"],
        "v",
    )

    hist = M.histogram_buckets(ev, ["event_type"]).select(
        "event_type",
        F.when(F.col("le") == float("inf"), F.lit("+Inf"))
        .otherwise(F.format_string("%.3f", F.col("le")))
        .alias("le"),
        F.col("cum_count").alias("v"),
    )
    hist_lines = M.exposition_lines(
        hist, "events_hist_bucket", ["event_type", "le"], "v"
    )

    info = (
        ev.groupBy("event_type")
        .agg(F.max_by("props", F.struct("ts", "event_id")).alias("props"))
        .select(
            F.concat(
                F.lit('events_meta_info{event_type="'),
                F.col("event_type"),
                F.lit('",props='),
                F.col("props"),
                F.lit("} 1"),
            ).alias("line")
        )
    )

    return (
        counter_lines.unionByName(gauge_lines)
        .unionByName(q_lines)
        .unionByName(count_lines)
        .unionByName(sum_lines)
        .unionByName(hist_lines)
        .unionByName(info)
    )


@register(
    "label_merge_right_biased",
    oracle="""
    SELECT DISTINCT 'prod' AS env, event_type AS merged_region
    FROM events
    """,
)
def label_merge_right_biased(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label algebra (reference metrics.py:65-67): right-biased map union —
    per-call labels override static defaults under the session invariant
    mapKeyDedupPolicy=LAST_WIN. Result surfaced as scalar lookups so the
    oracle compares values, not map encodings."""
    ev = load_table(spark, sf_dir, "events")
    static = F.create_map(
        F.lit("env"), F.lit("prod"), F.lit("region"), F.lit("default")
    )
    dynamic = F.create_map(F.lit("region"), F.col("event_type"))
    merged = M.merge_labels(static, dynamic)
    return ev.select(
        F.element_at(merged, "env").alias("env"),
        F.element_at(merged, "region").alias("merged_region"),
    ).distinct()
