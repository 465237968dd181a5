"""PromQL read-side operators, round 9 (late batch 2): the `@`
modifier (pinned-evaluation-time instant vector, composed with
`offset`) and the simple cross-series aggregator family
(`sum` / `min` / `max` / `avg` / `count` / `group` `by (...)`).
The reference delegates all PromQL evaluation to the Prometheus Query
Service (reference CHANGELOG.md:10 #168); this engine owns those
semantics over the canonical samples relation.

Semantics notes (public PromQL spec):

* `v @ 1705276800` pins the evaluation timestamp of the inner vector
  to a literal instant regardless of the outer query time — the newest
  sample per series with `sample_ts <= T` is selected (event_id
  tiebreak for equal timestamps, the repo-wide convention). The entry
  composes it with `offset 1d` (`v @ T offset 1d` ≡ select at `T − 1d`)
  and takes the binary-op difference; series missing either operand
  drop out, the PromQL vector-matching rule. The Prometheus 5-minute
  staleness lookback is not modeled (same simplification as every
  instant-vector entry in this registry — the synthetic series are all
  live at T).
* The aggregator family is the remaining cross-series aggregation
  operators not already covered one level up (`topk`/`bottomk` in
  plans/promql.py, `count_values` there, `quantile by` in
  plans/promql4.py): `sum/min/max/avg/count by (event_type)` plus the
  Prometheus 2.20 `group by` aggregator (constant 1 per non-empty
  group), and — in the third entry — `stdvar`/`stddev by (...)`, the
  POPULATION moments (Prometheus aggregators are population, not
  sample), computed from exact integer moments so even the variance
  ships unrounded.

Exactness: all arithmetic runs over exact integer cents; each emitted
double is produced by the identical operand sequence in both engines
(one or two IEEE divisions, e.g. sum_cents ÷ n ÷ 100.0 for `avg`), so
values are bit-identical unrounded — the round-8 tie-class rule
(plans/rollups.py avg_value has the canonical statement).

Scale notes (100 TB design points): both entries reduce the fact table
with ONE per-series partial aggregation (map-side combine, one
exchange keyed by the series id) — `@` additionally pushes its
`ts <= T` predicate into the parquet scan (partition/row-group
pruning), and its offset branch rides the SAME single scan as a
conditional aggregate rather than a second pass. The aggregator family
then re-aggregates the tiny series relation (cardinality thousands,
not corpus-sized)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from numalogic_prometheus_spark.operators.promql import cents, instant_vector_cents
from numalogic_prometheus_spark.plans import register
from numalogic_prometheus_spark.sources.tables import load_table

# The pinned evaluation instant for the @ modifier (a literal in real
# PromQL text, e.g. `metric @ 1705276800`), and its 1-day offset twin.
_AT_T = "2024-01-15"
_AT_T_OFF = "2024-01-14"


@register(
    "promql_at_modifier",
    oracle=f"""
    -- row_number, not arg_max: DuckDB's arg_max cannot order by a
    -- (ts, event_id) struct (same idiom as gauge_latest_per_user)
    WITH at_t AS (
        SELECT event_type, cents FROM (
            SELECT event_type, round(value * 100)::BIGINT AS cents,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY ts DESC, event_id DESC)
                       AS rn
            FROM events WHERE ts <= TIMESTAMP '{_AT_T}'
        ) WHERE rn = 1
    ),
    at_off AS (
        SELECT event_type, cents FROM (
            SELECT event_type, round(value * 100)::BIGINT AS cents,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY ts DESC, event_id DESC)
                       AS rn
            FROM events WHERE ts <= TIMESTAMP '{_AT_T_OFF}'
        ) WHERE rn = 1
    )
    SELECT a.event_type,
           a.cents / 100.0 AS value_at,
           o.cents / 100.0 AS value_at_offset,
           (a.cents - o.cents) / 100.0 AS delta_1d
    FROM at_t a JOIN at_off o ON a.event_type = o.event_type
    """,
)
def promql_at_modifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL `@` modifier: `v @ T  -  v @ T offset 1d` — the instant
    vector pinned to evaluation time T minus the same vector pinned one
    day earlier (module docstring for the selection rule). One scan:
    `ts <= T` is pushed into the parquet scan, and the offset operand is
    a conditional max over the SAME pass (a struct max, so the
    (ts, event_id) ordering and the null-skipping of rows newer than
    T − 1d come for free), not a second scan + self-join. Series lacking
    an offset sample drop out (vector-matching semantics) — expressed
    as a null filter, not a join."""
    ev = load_table(spark, sf_dir, "events")
    t = F.lit(_AT_T).cast("timestamp")
    t_off = F.lit(_AT_T_OFF).cast("timestamp")
    row = F.struct(F.col("ts"), F.col("event_id"), cents().alias("cents"))
    at = (
        ev.filter(F.col("ts") <= t)
        .groupBy("event_type")
        .agg(
            F.max(row).alias("a"),
            F.max(F.when(F.col("ts") <= t_off, row)).alias("o"),
        )
        .filter(F.col("o").isNotNull())
    )
    a_c = F.col("a").getField("cents")
    o_c = F.col("o").getField("cents")
    return at.select(
        "event_type",
        (a_c / 100.0).alias("value_at"),
        (o_c / 100.0).alias("value_at_offset"),
        ((a_c - o_c) / 100.0).alias("delta_1d"),
    )


@register(
    "promql_agg_family",
    oracle="""
    -- row_number, not arg_max: DuckDB's arg_max cannot order by a
    -- (ts, event_id) struct (same idiom as gauge_latest_per_user)
    WITH latest AS (
        SELECT event_type, user_id, cents FROM (
            SELECT event_type, user_id,
                   round(value * 100)::BIGINT AS cents,
                   row_number() OVER (PARTITION BY event_type, user_id
                                      ORDER BY ts DESC, event_id DESC)
                       AS rn
            FROM events
        ) WHERE rn = 1
    )
    SELECT event_type,
           sum(cents)::BIGINT / 100.0 AS sum_v,
           min(cents) / 100.0 AS min_v,
           max(cents) / 100.0 AS max_v,
           sum(cents)::BIGINT / count(*) / 100.0 AS avg_v,
           count(*)::BIGINT AS count_series,
           1::BIGINT AS group_one
    FROM latest
    GROUP BY event_type
    """,
)
def promql_agg_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL simple cross-series aggregators in one pass:
    `sum/min/max/avg/count by (event_type) (v)` plus the 2.20 `group`
    aggregator (constant 1 per non-empty group) over the instant vector
    (latest sample per (event_type, user) series, event_id tiebroken).
    Two partial aggregations: per-series max_by over the fact table
    (map-side combine, one exchange), then one combine over the series
    relation. `avg` is sum_cents ÷ n ÷ 100.0, the exact-integer operand
    sequence both engines share (module docstring)."""
    latest = instant_vector_cents(load_table(spark, sf_dir, "events"))
    return latest.groupBy("event_type").agg(
        (F.sum("cents") / 100.0).alias("sum_v"),
        (F.min("cents") / 100.0).alias("min_v"),
        (F.max("cents") / 100.0).alias("max_v"),
        (F.sum("cents") / F.count(F.lit(1)) / 100.0).alias("avg_v"),
        F.count(F.lit(1)).cast("long").alias("count_series"),
        F.lit(1).cast("long").alias("group_one"),
    )


@register(
    "promql_stddev_agg_by",
    oracle="""
    -- row_number, not arg_max: DuckDB's arg_max cannot order by a
    -- (ts, event_id) struct (same idiom as gauge_latest_per_user)
    WITH latest AS (
        SELECT event_type, user_id, cents FROM (
            SELECT event_type, user_id,
                   round(value * 100)::BIGINT AS cents,
                   row_number() OVER (PARTITION BY event_type, user_id
                                      ORDER BY ts DESC, event_id DESC)
                       AS rn
            FROM events
        ) WHERE rn = 1
    ),
    moments AS (
        SELECT event_type,
               count(*)::BIGINT AS n,
               sum(cents)::BIGINT AS s1,
               sum(cents * cents)::BIGINT AS s2
        FROM latest
        GROUP BY event_type
    )
    SELECT event_type,
           (n * s2 - s1 * s1) / (n * n) / 10000.0 AS stdvar_v,
           sqrt((n * s2 - s1 * s1) / (n * n) / 10000.0) AS stddev_v,
           n AS n_series
    FROM moments
    """,
)
def promql_stddev_agg_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL `stdvar by (event_type) (v)` / `stddev by (...)`: the
    POPULATION variance/deviation across series of the instant vector
    (the Prometheus aggregators are population moments, not sample).
    Computed from exact integer moments — var = (n·Σc² − (Σc)²)/n² over
    cents is exact BIGINT arithmetic until one IEEE division chain
    (÷n² ÷10⁴ to dollars²), and IEEE sqrt is correctly rounded — so
    BOTH outputs are bit-identical cross-engine UNROUNDED, where the
    naive stddev_pop() aggregate would need a rounding absorber for
    accumulation-order noise (tests/test_rounding_lint.py). Same
    two-level shape as the rest of the aggregator family: per-series
    max_by partial agg, then one combine over the series relation."""
    latest = instant_vector_cents(load_table(spark, sf_dir, "events"))
    moments = latest.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).alias("s2"),
    )
    stdvar = (
        (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1"))
        / (F.col("n") * F.col("n"))
        / 10000.0
    )
    return moments.select(
        "event_type",
        stdvar.alias("stdvar_v"),
        F.sqrt(stdvar).alias("stddev_v"),
        F.col("n").alias("n_series"),
    )
