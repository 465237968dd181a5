"""PromQL read-side operators, round 9 (late batch 5): the remaining
instant-vector function surface — the math-function family, comparison
binary operators (filter AND `bool` modes), vector-scalar binary ops
with `scalar()`/`vector()`, and the Prometheus 3.x experimental
`ts_of_{max,min,last}_over_time` range functions. The reference
delegates all PromQL evaluation to the Prometheus Query Service
(reference CHANGELOG.md:10 #168); this engine owns those semantics
over the canonical samples relation.

Semantics notes (public PromQL spec / promql/functions.go):

* Math functions are per-sample maps that DROP the metric name:
  abs/ceil/floor/sgn are exact integer-or-double-identical ops;
  sqrt is IEEE-754 correctly rounded (bit-identical cross-engine,
  emitted UNROUNDED); exp/ln are libm transcendentals with no
  cross-libm bit guarantee — each is emitted through the documented
  round(·, 6) absorber (tests/test_rounding_lint.py), with the exp
  argument pre-scaled into [-6, 6] so absolute 1e-6 quantization
  actually absorbs the relative ulp noise (round-6 on exp(600)≈1e260
  would absorb nothing). deg()/rad() are spelled as the explicit
  literal operand sequence v·π/180 (and v·180/π) on BOTH engines —
  π is the same closest-double everywhere, so the products are
  bit-identical and unrounded.
* PromQL's ln(x≤0) and sqrt(x<0) return NaN; DuckDB's ln()/sqrt()
  RAISE on those inputs (verify skill gotchas), so both engines gate
  with CASE and emit NULL — a documented, symmetric deviation (the
  driver hash treats NULL identically on both sides).
* Comparison binops have two modes: FILTER (`v > 30` keeps the sample,
  value unchanged) and BOOL (`v > bool 30` yields 0/1 and keeps every
  series). Comparisons run on exact integer cents — no double
  comparison can tie-break differently across engines.
* `v / scalar(avg(v))` broadcasts one scalar to every series; the
  scalar is the exact-integer operand sequence sum_cents ÷ n ÷ 100.0
  and the per-series ratio is ONE further IEEE division of
  bit-identical doubles — deterministic, unrounded. `vector(1)`
  degenerates to a constant column.
* `ts_of_max_over_time` / `ts_of_min_over_time` / `ts_of_last_over_time`
  (Prometheus 3.x, feature-flagged): the TIMESTAMP of the extreme
  sample in the range. Go scans samples in ascending time order and
  updates on `>=` (max) / `<=` (min), so value ties resolve to the
  LATEST timestamp — encoded here as max_by over the (cents, ts)
  struct (and (-cents, ts) for min). Timestamps are emitted as exact
  epoch MICROS (integers ≪ 2^53) — the whole entry is float-free.

Scale notes (100 TB design points): every entry is a single partial
aggregation over the fact scan — map-side combine, ONE exchange on the
series key, no joins except the scalar binop's crossJoin of a ONE-ROW
broadcast relation (bounded by construction; test_plan_shape pins
crossJoin boundedness). The math/comparison maps are whole-stage
codegen expressions over the aggregated series relation (series-dim
cardinality, not fact cardinality).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from numalogic_prometheus_spark.functions.timeutil import epoch_us
from numalogic_prometheus_spark.operators.promql import cents, instant_vector_cents
from numalogic_prometheus_spark.plans import register
from numalogic_prometheus_spark.sources.tables import load_table

# Shared instant-vector CTE: latest sample per (event_type, user_id)
# series, event_id-tiebroken, value as exact integer cents (same idiom
# as promql_agg_family / gauge_latest_per_user — row_number, not
# arg_max: DuckDB's arg_max cannot order by a (ts, event_id) struct).
_LATEST_CTE = """
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
"""


@register(
    "promql_math_functions",
    oracle=_LATEST_CTE
    + """
    SELECT event_type, user_id,
           cents / 100.0 AS v,
           abs(cents) / 100.0 AS abs_v,
           ceil(cents / 100.0) AS ceil_v,
           floor(cents / 100.0) AS floor_v,
           CASE WHEN cents > 0 THEN 1.0
                WHEN cents < 0 THEN -1.0 ELSE 0.0 END AS sgn_v,
           CASE WHEN cents >= 0 THEN sqrt(cents / 100.0) END AS sqrt_v,
           round(exp(cents / 100.0 / 1000.0), 6) AS exp_milli_v,
           CASE WHEN cents > 0
                THEN round(ln(cents / 100.0), 6) END AS ln_v,
           cents / 100.0 * pi() / 180.0 AS rad_v,
           cents / 100.0 * 180.0 / pi() AS deg_v
    FROM latest
    """,
)
def promql_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL math-function family over the instant vector:
    abs/ceil/floor/sgn (exact), sqrt (IEEE-correctly-rounded, emitted
    unrounded), exp/ln (libm — round-6 absorbers, exp argument
    pre-scaled into [-6,6] so the absolute quantum covers the relative
    ulp noise), rad/deg (explicit v·π/180 literal operand sequence,
    bit-identical cross-engine, unrounded). ln/sqrt of non-positive
    inputs emit NULL on BOTH engines (module docstring: DuckDB raises
    where PromQL yields NaN). Plan: one partial aggregation to the
    series relation, then pure codegen maps — no further exchange."""
    s = instant_vector_cents(load_table(spark, sf_dir, "events"))
    c = F.col("cents")
    v = c / 100.0
    pi = F.lit(3.141592653589793)
    return s.select(
        "event_type",
        "user_id",
        v.alias("v"),
        (F.abs(c) / 100.0).alias("abs_v"),
        F.ceil(v).cast("double").alias("ceil_v"),
        F.floor(v).cast("double").alias("floor_v"),
        F.when(c > 0, 1.0).when(c < 0, -1.0).otherwise(0.0).alias("sgn_v"),
        F.when(c >= 0, F.sqrt(v)).alias("sqrt_v"),
        F.round(F.exp(v / 1000.0), 6).alias("exp_milli_v"),
        F.when(c > 0, F.round(F.log(v), 6)).alias("ln_v"),
        (v * pi / 180.0).alias("rad_v"),
        (v * 180.0 / pi).alias("deg_v"),
    )


@register(
    "promql_comparison_bool",
    oracle=_LATEST_CTE
    + """
    SELECT event_type,
           count(*)::BIGINT AS n_series,
           sum(CASE WHEN cents > 3000 THEN 1 ELSE 0 END)::BIGINT
               AS n_gt_bool,
           sum(CASE WHEN cents >= 3000 THEN 1 ELSE 0 END)::BIGINT
               AS n_ge_bool,
           sum(CASE WHEN cents = 3000 THEN 1 ELSE 0 END)::BIGINT
               AS n_eq_bool,
           sum(CASE WHEN cents != 3000 THEN 1 ELSE 0 END)::BIGINT
               AS n_ne_bool,
           sum(CASE WHEN cents > 3000 THEN cents ELSE 0 END)::BIGINT
               / 100.0 AS sum_filtered
    FROM latest
    GROUP BY event_type
    """,
)
def promql_comparison_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL comparison binops, both modes, against the literal 30:
    `v > bool 30` (and >=, ==, !=) yields 0/1 per series — summed per
    group here so the entry emits the bounded group relation — while
    FILTER mode (`v > 30`) keeps the sample with its value unchanged
    (sum_filtered aggregates the survivors). All comparisons run on
    exact integer cents (3000 = 30.00): no cross-engine tie is
    possible. Two partial aggregations, each with map-side combine."""
    s = instant_vector_cents(load_table(spark, sf_dir, "events"))
    c = F.col("cents")
    one = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("long")  # noqa: E731
    return s.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_series"),
        one(c > 3000).alias("n_gt_bool"),
        one(c >= 3000).alias("n_ge_bool"),
        one(c == 3000).alias("n_eq_bool"),
        one(c != 3000).alias("n_ne_bool"),
        (F.sum(F.when(c > 3000, c).otherwise(0)).cast("long") / 100.0)
        .alias("sum_filtered"),
    )


@register(
    "promql_scalar_binop",
    oracle=_LATEST_CTE
    + """
    , s AS (
        SELECT sum(cents)::BIGINT / count(*) / 100.0 AS mean_v
        FROM latest
    )
    SELECT l.event_type, l.user_id,
           l.cents / 100.0 AS v,
           s.mean_v AS scalar_mean,
           l.cents / 100.0 / s.mean_v AS ratio_to_mean,
           1.0 AS vector_one
    FROM latest l CROSS JOIN s
    """,
)
def promql_scalar_binop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL vector-scalar binary op: `v / scalar(avg(v))` — every
    series divided by ONE global scalar — plus the `vector(1)` literal
    lift. The scalar is the exact-integer operand sequence
    sum_cents ÷ n ÷ 100.0; the per-series ratio is one further IEEE
    division of bit-identical doubles on both engines (deterministic,
    unrounded). Plan: the scalar is a ONE-ROW relation crossJoined in
    — Spark broadcasts it (BroadcastNestedLoopJoin over a single row;
    bounded by construction, test_plan_shape pins crossJoin
    boundedness); the fact side never moves."""
    s = instant_vector_cents(load_table(spark, sf_dir, "events"))
    scalar = s.agg(
        (F.sum("cents") / F.count(F.lit(1)) / 100.0).alias("mean_v")
    )
    return s.crossJoin(F.broadcast(scalar)).select(
        "event_type",
        "user_id",
        (F.col("cents") / 100.0).alias("v"),
        F.col("mean_v").alias("scalar_mean"),
        (F.col("cents") / 100.0 / F.col("mean_v")).alias("ratio_to_mean"),
        F.lit(1.0).alias("vector_one"),
    )


@register(
    "promql_ts_of_over_time",
    oracle="""
    WITH s AS (
        SELECT event_type, user_id, ts,
               round(value * 100)::BIGINT AS cents
        FROM events
    ),
    r AS (
        SELECT *,
               row_number() OVER (PARTITION BY event_type, user_id
                                  ORDER BY cents DESC, ts DESC) AS rmax,
               row_number() OVER (PARTITION BY event_type, user_id
                                  ORDER BY cents ASC, ts DESC) AS rmin
        FROM s
    )
    SELECT event_type, user_id,
           epoch_us(max(ts)) AS ts_of_last,
           max(CASE WHEN rmax = 1 THEN epoch_us(ts) END) AS ts_of_max,
           max(CASE WHEN rmin = 1 THEN epoch_us(ts) END) AS ts_of_min,
           max(CASE WHEN rmax = 1 THEN cents END) / 100.0 AS max_v,
           max(CASE WHEN rmin = 1 THEN cents END) / 100.0 AS min_v
    FROM r
    GROUP BY event_type, user_id
    """,
)
def promql_ts_of_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus 3.x `ts_of_{max,min,last}_over_time`: the TIMESTAMP
    of the extreme sample per series over the range. Go updates on
    `>=`/`<=` while scanning ascending, so value ties resolve to the
    LATEST timestamp — max_by over the (cents, ts) struct ((−cents,
    ts) for min) encodes exactly that rule; equal (cents, ts)
    collisions emit the same ts regardless of which row wins, so the
    result is deterministic. Timestamps emitted as exact epoch micros
    (integers ≪ 2^53) — the entry is float-free except the two exact
    cents ÷ 100.0 value divisions. Plan: ONE partial aggregation over
    the fact scan (map-side combine, one exchange on the series key);
    the oracle's double row_number is DuckDB-side only."""
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.select("event_type", "user_id", "ts", cents().alias("cents"))
    return tagged.groupBy("event_type", "user_id").agg(
        epoch_us(F.max("ts")).alias("ts_of_last"),
        epoch_us(
            F.max_by(F.col("ts"), F.struct("cents", "ts"))
        ).alias("ts_of_max"),
        epoch_us(
            F.max_by(F.col("ts"), F.struct((-F.col("cents")).alias("neg"), F.col("ts")))
        ).alias("ts_of_min"),
        (F.max("cents") / 100.0).alias("max_v"),
        (F.min("cents") / 100.0).alias("min_v"),
    )
