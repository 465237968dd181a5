"""PromQL read-side operators, round 9 (late batch 3): the classic
histogram scalar family (`histogram_count` / `histogram_sum` /
`histogram_avg`) and `double_exponential_smoothing` (the function
renamed from `holt_winters` in Prometheus 3.x) with its sequential
recurrence pinned by a RECURSIVE-CTE oracle — extending the
recursive-CTE oracle technique (`dedup_cluster_components` uses it for
an ITERATIVE fixpoint) to an ORDERED per-sample state recurrence,
previously the defining rows-only seam (ts_ewma_irregular /
ts_holt_winters_level_trend).

The reference delegates all PromQL evaluation to the Prometheus Query
Service (reference CHANGELOG.md:10 #168); this engine owns those
semantics over the canonical samples relation.

Semantics notes (public PromQL spec / promql/functions.go):

* `histogram_count(v)` / `histogram_sum(v)` read the `_count` / `_sum`
  series that every classic histogram family exposes alongside its
  cumulative `le` buckets; `histogram_avg(v)` (Prometheus 2.53+) is
  their ratio. The entry computes all three per series group in the
  SAME single partial aggregation the histogram discipline uses for
  its `_sum`/`_count` exposition rows (operators/metrics.py:119's
  scan shape; `promql_histogram_quantile_p90` / `_fraction` cover the
  bucket side of the family).
* `double_exponential_smoothing(v[r], sf, tf)` follows the exact
  Prometheus recurrence: with samples v₁..vₙ (n ≥ 2, ties broken by
  event_id), init s←v₁, b←v₂−v₁; at v₂ the trend is NOT yet updated
  (functions.go calcTrendValue(i==0) returns b), so s←sf·v₂ +
  (1−sf)·(s+b); from v₃ on, b←tf·(s−s_prev)+(1−tf)·b first, then
  s←sf·v+(1−sf)·(s+b). The instant query returns the final smoothed
  value per series. sf=0.3, tf=0.1.

Exactness: the recurrence is pure literal-coefficient `*`/`+` over
parquet doubles — both engines execute the IDENTICAL operand sequence
(the coefficients are the same double literals on both sides; 1−sf is
spelled 0.7, NOT computed, since double(1)−double(0.3) ≠ double(0.7)),
so the smoothed values are bit-identical unrounded. The oracle walks
the same recurrence as a DuckDB RECURSIVE CTE joining sample rank
rn = rn+1 — recursion depth is the max per-series sample count, which
is ~30 at every shipped SF because the fixture's (event_type, user_id)
series cardinality scales with the data while per-series depth stays
flat. histogram_avg ships as exact-integer cents (sum_cents ÷ n ÷
100.0, the registry-wide tie-class rule, plans/rollups.py).

Scale notes (100 TB design points): the histogram family is one
partial aggregation (map-side combine, one exchange on the series
key). The smoothing entry's per-series state is sequential BY
DEFINITION; here it shuffles once on (event_type, user_id) — bounded
~30-row groups, Arrow-batched — while the unbounded-depth scale path
is the SEGMENTED SCAN of `ts_holt_winters_level_trend`
(plans/timeseries.py: per-day transfer matrices, |eig| < 1 tail
truncation), which trades the oracle's literal operand order for
#series × #days parallelism. This entry is the exactness twin that
pins the semantics the segmented scan must reproduce.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from numalogic_prometheus_spark.operators.promql import cents
from numalogic_prometheus_spark.plans import register
from numalogic_prometheus_spark.sources.tables import load_table

_SF = 0.3  # smoothing factor (weight of the current sample)
_SF1 = 0.7  # 1 - sf as a LITERAL double (see module docstring)
_TF = 0.1  # trend factor
_TF1 = 0.9  # 1 - tf as a literal double


@register(
    "promql_histogram_avg",
    oracle="""
    SELECT event_type, user_id,
           count(*)::BIGINT AS hist_count,
           sum(round(value * 100)::BIGINT)::BIGINT / 100.0 AS hist_sum,
           sum(round(value * 100)::BIGINT)::BIGINT / count(*) / 100.0
               AS hist_avg
    FROM events
    GROUP BY event_type, user_id
    """,
)
def promql_histogram_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL `histogram_count` / `histogram_sum` / `histogram_avg` over
    the classic histogram family: the `_count` and `_sum` series each
    histogram exposes next to its `le` buckets, and their ratio
    (module docstring). One partial aggregation over exact integer
    cents; `hist_sum` and `hist_avg` are each ONE IEEE division chain
    from exact BIGINTs, so both ship bit-identical unrounded."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("hist_count"),
        (F.sum(cents()) / 100.0).alias("hist_sum"),
        (F.sum(cents()) / F.count(F.lit(1)) / 100.0).alias("hist_avg"),
    )


@register(
    "promql_double_exponential_smoothing",
    oracle=f"""
    WITH RECURSIVE base AS (
        SELECT event_type, user_id, value,
               row_number() OVER (PARTITION BY event_type, user_id
                                  ORDER BY ts, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type, user_id) AS n
        FROM events
    ),
    rec AS (
        -- rn=2 seed: s_prev=v1, b=v2-v1, s=sf*v2 + (1-sf)*(v1 + b)
        -- (the trend is not re-estimated at the second sample:
        -- functions.go calcTrendValue(i==0) returns b unchanged)
        SELECT b2.event_type, b2.user_id, b2.n, b2.rn,
               b1.value AS s_prev,
               {_SF} * b2.value
                   + {_SF1} * (b1.value + (b2.value - b1.value)) AS s,
               b2.value - b1.value AS b
        FROM base b2 JOIN base b1
          ON b1.event_type = b2.event_type AND b1.user_id = b2.user_id
         AND b2.rn = 2 AND b1.rn = 1
        UNION ALL
        -- rn -> rn+1: b' = tf*(s - s_prev) + (1-tf)*b first,
        --             s' = sf*v + (1-sf)*(s + b')
        SELECT nx.event_type, nx.user_id, r.n, nx.rn,
               r.s AS s_prev,
               {_SF} * nx.value
                   + {_SF1} * (r.s + ({_TF} * (r.s - r.s_prev)
                                      + {_TF1} * r.b)) AS s,
               {_TF} * (r.s - r.s_prev) + {_TF1} * r.b AS b
        FROM rec r JOIN base nx
          ON nx.event_type = r.event_type AND nx.user_id = r.user_id
         AND nx.rn = r.rn + 1
    )
    SELECT event_type, user_id, n AS n_samples,
           s AS smoothed, b AS trend
    FROM rec WHERE rn = n
    """,
)
def promql_double_exponential_smoothing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PromQL `double_exponential_smoothing(v[r], 0.3, 0.1)` (née
    `holt_winters`): Holt's linear smoothing with the EXACT Prometheus
    recurrence and init (module docstring), returning the final
    smoothed value + trend per (event_type, user_id) series with ≥ 2
    samples. The per-series literal loop runs ENTIRELY IN THE JVM as
    an `F.aggregate` fold over the series' time-sorted value array
    (one partial `collect_list` aggregation on the series key,
    `array_sort` on the (ts, event_id) struct prefix, then a
    literal-coefficient fold carrying `(s_prev, s, b)` state) — no
    Python in the path. An earlier `applyInPandas` kernel computed
    the same operand sequence but paid per-group pandas overhead on
    ~30-row groups (17.7 s at sf0.1 vs sub-second for this fold). The
    oracle replays the identical operand sequence as a DuckDB
    RECURSIVE CTE, making this the registry's first
    cross-engine-verified ORDERED state recurrence (module docstring)
    — it pins the semantics the segmented-scan scale path
    (`ts_holt_winters_level_trend`) must reproduce."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", "ts", "event_id", "value"
    )
    # one exchange on the series key; per-series arrays are bounded
    # (~30 samples at every shipped SF — series cardinality, not
    # depth, scales with the data; module docstring)
    grp = (
        ev.groupBy("event_type", "user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "value"))
            ).alias("pts")
        )
        # PromQL emits nothing below 2 samples
        .filter(F.size("pts") >= 2)
        .withColumn("vals", F.transform(F.col("pts"), lambda p: p["value"]))
    )

    v1 = F.element_at(F.col("vals"), 1)
    v2 = F.element_at(F.col("vals"), 2)
    # seed consumes v2 with the unmodified init trend b0 = v2 - v1
    b0 = v2 - v1
    s0 = F.lit(_SF) * v2 + F.lit(_SF1) * (v1 + b0)
    init = F.struct(v1.alias("s_prev"), s0.alias("s"), b0.alias("b"))
    rest = F.slice(F.col("vals"), 3, F.size(F.col("vals")) - 2)

    def step(acc, x):
        # b' first, then s' — the exact functions.go order; bn appears
        # twice in the tree but both evaluations are the identical
        # deterministic double expression
        bn = (
            F.lit(_TF) * (acc["s"] - acc["s_prev"]) + F.lit(_TF1) * acc["b"]
        )
        sn = F.lit(_SF) * x + F.lit(_SF1) * (acc["s"] + bn)
        return F.struct(
            acc["s"].alias("s_prev"), sn.alias("s"), bn.alias("b")
        )

    fin = F.aggregate(rest, init, step)
    # for n == 2 the fold body never runs and fin.b is still the init
    # trend v2 - v1, exactly the oracle's seed row
    return grp.select(
        "event_type",
        "user_id",
        F.size("vals").cast("long").alias("n_samples"),
        fin["s"].alias("smoothed"),
        fin["b"].alias("trend"),
    )
