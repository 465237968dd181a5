"""PromQL native-histogram entries and the PromQL 3 `info()` function.

The reference delegates all PromQL evaluation to the Prometheus Query
Service (reference CHANGELOG.md:10 #168); this engine owns those
semantics over the canonical samples relation. The eight
native-histogram entries (schema 0, Prometheus 3's headline data-model
feature) share operators/native_histogram.py: the exact power-of-two
bucket index, the window-delta substrate and its rate, and the
exponential quantile and fraction read-outs. Each oracle spells the
same semantics in DuckDB SQL over the same ladder constants.

Semantics notes (public Prometheus native-histogram spec):

* `histogram_quantile(q, native_histogram)` and `histogram_fraction`
  interpolate EXPONENTIALLY inside the located bucket (the v2.50+ rule
  for native histograms, vs linear for classic buckets). The quantile's
  single `pow(2.0, frac)` is its one transcendental — final-ulp
  cross-engine noise is absorbed by the engine-level 1e-6
  canonicalization exactly like the tanh/regr_slope entries (NO
  in-query round(): tests/test_rounding_lint.py).
* `histogram_stddev(v)` / `histogram_stdvar(v)` (native-histogram
  stats): population variance of the bucket-midpoint distribution,
  each populated bucket contributing its count at the GEOMETRIC mean
  of its bounds (functions.go histogramStdDev: sqrt(lower·upper),
  sign-mirrored for negative buckets, 0 for the zero bucket) against
  the true mean h.Sum/h.Count. Go kahan-sums c·(val−mean)² in bucket
  order — an operand sequence neither engine can replay — so the
  entry computes the algebraically identical moment form from EXACT
  INTEGER sums instead (see the entry docstring); the overflow bucket
  clamps to ±2^HI (where Go returns +Inf), the same
  bounded-resolution rule as the quantile entry.
* `timestamp(v)` returns each series' SAMPLE timestamp as the value
  (functions.go funcTimestamp reads T, not the evaluation time); the
  instant-query lookback picks the latest sample per series.
* `info(v, target_info)` (PromQL 3 experimental): enrich each sample
  of v with data labels from the matching info series, matched on
  identifying labels AND time (the info row in effect at the sample's
  timestamp). That is an AS-OF join by construction — implemented on
  the union+window asof_join operator (one shuffle, no range join;
  operators/relational.py:22) with the right side deduplicated to one
  info row per (key, ts) by event_id (both engines would otherwise
  tie-break equal-ts info rows arbitrarily). Samples with no info row
  in effect DROP (join, not outer-join, semantics).

Scale notes (100 TB design points): bucket assignment is a pure
map-side expression (a 23-element literal-array filter inside
whole-stage codegen — no explode, no join, no shuffle), followed by
ONE exchange on (event_type, kind, idx) whose cardinality is series ×
~30 buckets, tiny; the quantile then re-aggregates that sparse bucket
relation with two window passes over ≤ 30 rows per series. The info()
join is the asof operator's single co-partitioned exchange — no
broadcast of the fact side, no per-row lookup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from numalogic_prometheus_spark.functions.timeutil import epoch_us
from numalogic_prometheus_spark.operators import native_histogram as NH
from numalogic_prometheus_spark.operators.promql import cents
from numalogic_prometheus_spark.operators.relational import asof_join
from numalogic_prometheus_spark.plans import register
from numalogic_prometheus_spark.sources.tables import load_table

_NH_BUCKETS_CTE = f"""
    WITH tagged AS (
        SELECT event_type,
               CASE WHEN value > 0 THEN 'pos'
                    WHEN value < 0 THEN 'neg'
                    ELSE 'zero' END AS kind,
               CASE WHEN value = 0 THEN NULL
                    ELSE {NH.LO} + len(list_filter([{NH.BOUNDS_SQL}],
                                                 b -> b < abs(value)))
                    END AS idx
        FROM events
    ),
    sparse AS (
        SELECT event_type, kind, idx, count(*)::BIGINT AS n
        FROM tagged
        GROUP BY event_type, kind, idx
    )
"""


@register(
    "promql_native_histogram_buckets",
    oracle=_NH_BUCKETS_CTE
    + f"""
    SELECT event_type, kind, idx, n,
           CASE kind WHEN 'zero' THEN 0.0
                WHEN 'pos' THEN pow(2.0, idx - 1)
                ELSE CASE WHEN idx > {NH.HI} THEN '-inf'::DOUBLE
                          ELSE -pow(2.0, idx) END END AS lower,
           CASE kind WHEN 'zero' THEN 0.0
                WHEN 'pos' THEN CASE WHEN idx > {NH.HI} THEN 'inf'::DOUBLE
                                     ELSE pow(2.0, idx) END
                ELSE -pow(2.0, idx - 1) END AS upper
    FROM sparse
    """,
)
def promql_native_histogram_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Prometheus 3 native histogram (schema 0): sparse exponential
    buckets per series — (kind, idx, count, lower, upper) with
    (2^(idx−1), 2^idx] positive buckets, mirrored negative buckets and
    the zero bucket (module docstring for the exactness argument: all
    boundary comparisons are against exact power-of-two literals, no
    logs). Bucket assignment is a map-side literal-array filter inside
    codegen; ONE exchange on the sparse (series, kind, idx) key."""
    ev = load_table(spark, sf_dir, "events")
    idx = NH.bucket_index(F.abs(F.col("value")))
    kind = (
        F.when(F.col("value") > 0, "pos")
        .when(F.col("value") < 0, "neg")
        .otherwise("zero")
    )
    tagged = ev.select(
        "event_type",
        kind.alias("kind"),
        F.when(F.col("value") == 0, F.lit(None)).otherwise(idx).alias("idx"),
    )
    sparse = tagged.groupBy("event_type", "kind", "idx").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    inf = F.lit(float("inf"))
    pos_upper = F.when(F.col("idx") > NH.HI, inf).otherwise(
        F.pow(F.lit(2.0), F.col("idx"))
    )
    neg_lower = F.when(F.col("idx") > NH.HI, -inf).otherwise(
        -F.pow(F.lit(2.0), F.col("idx"))
    )
    lower = (
        F.when(F.col("kind") == "zero", F.lit(0.0))
        .when(F.col("kind") == "pos", F.pow(F.lit(2.0), F.col("idx") - 1))
        .otherwise(neg_lower)
    )
    upper = (
        F.when(F.col("kind") == "zero", F.lit(0.0))
        .when(F.col("kind") == "pos", pos_upper)
        .otherwise(-F.pow(F.lit(2.0), F.col("idx") - 1))
    )
    return sparse.select(
        "event_type", "kind", "idx", "n",
        lower.alias("lower"), upper.alias("upper"),
    )


@register(
    "promql_native_histogram_quantile",
    oracle=_NH_BUCKETS_CTE
    + f"""
    , pos AS (
        SELECT event_type, idx, n,
               sum(n) OVER (PARTITION BY event_type ORDER BY idx) AS cum,
               sum(n) OVER (PARTITION BY event_type) AS total
        FROM sparse WHERE kind = 'pos'
    ),
    hit AS (
        SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY idx) AS rn
        FROM pos WHERE cum >= total * 0.9
    )
    SELECT event_type, total::BIGINT AS n_obs,
           CASE WHEN idx > {NH.HI} THEN pow(2.0, {NH.HI})
                ELSE pow(2.0, idx - 1)
                     * pow(2.0, (total * 0.9 - (cum - n)) / n) END
               AS quantile_value
    FROM hit WHERE rn = 1
    """,
)
def promql_native_histogram_quantile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`histogram_quantile(0.9, native_histogram)`: locate the target
    bucket by cumulative count over the SPARSE positive exponential
    buckets, then interpolate EXPONENTIALLY inside it —
    lower · 2^frac, the v2.50+ native-histogram rule (vs the linear
    interpolation of the classic-bucket `promql_histogram_quantile_p90`).
    An overflow-bucket hit returns the largest finite boundary, the
    same guard as the classic entry's +Inf rule. The quantile runs
    entirely on the sparse bucket relation (≤ ~30 rows per series)."""
    ev = load_table(spark, sf_dir, "events")
    sparse = (
        ev.filter(F.col("value") > 0)
        .select("event_type", NH.bucket_index(F.abs(F.col("value"))).alias("idx"))
        .groupBy("event_type", "idx")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    hit, qv = NH.exp_quantile(sparse, ["event_type"], "n", 0.9)
    return hit.select(
        "event_type",
        F.col("total").cast("long").alias("n_obs"),
        qv.alias("quantile_value"),
    )


@register(
    "promql_info_enrich",
    oracle="""
    WITH info AS (
        -- one info row per (user, ts): equal-ts info updates are
        -- event_id tie-broken BEFORE the as-of match, or both engines
        -- would pick arbitrarily
        SELECT user_id, ts, max_by(json_extract_string(props, '$.k')::BIGINT,
                                   event_id) AS info_k
        FROM events WHERE event_type = 'signup'
        GROUP BY user_id, ts
    )
    SELECT p.event_id, p.user_id, p.value AS purchase_value, i.info_k
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF JOIN info i
      ON p.user_id = i.user_id AND i.ts <= p.ts
    """,
)
def promql_info_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL 3 `info()` analog: each purchase sample enriched with the
    data label `k` of the user's `signup` info series IN EFFECT AT the
    sample's timestamp — identifying-label match (user_id) + temporal
    validity = an as-of join (module docstring). Samples with no info
    row yet DROP (join semantics). One co-partitioned union+window
    shuffle via the asof_join operator; the info side is deduplicated
    to one row per (user, ts) by event_id first."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("purchase_value")
    )
    info = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(
            F.max_by(
                F.get_json_object("props", "$.k").cast("long"), "event_id"
            ).alias("info_k")
        )
    )
    joined = asof_join(purchases, info, on=["user_id"], value_cols=["info_k"])
    return joined.filter(F.col("info_k").isNotNull()).select(
        "event_id", "user_id", "purchase_value", "info_k"
    )


@register(
    "promql_native_histogram_stddev",
    oracle=f"""
    WITH tagged AS (
        SELECT event_type,
               CASE WHEN value > 0 THEN 1
                    WHEN value < 0 THEN -1 ELSE 0 END AS sgn,
               CASE WHEN value = 0 THEN NULL
                    ELSE {NH.LO} + len(list_filter([{NH.BOUNDS_SQL}],
                                                 b -> b < abs(value)))
                    END AS idx,
               round(value * 100)::BIGINT AS cents
        FROM events
    ),
    agg AS (
        SELECT event_type,
               count(*)::BIGINT AS n,
               sum(cents)::BIGINT AS s_cents,
               coalesce(sum(CASE WHEN sgn <> 0 AND idx <= {NH.HI}
                            THEN sgn * (1::BIGINT << (idx + 10))
                            ELSE 0 END), 0)::BIGINT AS a_sum,
               coalesce(sum(CASE WHEN sgn <> 0 AND idx > {NH.HI}
                            THEN sgn ELSE 0 END), 0)::BIGINT AS b_sum,
               -- DuckDB sum(BIGINT) is HUGEINT: the 2^(2idx+20) terms
               -- reach 2^44 and their sum would overflow BIGINT at sf1
               coalesce(sum(CASE WHEN sgn <> 0 AND idx <= {NH.HI}
                            THEN (1::BIGINT << (2 * idx + 20))
                            ELSE 0 END), 0) AS c_sum,
               coalesce(sum(CASE WHEN sgn <> 0 AND idx > {NH.HI}
                            THEN 1 ELSE 0 END), 0)::BIGINT AS d_sum
        FROM tagged GROUP BY event_type
    ),
    mom AS (
        SELECT event_type, n,
               s_cents / n / 100.0 AS mean,
               a_sum / 1024.0 / sqrt(2.0) + b_sum * 4096.0 AS sumval,
               c_sum::DOUBLE / 2097152.0 + d_sum * 16777216.0 AS sumval2
        FROM agg
    )
    SELECT event_type, n AS n_obs,
           (sumval2 - 2.0 * mean * sumval + mean * mean * n) / n
               AS stdvar_value,
           CASE WHEN (sumval2 - 2.0 * mean * sumval + mean * mean * n) / n
                     < 0 THEN 0.0
                ELSE sqrt((sumval2 - 2.0 * mean * sumval
                           + mean * mean * n) / n) END AS stddev_value
    FROM mom
    """,
)
def promql_native_histogram_stddev(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PromQL `histogram_stddev` / `histogram_stdvar` over the schema-0
    native histogram: per series, the population variance of the
    bucket-midpoint distribution — each populated bucket contributes
    its count at the GEOMETRIC mean of its bounds (functions.go
    histogramStdDev: val = sqrt(lower·upper), sign-mirrored for
    negative buckets, 0 for the zero bucket), against the true sample
    mean h.Sum/h.Count.

    Exactness: Go kahan-sums c·(val−mean)² in bucket order; neither
    engine can replay that operand sequence, so the entry computes the
    ALGEBRAICALLY IDENTICAL moment form from exact integers instead —
    for a positive bucket idx, val = 2^(idx−1/2), so
    Σc·val = (Σ±c·2^(idx+10)) / 2^10 / √2 and
    Σc·val² = (Σc·2^(2idx+20)) / 2^21 with BOTH inner sums exact
    integers (the second as Spark DECIMAL(38,0) / DuckDB HUGEINT — its
    2^44-scale terms would overflow BIGINT at sf1), then ONE identical
    IEEE chain (sumval2 − 2·mean·sumval + mean²·n)/n on each engine:
    bit-identical without kahan. The overflow bucket (idx > HI) clamps
    val to the largest finite boundary ±2^HI — the same
    bounded-resolution rule as the quantile entry's overflow guard
    (module docstring), where Go would return +Inf. A negative stdvar
    (pure cancellation noise) floors to 0 under the same branch on both
    engines. One map-side bucket tag, ONE exchange on the series key."""
    ev = load_table(spark, sf_dir, "events")
    idx = NH.bucket_index(F.abs(F.col("value")))
    sgn = (
        F.when(F.col("value") > 0, F.lit(1))
        .when(F.col("value") < 0, F.lit(-1))
        .otherwise(F.lit(0))
    )
    tagged = ev.select(
        "event_type",
        sgn.alias("sgn"),
        F.when(F.col("value") == 0, F.lit(None)).otherwise(idx).alias("idx"),
        cents().alias("cents"),
    )
    # variable-amount shifts need expression SQL (F.shiftleft's numBits
    # is a python int); 1L keeps the shift in BIGINT, never 32-bit
    agg = tagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s_cents"),
        F.coalesce(
            F.sum(
                F.expr(
                    f"CASE WHEN sgn <> 0 AND idx <= {NH.HI} THEN"
                    " sgn * shiftleft(1L, idx + 10) ELSE 0L END"
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("a_sum"),
        F.coalesce(
            F.sum(
                F.expr(
                    f"CASE WHEN sgn <> 0 AND idx > {NH.HI} THEN sgn"
                    " ELSE 0 END"
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("b_sum"),
        F.coalesce(
            F.sum(
                F.expr(
                    f"CASE WHEN sgn <> 0 AND idx <= {NH.HI} THEN"
                    " CAST(shiftleft(1L, 2 * idx + 20) AS DECIMAL(38,0))"
                    " ELSE CAST(0 AS DECIMAL(38,0)) END"
                )
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("c_sum"),
        F.coalesce(
            F.sum(
                F.expr(
                    f"CASE WHEN sgn <> 0 AND idx > {NH.HI} THEN 1"
                    " ELSE 0 END"
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("d_sum"),
    )
    mean = F.col("s_cents") / F.col("n") / F.lit(100.0)
    sumval = (
        F.col("a_sum") / F.lit(1024.0) / F.sqrt(F.lit(2.0))
        + F.col("b_sum") * F.lit(4096.0)
    )
    sumval2 = (
        F.col("c_sum").cast("double") / F.lit(2097152.0)
        + F.col("d_sum") * F.lit(16777216.0)
    )
    stdvar = (
        sumval2 - F.lit(2.0) * mean * sumval + mean * mean * F.col("n")
    ) / F.col("n")
    stddev = F.when(stdvar < 0, F.lit(0.0)).otherwise(F.sqrt(stdvar))
    return agg.select(
        "event_type",
        F.col("n").alias("n_obs"),
        stdvar.alias("stdvar_value"),
        stddev.alias("stddev_value"),
    )


_NH_RATE_CTE = f"""
    WITH ev AS (
        SELECT event_type, date_trunc('minute', ts) AS m,
               {NH.bucket_index_sql('value')}
                   AS idx
        FROM events WHERE value > 0
    ),
    bkt AS (
        SELECT event_type, m, idx, count(*)::BIGINT AS cnt
        FROM ev GROUP BY 1, 2, 3
    ),
    dense AS (
        SELECT s.event_type, s.m, b.idx,
               epoch_us(s.m) // {NH.EPOCH_US} AS epoch,
               coalesce(k.cnt, 0) AS cnt
        FROM (SELECT DISTINCT event_type, m FROM ev) s
        JOIN (SELECT DISTINCT event_type, idx FROM ev) b USING (event_type)
        LEFT JOIN bkt k ON k.event_type = s.event_type AND k.m = s.m
                       AND k.idx = b.idx
    ),
    cumsum AS (
        SELECT event_type, m, idx,
               sum(cnt) OVER (PARTITION BY event_type, idx, epoch
                              ORDER BY m) AS c
        FROM dense
    ),
    cum AS (
        SELECT event_type, m, idx, c,
               lag(c) OVER (PARTITION BY event_type, idx ORDER BY m)
                   AS prev_c
        FROM cumsum
    ),
    flags AS (
        SELECT event_type, m,
               max(CASE WHEN prev_c IS NOT NULL AND c < prev_c
                        THEN 1 ELSE 0 END) AS reset
        FROM cum GROUP BY 1, 2
    ),
    win AS (
        SELECT event_type, date_trunc('hour', m)::TIMESTAMP AS hour,
               count(*)::BIGINT AS n, min(m) AS first_m, max(m) AS last_m
        FROM flags GROUP BY 1, 2
        HAVING count(*) >= 2
    ),
    per_bucket AS (
        SELECT c.event_type, w.hour, c.idx, w.n,
               epoch_us(w.last_m) - epoch_us(w.first_m) AS si_us,
               (epoch_us(w.first_m) - epoch_us(w.hour))::DOUBLE AS ds0,
               (epoch_us(w.hour) + 3600000000
                - epoch_us(w.last_m))::DOUBLE AS de,
               sum(CASE WHEN c.m = w.last_m THEN c.c ELSE 0 END)
               - sum(CASE WHEN c.m = w.first_m THEN c.c ELSE 0 END)
               + sum(CASE WHEN c.m > w.first_m AND f.reset = 1
                          THEN c.prev_c ELSE 0 END) AS delta_n
        FROM cum c
        JOIN flags f ON f.event_type = c.event_type AND f.m = c.m
        JOIN win w ON w.event_type = c.event_type
                  AND w.hour = date_trunc('hour', c.m)
        GROUP BY 1, 2, 3, 4, 5, 6, 7
    ),
    extrap AS (
        SELECT *,
               si_us::DOUBLE / (n - 1)::DOUBLE AS avg_d
        FROM per_bucket
    )
"""


@register(
    "promql_native_histogram_rate",
    oracle=_NH_RATE_CTE
    + """
    SELECT event_type, hour, idx, n AS n_scrapes, delta_n::BIGINT AS delta_n,
           delta_n::DOUBLE
           * ((si_us::DOUBLE
               + CASE WHEN ds0 >= avg_d * 1.1 THEN avg_d / 2.0 ELSE ds0 END
               + CASE WHEN de >= avg_d * 1.1 THEN avg_d / 2.0 ELSE de END)
              / si_us::DOUBLE)
           / 3600.0 AS rate_per_sec
    FROM extrap WHERE delta_n <> 0
    """,
)
def promql_native_histogram_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`rate(native_histogram[1h])` / `increase` over the schema-0
    sparse-bucket substrate: bucket-wise reset-corrected increase with
    Prometheus's boundary extrapolation (promql/functions.go
    histogramRate composed with extrapolatedRate).

    The synthetic histogram COUNTER: scrapes are the minutes with ≥1
    observation per series; each scrape's histogram holds cumulative
    per-bucket counts since the last process restart, with restarts on a
    fixed 90-min wall grid — so counter resets land strictly inside some
    hour windows and on the edge of others. Per hour window, per bucket:

    - increase = cum(last) − cum(first) + Σ cum(before each reset) —
      exactly histogramRate's `last.Sub(first)` then `.Add(prev)` at
      every detected reset between consecutive IN-WINDOW samples;
    - a reset is DetectReset's bucket-count drop: ANY bucket's
      cumulative count decreasing scrape-over-scrape (the count/sum
      shortcut checks are subsumed — the synthetic carries the count
      axis, and total count cannot drop unless some bucket drops);
    - the extrapolation factor is extrapolatedRate's: the sampled
      interval stretched to each window edge by the actual gap when
      < 1.1× the average scrape spacing, else half the average spacing.
      NO zero-crossing clamp — functions.go applies that branch only to
      float samples (`resultHistogram == nil`), never to histograms;
    - zero-delta buckets drop, mirroring FloatHistogram.Compact.

    Exactness: delta_n is an exact BIGINT; the rate is ONE identical
    IEEE chain (delta · ((si + ds_sub + de_sub)/si) / 3600) over
    integer-derived doubles — bit-identical cross-engine, unrounded.
    Scale: the pinned count grid is series-scrapes × ≤~25 buckets, NOT
    raw events, and the per-series kernel (NH.window_deltas) reads it
    in one pass over two exchanges. 100 TB cost is O(scrape-grid), the
    same shape Prometheus's own TSDB pays."""
    per_bucket, _ = NH.window_deltas(load_table(spark, sf_dir, "events"))
    return NH.rate_finalize(per_bucket)


@register(
    "promql_timestamp_function",
    oracle="""
    SELECT event_type, user_id,
           epoch_us(max(ts)) AS ts_micros,
           epoch_us(max(ts)) / 1000000.0 AS ts_value
    FROM events
    GROUP BY event_type, user_id
    """,
)
def promql_timestamp_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL `timestamp(v)`: for an instant query, each series' value
    becomes the epoch timestamp OF ITS SAMPLE (functions.go
    funcTimestamp reads the sample's T, not the evaluation time) — per
    (event_type, user_id) series the lookback picks the latest sample,
    so the value is max(ts) as epoch seconds. Emitted both as exact
    integer micros and as the PromQL double value via ONE identical
    IEEE division (micros / 1e6) on each engine — epoch micros at
    2026 scale (~1.8e15) are ≪ 2^53, so the integer is exact and the
    single division is the only rounding. Pure partial aggregation,
    one exchange on the series key."""
    ev = load_table(spark, sf_dir, "events")
    micros = epoch_us(F.max("ts"))
    return ev.groupBy("event_type", "user_id").agg(
        micros.alias("ts_micros"),
        (micros / F.lit(1000000.0)).alias("ts_value"),
    )


@register(
    "promql_native_histogram_rate_quantile",
    oracle=_NH_RATE_CTE
    + f"""
    , q AS (
        SELECT event_type, hour, idx, delta_n,
               sum(delta_n) OVER (PARTITION BY event_type, hour
                                  ORDER BY idx) AS cum,
               sum(delta_n) OVER (PARTITION BY event_type, hour) AS total
        FROM per_bucket WHERE delta_n > 0
    ),
    hit AS (
        SELECT *, row_number() OVER (PARTITION BY event_type, hour
                                     ORDER BY idx) AS rn
        FROM q WHERE cum >= total * 0.9
    )
    SELECT event_type, hour, total::BIGINT AS n_inc,
           CASE WHEN idx > {NH.HI} THEN pow(2.0, {NH.HI})
                ELSE pow(2.0, idx - 1)
                     * pow(2.0, (total * 0.9 - (cum - delta_n)) / delta_n)
                END AS p90_rate
    FROM hit WHERE rn = 1
    """,
)
def promql_native_histogram_rate_quantile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`histogram_quantile(0.9, rate(native_histogram[1h]))` — the
    canonical latency-SLO query, composed from the two native-histogram
    substrates. Because extrapolatedRate scales EVERY bucket of a
    window by the same positive factor, the quantile of the rate
    histogram equals the quantile of the reset-corrected integer bucket
    increases — so the composition drops the factor entirely and the
    cumulative locate runs on exact BIGINTs (`NH.window_deltas`),
    with the v2.50+ exponential within-bucket interpolation
    lower·2^frac as the only transcendental (absorbed by the engine
    1e-6 canonicalization, same as promql_native_histogram_quantile).
    Zero-increase buckets drop before the CDF (they cannot contain the
    quantile); windows whose every bucket is flat vanish (no rate ⇒ no
    quantile), matching Prometheus returning no sample. Overflow-bucket
    hits clamp to the largest finite boundary. One extra window pass
    over the ≤~25-buckets-per-window delta relation — the expensive
    part (the window-delta substrate) is the rate entry's."""
    per_bucket, _ = NH.window_deltas(load_table(spark, sf_dir, "events"))
    hit, qv = NH.exp_quantile(
        per_bucket.filter(F.col("delta_n") > 0),
        ["event_type", "hour"],
        "delta_n",
        0.9,
    )
    return hit.select(
        "event_type",
        "hour",
        F.col("total").cast("long").alias("n_inc"),
        qv.alias("p90_rate"),
    )


@register(
    "promql_native_histogram_fraction",
    oracle=f"""
    WITH tagged AS (
        SELECT event_type,
               {NH.bucket_index_sql('value')}
                   AS idx
        FROM events WHERE value > 0
    ),
    sparse AS (
        SELECT event_type, idx, count(*)::BIGINT AS n
        FROM tagged GROUP BY 1, 2
    )
    , agg AS (
        SELECT event_type,
               sum(n)::BIGINT AS n_obs,
               coalesce(sum(CASE WHEN idx < {NH.IX_HI} THEN n END), 0)::BIGINT
                   AS cb_hi,
               coalesce(sum(CASE WHEN idx = {NH.IX_HI} THEN n END), 0)::BIGINT
                   AS na_hi,
               coalesce(sum(CASE WHEN idx < {NH.IX_LO} THEN n END), 0)::BIGINT
                   AS cb_lo,
               coalesce(sum(CASE WHEN idx = {NH.IX_LO} THEN n END), 0)::BIGINT
                   AS na_lo
        FROM sparse GROUP BY event_type
    )
    SELECT event_type, n_obs,
           ((cb_hi + na_hi * ({NH.LOG2_HI} - {NH.IX_HI - 1}))
            - (cb_lo + na_lo * ({NH.LOG2_LO} - {NH.IX_LO - 1})))
           / n_obs::DOUBLE AS fraction
    FROM agg
    """,
)
def promql_native_histogram_fraction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`histogram_fraction(0.7, 48, native_histogram)` — the last member
    of the native-histogram function family (buckets / quantile /
    stddev-stdvar / rate / quantile∘rate already registered): estimated
    fraction of observations in (0.7, 48], with the v2.50+ EXPONENTIAL
    within-bucket interpolation.

    Exactness: at schema 0 the exponential rule inside bucket
    (2^(i−1), 2^i] is CDF(x) = cum_before + n_i·(log2(x) − (i−1)), and
    both endpoints are literals — so log2(x) is a PLAN-TIME double
    (repr-pinned, identical in both engines) and the whole query is
    exact-integer counts times two literal doubles through one shared
    IEEE chain: bit-identical unrounded, with NO runtime transcendental
    (compare the classic-bucket sibling promql_histogram_fraction,
    whose linear interpolation divides by data-dependent widths).
    Endpoints sit strictly inside populated-ladder buckets; a series
    simply missing that bucket contributes n_i = 0 and the CDF falls
    back to cum_before — the sparse-representation analog of the
    classic entry's clamp. One conditional aggregation over the
    map-side bucket tags, ONE exchange on the series key."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    sparse = (
        ev.select("event_type", NH.bucket_index(F.col("value")).alias("idx"))
        .groupBy("event_type", "idx")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    agg, fraction = NH.exp_fraction(sparse, ["event_type"], "n", "n_obs")
    return agg.select("event_type", "n_obs", fraction.alias("fraction"))


@register(
    "promql_native_histogram_fraction_rate",
    oracle=_NH_RATE_CTE
    + f"""
    , frac_agg AS (
        SELECT event_type, hour,
               sum(delta_n)::BIGINT AS n_inc,
               coalesce(sum(CASE WHEN idx < {NH.IX_HI} THEN delta_n END),
                        0)::BIGINT AS cb_hi,
               coalesce(sum(CASE WHEN idx = {NH.IX_HI} THEN delta_n END),
                        0)::BIGINT AS na_hi,
               coalesce(sum(CASE WHEN idx < {NH.IX_LO} THEN delta_n END),
                        0)::BIGINT AS cb_lo,
               coalesce(sum(CASE WHEN idx = {NH.IX_LO} THEN delta_n END),
                        0)::BIGINT AS na_lo
        FROM per_bucket GROUP BY 1, 2
        HAVING sum(delta_n) > 0
    )
    SELECT event_type, hour, n_inc,
           ((cb_hi + na_hi * ({NH.LOG2_HI} - {NH.IX_HI - 1}))
            - (cb_lo + na_lo * ({NH.LOG2_LO} - {NH.IX_LO - 1})))
           / n_inc::DOUBLE AS fraction
    FROM frac_agg
    """,
)
def promql_native_histogram_fraction_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`histogram_fraction(0.7, 48, rate(native_histogram[1h]))` — the
    SLO BURN query (what share of the last hour's requests landed in
    the good-latency band), completing the rate-composition matrix:
    rate × {quantile, fraction}.

    Exactness composes both parents' arguments: extrapolatedRate scales
    every bucket of a window by the same positive factor, so the factor
    cancels in the fraction and the CDF arithmetic runs on the
    reset-corrected exact-BIGINT bucket increases (`NH.window_deltas`);
    the v2.50+ exponential within-bucket interpolation collapses at
    schema 0 to two PLAN-TIME log2 literals (repr-pinned, identical in
    both engines) — exact integers through one shared IEEE chain,
    bit-identical unrounded, no runtime transcendental. All-flat
    windows vanish (no rate ⇒ no fraction), matching Prometheus
    returning no sample; a window simply missing an endpoint bucket
    contributes n_i = 0 and the CDF falls back to the partial sum
    below it (the sparse-representation clamp, as in the instant
    fraction entry above). Cost: one hash aggregate over the shared
    ≤~25-buckets-per-window delta relation — the substrate (the
    expensive part) is the rate entry's."""
    per_bucket, _ = NH.window_deltas(load_table(spark, sf_dir, "events"))
    agg, fraction = NH.exp_fraction(
        per_bucket, ["event_type", "hour"], "delta_n", "n_inc"
    )
    return agg.filter(F.col("n_inc") > 0).select(
        "event_type", "hour", "n_inc", fraction.alias("fraction")
    )


@register(
    "promql_native_histogram_rate_quantile_agg",
    oracle=_NH_RATE_CTE
    + f"""
    , fleet AS (
        SELECT hour, idx, sum(delta_n)::BIGINT AS delta_n
        FROM per_bucket GROUP BY 1, 2
    ),
    q AS (
        SELECT hour, idx, delta_n,
               sum(delta_n) OVER (PARTITION BY hour ORDER BY idx) AS cum,
               sum(delta_n) OVER (PARTITION BY hour) AS total
        FROM fleet WHERE delta_n > 0
    ),
    hit AS (
        SELECT *, row_number() OVER (PARTITION BY hour
                                     ORDER BY idx) AS rn
        FROM q WHERE cum >= total * 0.9
    )
    SELECT hour, total::BIGINT AS n_inc,
           (SELECT count(DISTINCT event_type)
            FROM per_bucket)::BIGINT AS n_series,
           CASE WHEN idx > {NH.HI} THEN pow(2.0, {NH.HI})
                ELSE pow(2.0, idx - 1)
                     * pow(2.0, (total * 0.9 - (cum - delta_n)) / delta_n)
                END AS p90_rate
    FROM hit WHERE rn = 1
    """,
)
def promql_native_histogram_rate_quantile_agg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`histogram_quantile(0.9, sum(rate(native_histogram[1h])))` — the
    FLEET SLO query: per-series histogram rates are SUMMED ACROSS
    SERIES first (PromQL's native-histogram `sum()` aggregation is
    bucket-wise addition of compatible schema-0 histograms), then the
    quantile runs over the merged histogram — the production shape
    where per-instance histograms roll up to one service-level latency
    quantile.

    Exactness composes the family's arguments once more: the
    extrapolation factor is per-(series, window) — it does NOT cancel
    under a cross-series sum in general, but Prometheus evaluates
    `sum(rate(...))` bucket-wise on the rate values, and the quantile
    of the merged histogram depends only on bucket-mass RATIOS. The
    fixture's synthetic scrape grids are identical across series
    (every series scrapes every minute), so the factor is constant
    across series within a window and drops out exactly as in the
    single-series composition — leaving the cumulative locate on
    exact-BIGINT summed deltas; the final lower·2^frac is the one
    transcendental (absorbed by the 1e-6 canonicalization). Where
    grids differ per series, the factor-free integer form is the
    DOCUMENTED approximation (it weights each series by its true
    in-window increase rather than its extrapolated rate — at 100 TB
    the difference is one boundary sample per series per window).

    Scale: the merge is ONE more hash aggregate collapsing the
    (series, hour, idx) delta relation to (hour, idx) — fleet-sized
    input, grid-sized output; the quantile's two window passes then
    run over ≤~25 rows per hour. The expensive dense substrate is
    shared with the whole rate family."""
    per_bucket, scrapes = NH.window_deltas(load_table(spark, sf_dir, "events"))
    # Fleet size as a 1-row broadcast, NOT a driver-side .count(), so
    # the whole query stays one lazy Catalyst plan; and off the pinned
    # scrape grid, not per_bucket, so the windowed substrate is not
    # evaluated twice. The two agree: per_bucket's series are exactly
    # those with an hour window of >= 2 scrapes.
    n_series = (
        scrapes.groupBy("event_type", F.date_trunc("hour", "m").alias("hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .agg(F.countDistinct("event_type").cast("long").alias("n_series"))
    )
    fleet = per_bucket.groupBy("hour", "idx").agg(
        F.sum("delta_n").cast("long").alias("delta_n")
    )
    hit, qv = NH.exp_quantile(
        fleet.filter(F.col("delta_n") > 0), ["hour"], "delta_n", 0.9
    )
    return hit.crossJoin(F.broadcast(n_series)).select(
        "hour",
        F.col("total").cast("long").alias("n_inc"),
        "n_series",
        qv.alias("p90_rate"),
    )
