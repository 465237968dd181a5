"""PromQL read-side operators, round 9 (late batch 4): NATIVE
HISTOGRAMS — Prometheus 3's headline data-model feature — and the
PromQL 3 experimental `info()` enrichment function. The reference
delegates all PromQL evaluation to the Prometheus Query Service
(reference CHANGELOG.md:10 #168); this engine owns those semantics
over the canonical samples relation.

Semantics notes (public Prometheus native-histogram spec):

* A native histogram at schema s covers the positive axis with sparse
  exponential buckets (lower, upper] where upper = γ^idx and
  γ = 2^(2^−s); at SCHEMA 0 (used here) γ = 2, so every bucket
  boundary is an exact power of two — which is what makes the operator
  cross-engine EXACT: bucket membership is decided by comparisons
  against literal doubles that both engines parse identically (powers
  of two have exact binary AND decimal representations), with NO
  log/floor arithmetic whose final-ulp rounding could flip a boundary
  sample into the wrong bucket (log2(8)=3 is exact, but ln(v)/ln(2)
  need not be). Negative observations mirror into negative buckets
  keyed by |v|; v = 0 lands in the zero bucket (zero-threshold 0).
  The bucket index for v > 0 is the unique idx with
  2^(idx−1) < v ≤ 2^idx, computed as LO + |{b ∈ bounds : b < v}| over
  the literal boundary ladder 2^LO..2^HI — values beyond 2^HI collapse
  into the open-ended overflow bucket (idx HI+1, upper +Inf), the
  bounded-resolution analog of the native-histogram bucket-limit
  schema reduction.
* `histogram_quantile(q, native_histogram)` interpolates
  EXPONENTIALLY inside the located bucket (the v2.50+ rule for native
  histograms, vs linear for classic buckets):
  result = lower · 2^frac with frac the within-bucket count fraction.
  The single `pow(2.0, frac)` is the entry's one transcendental —
  final-ulp cross-engine noise is absorbed by the engine-level 1e-6
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

import numpy as _np
import pandas as _pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from numalogic_prometheus_spark.functions.timeutil import epoch_us
from numalogic_prometheus_spark.operators.relational import asof_join
from numalogic_prometheus_spark.plans import register
from numalogic_prometheus_spark.sources.tables import load_table
from numalogic_prometheus_spark.streaming.nh_rate import EPOCH_US as _EPOCH_US

_LO, _HI = -10, 12  # boundary ladder 2^LO .. 2^HI (23 exact doubles)
_BOUNDS = [2.0 ** k for k in range(_LO, _HI + 1)]
# repr() of a power of two is an EXACT decimal ('0.0009765625',
# '4096.0') — both engines parse it back to the identical double.
_BOUNDS_SQL = ", ".join(repr(b) for b in _BOUNDS)

_NH_BUCKETS_CTE = f"""
    WITH tagged AS (
        SELECT event_type,
               CASE WHEN value > 0 THEN 'pos'
                    WHEN value < 0 THEN 'neg'
                    ELSE 'zero' END AS kind,
               CASE WHEN value = 0 THEN NULL
                    ELSE {_LO} + len(list_filter([{_BOUNDS_SQL}],
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
                ELSE CASE WHEN idx > {_HI} THEN '-inf'::DOUBLE
                          ELSE -pow(2.0, idx) END END AS lower,
           CASE kind WHEN 'zero' THEN 0.0
                WHEN 'pos' THEN CASE WHEN idx > {_HI} THEN 'inf'::DOUBLE
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
    bounds = F.array(*[F.lit(b) for b in _BOUNDS])
    absv = F.abs(F.col("value"))
    idx = F.lit(_LO) + F.size(F.filter(bounds, lambda b: b < absv))
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
    pos_upper = F.when(F.col("idx") > _HI, inf).otherwise(
        F.pow(F.lit(2.0), F.col("idx"))
    )
    neg_lower = F.when(F.col("idx") > _HI, -inf).otherwise(
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
           CASE WHEN idx > {_HI} THEN pow(2.0, {_HI})
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
    bounds = F.array(*[F.lit(b) for b in _BOUNDS])
    absv = F.abs(F.col("value"))
    idx = F.lit(_LO) + F.size(F.filter(bounds, lambda b: b < absv))
    sparse = (
        ev.filter(F.col("value") > 0)
        .select("event_type", idx.alias("idx"))
        .groupBy("event_type", "idx")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w_cum = W.partitionBy("event_type").orderBy("idx")
    w_all = W.partitionBy("event_type")
    pos = sparse.select(
        "event_type", "idx", "n",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_all).alias("total"),
    )
    hit = (
        pos.filter(F.col("cum") >= F.col("total") * 0.9)
        .withColumn("rn", F.row_number().over(w_cum))
        .filter(F.col("rn") == 1)
    )
    frac = (F.col("total") * 0.9 - (F.col("cum") - F.col("n"))) / F.col("n")
    qv = F.when(F.col("idx") > _HI, F.pow(F.lit(2.0), F.lit(_HI))).otherwise(
        F.pow(F.lit(2.0), F.col("idx") - 1) * F.pow(F.lit(2.0), frac)
    )
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
                    ELSE {_LO} + len(list_filter([{_BOUNDS_SQL}],
                                                 b -> b < abs(value)))
                    END AS idx,
               round(value * 100)::BIGINT AS cents
        FROM events
    ),
    agg AS (
        SELECT event_type,
               count(*)::BIGINT AS n,
               sum(cents)::BIGINT AS s_cents,
               coalesce(sum(CASE WHEN sgn <> 0 AND idx <= {_HI}
                            THEN sgn * (1::BIGINT << (idx + 10))
                            ELSE 0 END), 0)::BIGINT AS a_sum,
               coalesce(sum(CASE WHEN sgn <> 0 AND idx > {_HI}
                            THEN sgn ELSE 0 END), 0)::BIGINT AS b_sum,
               -- DuckDB sum(BIGINT) is HUGEINT: the 2^(2idx+20) terms
               -- reach 2^44 and their sum would overflow BIGINT at sf1
               coalesce(sum(CASE WHEN sgn <> 0 AND idx <= {_HI}
                            THEN (1::BIGINT << (2 * idx + 20))
                            ELSE 0 END), 0) AS c_sum,
               coalesce(sum(CASE WHEN sgn <> 0 AND idx > {_HI}
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
    bounds = F.array(*[F.lit(b) for b in _BOUNDS])
    absv = F.abs(F.col("value"))
    idx = F.lit(_LO) + F.size(F.filter(bounds, lambda b: b < absv))
    sgn = (
        F.when(F.col("value") > 0, F.lit(1))
        .when(F.col("value") < 0, F.lit(-1))
        .otherwise(F.lit(0))
    )
    tagged = ev.select(
        "event_type",
        sgn.alias("sgn"),
        F.when(F.col("value") == 0, F.lit(None)).otherwise(idx).alias("idx"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    # variable-amount shifts need expression SQL (F.shiftleft's numBits
    # is a python int); 1L keeps the shift in BIGINT, never 32-bit
    agg = tagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s_cents"),
        F.coalesce(
            F.sum(
                F.expr(
                    f"CASE WHEN sgn <> 0 AND idx <= {_HI} THEN"
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
                    f"CASE WHEN sgn <> 0 AND idx > {_HI} THEN sgn"
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
                    f"CASE WHEN sgn <> 0 AND idx <= {_HI} THEN"
                    " CAST(shiftleft(1L, 2 * idx + 20) AS DECIMAL(38,0))"
                    " ELSE CAST(0 AS DECIMAL(38,0)) END"
                )
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("c_sum"),
        F.coalesce(
            F.sum(
                F.expr(
                    f"CASE WHEN sgn <> 0 AND idx > {_HI} THEN 1"
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
               {_LO} + len(list_filter([{_BOUNDS_SQL}], b -> b < value))
                   AS idx
        FROM events WHERE value > 0
    ),
    bkt AS (
        SELECT event_type, m, idx, count(*)::BIGINT AS cnt
        FROM ev GROUP BY 1, 2, 3
    ),
    dense AS (
        SELECT s.event_type, s.m, b.idx,
               epoch_us(s.m) // {_EPOCH_US} AS epoch,
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


def _nh_window_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared substrate for the native-histogram range functions: per
    (series, hour window, bucket idx) the reset-corrected exact-integer
    increase plus the window's extrapolation inputs
    (n, si_us, ds0, de). See promql_native_histogram_rate's docstring
    for the full semantics and scale analysis; the SQL twin is
    _NH_RATE_CTE's `per_bucket` relation."""
    per_bucket, _scrapes = _nh_substrate(spark, sf_dir)
    return per_bucket


def _nh_series_kernel(pdf):
    """Per-series window-delta kernel over the pinned ``bkt`` grid —
    one Arrow batch in, the series' full (hour window × bucket)
    ``per_bucket`` grid out, all in exact int64 (r18, VERDICT r17 #5).

    Implements the TELESCOPED delta (see the derivation comment in
    :func:`_nh_substrate`): per (hour window, bucket)
    ``delta_n = hsum − fcnt − ctot`` with hsum the hour's count sum,
    fcnt the count at the window's first scrape, and ctot the sum of
    prev-epoch totals over the window's UNFLAGGED epoch boundaries
    (flag = any bucket's count at the boundary scrape below its
    prev-epoch total, i.e. DetectReset). Every intermediate is an
    integer; ds0/de are float64 conversions of exact µs integers
    (< 2^53), so the output is bit-identical to the r17 join-web form —
    gated row-exact (OPTIMIZATION_r18.md §5) and by the golden reset
    fixtures. One series' state is its scrape grid × ≤ ~25
    buckets, the same per-series bound the join web carried.

    Assumes a UTC session timezone. Arrow hands ``m`` over as naive
    wall-clock times in the session timezone, and the kernel reads them
    as unix microseconds: the 90-minute epoch boundaries
    (``m // _EPOCH_US``) and the hour windows are the unix-time ones
    only under UTC. :func:`_nh_substrate` asserts it at build."""
    import collections

    et = pdf["event_type"].iloc[0]
    m = pdf["m"].to_numpy("datetime64[us]").astype("int64")
    idx = pdf["idx"].to_numpy("int64")
    cnt = pdf["cnt"].to_numpy("int64")
    HOUR = 3_600_000_000
    # scrape grid: unique minutes, sorted
    sm = _np.unique(m)
    sep = sm // _EPOCH_US
    sh = (sm // HOUR) * HOUR
    # window stats per hour over scrapes (n ≥ 2 keeps a rate window)
    uh, hstart = _np.unique(sh, return_index=True)
    n = _np.diff(_np.append(hstart, sm.size))
    first_m = sm[hstart]
    last_m = sm[_np.append(hstart[1:], sm.size) - 1]
    keep = n >= 2
    uh, n, first_m, last_m = uh[keep], n[keep], first_m[keep], last_m[keep]
    # epoch-boundary scrapes: epoch differs from the previous scrape's
    is_bnd = _np.zeros(sm.size, dtype=bool)
    is_bnd[1:] = sep[1:] != sep[:-1]
    prev_ep = _np.empty(sm.size, dtype="int64")
    prev_ep[1:] = sep[:-1]
    prev_ep[0] = -1
    ep = m // _EPOCH_US
    buckets = _np.unique(idx)
    # prev-epoch totals and boundary-scrape counts (grid-sized maps)
    tot = collections.defaultdict(int)
    for i, e, c in zip(idx, ep, cnt):
        tot[(i, e)] += c
    at = {}
    for mm, i, c in zip(m, idx, cnt):
        at[(mm, i)] = c
    bnd_m = sm[is_bnd]
    bnd_pe = prev_ep[is_bnd]
    # series-level reset flag per boundary: ANY bucket's count at the
    # boundary below its prev-epoch total (absent rows count as 0,
    # matching the join web's coalesce(cnt, 0) / coalesce(tot, 0))
    flagged = {}
    for mm, pe in zip(bnd_m, bnd_pe):
        f = 0
        for b in buckets:
            if at.get((mm, b), 0) < tot.get((b, pe), 0):
                f = 1
                break
        flagged[mm] = f
    # accumulate hsum / fcnt / ctot on the (hour, bucket) grid
    hidx = {h: k for k, h in enumerate(uh)}
    nb = buckets.size
    bpos = {b: k for k, b in enumerate(buckets)}
    hsum = _np.zeros((uh.size, nb), dtype="int64")
    fcnt = _np.zeros((uh.size, nb), dtype="int64")
    ctot = _np.zeros((uh.size, nb), dtype="int64")
    fm = {h: f for h, f in zip(uh, first_m)}
    for mm, i, c in zip(m, idx, cnt):
        h = (mm // HOUR) * HOUR
        k = hidx.get(h)
        if k is None:
            continue
        hsum[k, bpos[i]] += c
        if mm == fm[h]:
            fcnt[k, bpos[i]] += c
    for mm, pe in zip(bnd_m, bnd_pe):
        if flagged[mm]:
            continue
        h = (mm // HOUR) * HOUR
        k = hidx.get(h)
        if k is None or mm == fm[h]:
            continue
        for b in buckets:
            ctot[k, bpos[b]] += tot.get((b, pe), 0)
    hh = _np.repeat(uh, nb)
    bb = _np.tile(buckets, uh.size)
    return _pd.DataFrame(
        {
            "event_type": et,
            "hour": _pd.Series(hh).astype("datetime64[us]"),
            "idx": bb,
            "n": _np.repeat(n, nb),
            "si_us": _np.repeat(last_m - first_m, nb),
            "ds0": _np.repeat(first_m - uh, nb).astype("float64"),
            "de": _np.repeat(uh + HOUR - last_m, nb).astype("float64"),
            "delta_n": (hsum - fcnt - ctot).ravel(),
        }
    )


def _nh_substrate(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(per_bucket, scrapes) — the window-delta relation plus the
    pinned scrape grid it was built from, so composed entries (the
    fleet aggregate) can derive series-level facts without a second
    pass over the substrate."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz != "UTC":
        raise RuntimeError(
            "the native-histogram series kernel needs "
            f"spark.sql.session.timeZone=UTC, got {tz!r}: in another "
            "timezone its epoch boundaries and hour windows would shift"
        )
    bounds = F.array(*[F.lit(b) for b in _BOUNDS])
    idx = F.lit(_LO) + F.size(F.filter(bounds, lambda b: b < F.col("value")))
    obs = ev.select(
        "event_type",
        F.date_trunc("minute", "ts").alias("m"),
        idx.alias("idx"),
    )
    from numalogic_prometheus_spark.operators.dedup import truncate_lineage

    bkt = obs.groupBy("event_type", "m", "idx").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    # Pin the bucketed relation ONCE (r17 optimization, guide §2.3
    # "shuffle keys and metadata instead of payloads" + §2.4): every
    # downstream consumer derives from bkt, and without the cut each
    # would re-scan the raw events (the r16 plan carried FOUR full
    # scans; deriving lazily does not help because Catalyst collapses
    # aggregate-over-aggregate back into scans). bkt is the scrape-grid
    # relation (~96 k rows at sf0.1, grid-sized at 100 TB — the raw
    # samples are aggregated away), so the materialization is tiny
    # next to the scans it replaces.
    bkt = truncate_lineage(bkt)
    scrapes = bkt.select("event_type", "m").distinct()

    # The reset-corrected delta TELESCOPES (r17 rewrite #2, guide §1.1
    # first-principles + §2.3). Summing the per-step increments over
    # the hour's consecutive scrapes:
    #   same-epoch step i:       c(i) − c(i−1)            = cnt(i)
    #   boundary step, flagged:  c(i) − c(i−1) + prev_c(i) = cnt(i)
    #     (i−1 is the prev epoch's LAST scrape, so c(i−1) = that
    #      epoch's total = prev_c(i), and DetectReset adds it back)
    #   boundary step, unflagged: c(i) − c(i−1) = cnt(i) − tot(e'(i))
    # hence, per (series, hour window, bucket):
    #   delta_n = Σ_{scrapes m ∈ hour, m > first_m} cnt(m)
    #           − Σ_{unflagged boundary m ∈ hour, m > first_m} tot(e'(m))
    # The r17 form evaluated those terms as ~6 aggregate branches over
    # bkt stitched by ~22 grid-sized broadcast joins; at any scale each
    # stage is tiny, so the entry cost was pure STAGE COUNT (42 reads
    # of the pinned relation). r18 (VERDICT r17 #5, guide §2.3
    # aggregate-before-shuffle + §4.2): ONE applyInPandas pass per
    # series over the pinned grid evaluates the whole
    # boundary/epoch/window machinery vectorized in exact int64 —
    # 2 exchanges total (the (et,m,idx) aggregate feeding the pin and
    # the per-series regroup). Output gated row-exact against the
    # join-web form (OPTIMIZATION_r18.md §5: nonzero-delta rows
    # and all entry outputs identical; 2.0 → 1.2 s). Per-series state
    # is the series' own scrape grid × ≤ ~25 buckets; parallelism is
    # the series count, the natural 100 TB partitioning. Semantics
    # stay pinned by the shared DuckDB oracle (which still evaluates
    # the windowed form), the golden reset fixtures, and the streaming
    # twin (which keeps _nh_deltas_from_cum on the stateful cum
    # relation, unchanged).
    per_bucket = bkt.groupBy("event_type").applyInPandas(
        _nh_series_kernel,
        "event_type string, hour timestamp, idx long, n long, "
        "si_us long, ds0 double, de double, delta_n long",
    )
    return per_bucket, scrapes


def _nh_deltas_from_cum(
    cum: DataFrame, scrapes: DataFrame | None = None
) -> DataFrame:
    """Hourly per-bucket deltas from a dense cumulative relation
    ``(event_type, m, idx, c, prev_c, reset)`` — the second half of
    :func:`_nh_window_deltas`, split out so the STREAMING twin
    (plans/streaming2.stream_native_histogram_rate) can feed it the
    stateful operator's appended rows instead of the batch windowing.
    ``scrapes`` (distinct ``(event_type, m)``) may be passed to reuse an
    existing subtree; by default it derives from ``cum`` (every scrape
    emits every known bucket, so the distinct is identical)."""
    if scrapes is None:
        scrapes = cum.select("event_type", "m").distinct()
    # Window stats come off the tiny distinct-scrape relation (series ×
    # scrape-minutes) — broadcast back onto the dense relation.
    win = (
        scrapes.groupBy("event_type", F.date_trunc("hour", "m").alias("hour"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("m").alias("first_m"),
            F.max("m").alias("last_m"),
        )
        .filter(F.col("n") >= 2)
    )
    contrib = cum.withColumn("hour", F.date_trunc("hour", "m")).join(
        F.broadcast(win), ["event_type", "hour"]
    )
    return contrib.groupBy(
        "event_type",
        "hour",
        "idx",
        "n",
        (epoch_us("last_m") - epoch_us("first_m")).alias("si_us"),
        (epoch_us("first_m") - epoch_us("hour")).cast("double").alias("ds0"),
        (epoch_us("hour") + F.lit(3_600_000_000) - epoch_us("last_m"))
        .cast("double")
        .alias("de"),
    ).agg(
        (
            F.sum(F.when(F.col("m") == F.col("last_m"), F.col("c")).otherwise(F.lit(0)))
            - F.sum(
                F.when(F.col("m") == F.col("first_m"), F.col("c")).otherwise(F.lit(0))
            )
            + F.sum(
                F.when(
                    (F.col("m") > F.col("first_m")) & (F.col("reset") == 1),
                    # prev_c is NULL on a bucket's FIRST streamed
                    # emission; when that coincides with a series-level
                    # reset flag the correction mass is 0 (no previous
                    # cumulative to add back) — without the coalesce the
                    # NULL poisons the group sum and delta_n for the new
                    # bucket silently drops (hypothesis split-invariance
                    # find, r17). Batch-dense input never has NULL here.
                    F.coalesce(F.col("prev_c"), F.lit(0)),
                ).otherwise(F.lit(0))
            )
        ).alias("delta_n")
    )


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
    Prometheus's boundary extrapolation (VERDICT r9 #3; promql/functions.go
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
    Scale: the dense (scrape × bucket) relation is series-scrapes ×
    ≤~25 buckets, NOT raw events; both window passes share one exchange
    on (series, idx) (the epoch-partitioned cumsum's clustering is
    satisfied by the subset hash — no second shuffle), then one hash
    aggregate per grain. 100 TB cost is O(scrape-grid), the same shape
    Prometheus's own TSDB pays."""
    return _nh_rate_finalize(_nh_window_deltas(spark, sf_dir))


def _nh_rate_finalize(per_bucket: DataFrame) -> DataFrame:
    """extrapolatedRate's boundary arithmetic over the per-bucket delta
    relation — shared verbatim by the batch entry above and its
    streaming twin so the two stay one IEEE operand sequence."""
    si = F.col("si_us").cast("double")
    avg_d = si / (F.col("n") - 1).cast("double")
    thr = avg_d * 1.1
    ds_sub = F.when(F.col("ds0") >= thr, avg_d / 2.0).otherwise(F.col("ds0"))
    de_sub = F.when(F.col("de") >= thr, avg_d / 2.0).otherwise(F.col("de"))
    return per_bucket.filter(F.col("delta_n") != 0).select(
        "event_type",
        "hour",
        "idx",
        F.col("n").alias("n_scrapes"),
        F.col("delta_n").cast("long").alias("delta_n"),
        (
            F.col("delta_n").cast("double")
            * ((si + ds_sub + de_sub) / si)
            / F.lit(3600.0)
        ).alias("rate_per_sec"),
    )


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
           CASE WHEN idx > {_HI} THEN pow(2.0, {_HI})
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
    cumulative locate runs on exact BIGINTs (`_nh_window_deltas`),
    with the v2.50+ exponential within-bucket interpolation
    lower·2^frac as the only transcendental (absorbed by the engine
    1e-6 canonicalization, same as promql_native_histogram_quantile).
    Zero-increase buckets drop before the CDF (they cannot contain the
    quantile); windows whose every bucket is flat vanish (no rate ⇒ no
    quantile), matching Prometheus returning no sample. Overflow-bucket
    hits clamp to the largest finite boundary. One extra window pass
    over the ≤~25-buckets-per-window delta relation — the expensive
    part (dense scrape×bucket cums) is shared with the rate entry."""
    per_bucket = _nh_window_deltas(spark, sf_dir)
    w_cum = W.partitionBy("event_type", "hour").orderBy("idx")
    w_all = W.partitionBy("event_type", "hour")
    q = per_bucket.filter(F.col("delta_n") > 0).select(
        "event_type",
        "hour",
        "idx",
        "delta_n",
        F.sum("delta_n").over(w_cum).alias("cum"),
        F.sum("delta_n").over(w_all).alias("total"),
    )
    hit = (
        q.filter(F.col("cum") >= F.col("total") * 0.9)
        .withColumn("rn", F.row_number().over(w_cum))
        .filter(F.col("rn") == 1)
    )
    frac = (F.col("total") * 0.9 - (F.col("cum") - F.col("delta_n"))) / F.col(
        "delta_n"
    )
    qv = F.when(F.col("idx") > _HI, F.pow(F.lit(2.0), F.lit(_HI))).otherwise(
        F.pow(F.lit(2.0), F.col("idx") - 1) * F.pow(F.lit(2.0), frac)
    )
    return hit.select(
        "event_type",
        "hour",
        F.col("total").cast("long").alias("n_inc"),
        qv.alias("p90_rate"),
    )


# histogram_fraction over NATIVE buckets: the fraction bounds sit
# strictly inside schema-0 buckets, and at schema 0 the exponential
# within-bucket interpolation collapses to EXACT arithmetic —
# CDF(x) inside bucket i = cum_before + n_i·(log2(x) − (i−1)) — where
# log2(x) is a PLAN-TIME literal (repr'd below so both engines parse
# the identical double). No runtime transcendental at all.
import math as _math

_FRAC_LO, _FRAC_HI_B = 0.7, 48.0  # inside buckets (0.5,1] i=0, (32,64] i=6
_LOG2_LO = repr(_math.log2(_FRAC_LO))
_LOG2_HI = repr(_math.log2(_FRAC_HI_B))
_IX_LO, _IX_HI_B = 0, 6


@register(
    "promql_native_histogram_fraction",
    oracle=f"""
    WITH tagged AS (
        SELECT event_type,
               {_LO} + len(list_filter([{_BOUNDS_SQL}], b -> b < value))
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
               coalesce(sum(CASE WHEN idx < {_IX_HI_B} THEN n END), 0)::BIGINT
                   AS cb_hi,
               coalesce(sum(CASE WHEN idx = {_IX_HI_B} THEN n END), 0)::BIGINT
                   AS na_hi,
               coalesce(sum(CASE WHEN idx < {_IX_LO} THEN n END), 0)::BIGINT
                   AS cb_lo,
               coalesce(sum(CASE WHEN idx = {_IX_LO} THEN n END), 0)::BIGINT
                   AS na_lo
        FROM sparse GROUP BY event_type
    )
    SELECT event_type, n_obs,
           ((cb_hi + na_hi * ({_LOG2_HI} - {_IX_HI_B - 1}))
            - (cb_lo + na_lo * ({_LOG2_LO} - {_IX_LO - 1})))
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
    bounds = F.array(*[F.lit(b) for b in _BOUNDS])
    idx = F.lit(_LO) + F.size(F.filter(bounds, lambda b: b < F.col("value")))
    sparse = (
        ev.select("event_type", idx.alias("idx"))
        .groupBy("event_type", "idx")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )

    def _exact(cond) -> F.Column:
        # exact BIGINT partial sum (accumulation-order-free)
        return F.coalesce(F.sum(F.when(cond, F.col("n"))), F.lit(0)).cast(
            "long"
        )

    agg = sparse.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n_obs"),
        _exact(F.col("idx") < _IX_HI_B).alias("cb_hi"),
        _exact(F.col("idx") == _IX_HI_B).alias("na_hi"),
        _exact(F.col("idx") < _IX_LO).alias("cb_lo"),
        _exact(F.col("idx") == _IX_LO).alias("na_lo"),
    )
    # the ONLY float work: two literal log2 coefficients applied to
    # exact integers in one shared operand order
    cdf_hi = F.col("cb_hi") + F.col("na_hi") * (
        F.lit(float(_LOG2_HI)) - F.lit(_IX_HI_B - 1)
    )
    cdf_lo = F.col("cb_lo") + F.col("na_lo") * (
        F.lit(float(_LOG2_LO)) - F.lit(_IX_LO - 1)
    )
    return agg.select(
        "event_type",
        "n_obs",
        ((cdf_hi - cdf_lo) / F.col("n_obs").cast("double")).alias("fraction"),
    )


@register(
    "promql_native_histogram_fraction_rate",
    oracle=_NH_RATE_CTE
    + f"""
    , frac_agg AS (
        SELECT event_type, hour,
               sum(delta_n)::BIGINT AS n_inc,
               coalesce(sum(CASE WHEN idx < {_IX_HI_B} THEN delta_n END),
                        0)::BIGINT AS cb_hi,
               coalesce(sum(CASE WHEN idx = {_IX_HI_B} THEN delta_n END),
                        0)::BIGINT AS na_hi,
               coalesce(sum(CASE WHEN idx < {_IX_LO} THEN delta_n END),
                        0)::BIGINT AS cb_lo,
               coalesce(sum(CASE WHEN idx = {_IX_LO} THEN delta_n END),
                        0)::BIGINT AS na_lo
        FROM per_bucket GROUP BY 1, 2
        HAVING sum(delta_n) > 0
    )
    SELECT event_type, hour, n_inc,
           ((cb_hi + na_hi * ({_LOG2_HI} - {_IX_HI_B - 1}))
            - (cb_lo + na_lo * ({_LOG2_LO} - {_IX_LO - 1})))
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
    rate × {{quantile (registered r10), fraction (this entry)}}.

    Exactness composes both parents' arguments: extrapolatedRate scales
    every bucket of a window by the same positive factor, so the factor
    cancels in the fraction and the CDF arithmetic runs on the
    reset-corrected exact-BIGINT bucket increases (`_nh_window_deltas`);
    the v2.50+ exponential within-bucket interpolation collapses at
    schema 0 to two PLAN-TIME log2 literals (repr-pinned, identical in
    both engines) — exact integers through one shared IEEE chain,
    bit-identical unrounded, no runtime transcendental. All-flat
    windows vanish (no rate ⇒ no fraction), matching Prometheus
    returning no sample; a window simply missing an endpoint bucket
    contributes n_i = 0 and the CDF falls back to the partial sum
    below it (the sparse-representation clamp, as in the instant
    fraction entry above). Cost: one hash aggregate over the shared
    ≤~25-buckets-per-window delta relation — the dense scrape×bucket
    substrate (the expensive part) is shared with the rate and
    quantile∘rate entries, ONE exchange on (series, idx)."""
    per_bucket = _nh_window_deltas(spark, sf_dir)

    def _exact(cond) -> F.Column:
        # exact BIGINT partial sums (accumulation-order-free)
        return F.coalesce(
            F.sum(F.when(cond, F.col("delta_n"))), F.lit(0)
        ).cast("long")

    agg = (
        per_bucket.groupBy("event_type", "hour")
        .agg(
            F.sum("delta_n").cast("long").alias("n_inc"),
            _exact(F.col("idx") < _IX_HI_B).alias("cb_hi"),
            _exact(F.col("idx") == _IX_HI_B).alias("na_hi"),
            _exact(F.col("idx") < _IX_LO).alias("cb_lo"),
            _exact(F.col("idx") == _IX_LO).alias("na_lo"),
        )
        .filter(F.col("n_inc") > 0)
    )
    cdf_hi = F.col("cb_hi") + F.col("na_hi") * (
        F.lit(float(_LOG2_HI)) - F.lit(_IX_HI_B - 1)
    )
    cdf_lo = F.col("cb_lo") + F.col("na_lo") * (
        F.lit(float(_LOG2_LO)) - F.lit(_IX_LO - 1)
    )
    return agg.select(
        "event_type",
        "hour",
        "n_inc",
        ((cdf_hi - cdf_lo) / F.col("n_inc").cast("double")).alias("fraction"),
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
           CASE WHEN idx > {_HI} THEN pow(2.0, {_HI})
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
    per_bucket, scrapes = _nh_substrate(spark, sf_dir)
    # fleet size as a 1-row broadcast, NOT a driver-side .count() —
    # the whole query stays one lazy Catalyst plan. r17 optimization
    # (guide §2.3 "don't compute things you throw away"): the count
    # used to aggregate over per_bucket itself, which duplicated the
    # ENTIRE windowed substrate as a second plan branch (~1.3 s at
    # sf0.1). distinct series of per_bucket == distinct series among
    # hour windows with >= 2 scrapes (every win row joins >= 1 cum row
    # — win derives from that series' own scrapes), so the count runs
    # on the pinned scrape grid instead.
    n_series = (
        scrapes.groupBy("event_type", F.date_trunc("hour", "m").alias("hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .agg(F.countDistinct("event_type").cast("long").alias("n_series"))
    )
    fleet = per_bucket.groupBy("hour", "idx").agg(
        F.sum("delta_n").cast("long").alias("delta_n")
    )
    w_cum = W.partitionBy("hour").orderBy("idx")
    w_all = W.partitionBy("hour")
    q = fleet.filter(F.col("delta_n") > 0).select(
        "hour",
        "idx",
        "delta_n",
        F.sum("delta_n").over(w_cum).alias("cum"),
        F.sum("delta_n").over(w_all).alias("total"),
    )
    hit = (
        q.filter(F.col("cum") >= F.col("total") * 0.9)
        .withColumn("rn", F.row_number().over(w_cum))
        .filter(F.col("rn") == 1)
    )
    frac = (F.col("total") * 0.9 - (F.col("cum") - F.col("delta_n"))) / F.col(
        "delta_n"
    )
    qv = F.when(F.col("idx") > _HI, F.pow(F.lit(2.0), F.lit(_HI))).otherwise(
        F.pow(F.lit(2.0), F.col("idx") - 1) * F.pow(F.lit(2.0), frac)
    )
    return hit.crossJoin(F.broadcast(n_series)).select(
        "hour",
        F.col("total").cast("long").alias("n_inc"),
        "n_series",
        qv.alias("p90_rate"),
    )
