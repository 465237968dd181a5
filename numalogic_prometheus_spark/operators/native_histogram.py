"""Schema-0 native histograms (Prometheus 3): the shared parts of the
native-histogram query family — the bucket ladder, the bucket index,
the per-series window deltas and their rate, and the exponential
quantile and fraction read-outs.

Bucket index. A schema-0 native histogram covers the positive axis
with sparse exponential buckets (2^(idx−1), 2^idx]. Every boundary is
an exact power of two, so bucket membership is decided by comparing
against literal doubles that Spark and DuckDB parse identically, with
no log/floor arithmetic whose final-ulp rounding could move a boundary
sample into the neighbouring bucket. The index of v > 0 is
LO + |{b ∈ BOUNDS : b < v}|; values above 2^HI land in the open-ended
overflow bucket HI + 1 (the bounded-resolution analog of the
bucket-limit schema reduction). Negative observations mirror into
negative buckets keyed by |v|, and v = 0 is the zero bucket; callers
pass the magnitude they bucket.

Window deltas. The rate family reads a synthetic histogram counter:
scrapes are the minutes with ≥ 1 positive observation per series, and
each scrape holds per-bucket counts cumulative since the last restart,
with restarts on a fixed ``EPOCH_US`` wall grid. Two forms compute the
same per (series, hour window, bucket) relation
``(event_type, hour, idx, n, si_us, ds0, de, delta_n)``:

* :func:`window_deltas` reads the per-minute count grid and evaluates
  the telescoped delta in one per-series kernel pass (the batch
  entries);
* :func:`deltas_from_cum` reads dense cumulative rows
  ``(event_type, m, idx, c, prev_c, reset)`` — what the stateful
  streaming operator (streaming/nh_rate.py) appends.

Both feed :func:`rate_finalize`. Their equality is pinned row-exact by
tests/test_streaming_nh_rate.py and tests/test_nh_stream_split_property.py.
"""

from __future__ import annotations

import collections
import math
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from numalogic_prometheus_spark.functions.timeutil import epoch_us
from numalogic_prometheus_spark.operators.dedup import truncate_lineage

LO, HI = -10, 12  # boundary ladder 2^LO .. 2^HI (23 exact doubles)
BOUNDS = [2.0 ** k for k in range(LO, HI + 1)]
# repr() of a power of two is an EXACT decimal ('0.0009765625',
# '4096.0') — both engines parse it back to the identical double.
BOUNDS_SQL = ", ".join(repr(b) for b in BOUNDS)

EPOCH_US = 5_400_000_000  # 90-min counter epochs: resets land mid-hour
HOUR_US = 3_600_000_000


def bucket_index(magnitude: Column) -> Column:
    """Schema-0 bucket index of ``magnitude`` (> 0): a literal-array
    filter over the ladder, a pure map-side expression."""
    bounds = F.array(*[F.lit(b) for b in BOUNDS])
    return F.lit(LO) + F.size(F.filter(bounds, lambda b: b < magnitude))


def bucket_index_sql(magnitude: str) -> str:
    """DuckDB twin of :func:`bucket_index` for the oracles."""
    return f"{LO} + len(list_filter([{BOUNDS_SQL}], b -> b < {magnitude}))"


def observations(ev: DataFrame) -> DataFrame:
    """``(event_type, m, idx)``: one row per positive observation, ``m``
    its scrape minute and ``idx`` its bucket. Works on batch and
    streaming event relations alike."""
    return ev.filter(F.col("value") > 0).select(
        "event_type",
        F.date_trunc("minute", "ts").alias("m"),
        bucket_index(F.col("value")).alias("idx"),
    )


def series_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-series window-delta kernel over the ``bkt`` count grid
    ``(event_type, m, idx, cnt)``: one series in, its full (hour window
    × bucket) delta grid out, in exact int64.

    Evaluates the telescoped delta derived in :func:`window_deltas`:
    per (hour window, bucket) ``delta_n = hsum − fcnt − ctot`` with
    hsum the hour's count sum, fcnt the count at the window's first
    scrape, and ctot the sum of prev-epoch totals over the window's
    UNFLAGGED epoch boundaries (flag = any bucket's count at the
    boundary scrape below its prev-epoch total, i.e. DetectReset).
    Every intermediate is an integer; ds0/de are float64 conversions of
    exact µs integers (< 2^53). One series' state is its scrape grid ×
    ≤ ~25 buckets.

    Assumes a UTC session timezone. Arrow hands ``m`` over as naive
    wall-clock times in the session timezone, and the kernel reads them
    as unix microseconds: the epoch boundaries (``m // EPOCH_US``) and
    the hour windows are the unix-time ones only under UTC.
    :func:`window_deltas` asserts it at build."""
    et = pdf["event_type"].iloc[0]
    m = pdf["m"].to_numpy("datetime64[us]").astype("int64")
    idx = pdf["idx"].to_numpy("int64")
    cnt = pdf["cnt"].to_numpy("int64")
    # scrape grid: unique minutes, sorted
    sm = np.unique(m)
    sep = sm // EPOCH_US
    sh = (sm // HOUR_US) * HOUR_US
    # window stats per hour over scrapes (n ≥ 2 keeps a rate window)
    uh, hstart = np.unique(sh, return_index=True)
    n = np.diff(np.append(hstart, sm.size))
    first_m = sm[hstart]
    last_m = sm[np.append(hstart[1:], sm.size) - 1]
    keep = n >= 2
    uh, n, first_m, last_m = uh[keep], n[keep], first_m[keep], last_m[keep]
    # epoch-boundary scrapes: epoch differs from the previous scrape's
    is_bnd = np.zeros(sm.size, dtype=bool)
    is_bnd[1:] = sep[1:] != sep[:-1]
    prev_ep = np.empty(sm.size, dtype="int64")
    prev_ep[1:] = sep[:-1]
    prev_ep[0] = -1
    ep = m // EPOCH_US
    buckets = np.unique(idx)
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
    # boundary below its prev-epoch total (absent rows count as 0)
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
    hsum = np.zeros((uh.size, nb), dtype="int64")
    fcnt = np.zeros((uh.size, nb), dtype="int64")
    ctot = np.zeros((uh.size, nb), dtype="int64")
    fm = {h: f for h, f in zip(uh, first_m)}
    for mm, i, c in zip(m, idx, cnt):
        h = (mm // HOUR_US) * HOUR_US
        k = hidx.get(h)
        if k is None:
            continue
        hsum[k, bpos[i]] += c
        if mm == fm[h]:
            fcnt[k, bpos[i]] += c
    for mm, pe in zip(bnd_m, bnd_pe):
        if flagged[mm]:
            continue
        h = (mm // HOUR_US) * HOUR_US
        k = hidx.get(h)
        if k is None or mm == fm[h]:
            continue
        for b in buckets:
            ctot[k, bpos[b]] += tot.get((b, pe), 0)
    hh = np.repeat(uh, nb)
    bb = np.tile(buckets, uh.size)
    return pd.DataFrame(
        {
            "event_type": et,
            "hour": pd.Series(hh).astype("datetime64[us]"),
            "idx": bb,
            "n": np.repeat(n, nb),
            "si_us": np.repeat(last_m - first_m, nb),
            "ds0": np.repeat(first_m - uh, nb).astype("float64"),
            "de": np.repeat(uh + HOUR_US - last_m, nb).astype("float64"),
            "delta_n": (hsum - fcnt - ctot).ravel(),
        }
    )


def window_deltas(ev: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``(per_bucket, scrapes)`` from the batch events relation: the
    window-delta relation plus the pinned scrape grid it was built
    from, so composed entries (the fleet aggregate) can derive
    series-level facts without a second pass over the substrate.

    The reset-corrected delta telescopes. Summing the per-step
    increments over the hour's consecutive scrapes:
      same-epoch step i:        c(i) − c(i−1)             = cnt(i)
      boundary step, flagged:   c(i) − c(i−1) + prev_c(i) = cnt(i)
        (i−1 is the prev epoch's LAST scrape, so c(i−1) = that epoch's
         total = prev_c(i), and DetectReset adds it back)
      boundary step, unflagged: c(i) − c(i−1) = cnt(i) − tot(e'(i))
    hence, per (series, hour window, bucket):
      delta_n = Σ_{scrapes m ∈ hour, m > first_m} cnt(m)
              − Σ_{unflagged boundary m ∈ hour, m > first_m} tot(e'(m))
    which :func:`series_kernel` evaluates in one applyInPandas pass per
    series: 2 exchanges in all (the (et, m, idx) aggregate feeding the
    pin, and the per-series regroup). The cumulative-row form
    :func:`deltas_from_cum` computes the same relation from the
    streaming operator's rows."""
    tz = ev.sparkSession.conf.get("spark.sql.session.timeZone")
    if tz != "UTC":
        raise RuntimeError(
            "the native-histogram series kernel needs "
            f"spark.sql.session.timeZone=UTC, got {tz!r}: in another "
            "timezone its epoch boundaries and hour windows would shift"
        )
    bkt = observations(ev).groupBy("event_type", "m", "idx").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    # Pin the count grid once: every consumer derives from bkt, and
    # without the cut each would re-scan the raw events (Catalyst
    # collapses aggregate-over-aggregate back into scans). bkt is
    # scrape-grid-sized — the raw samples are aggregated away — so the
    # materialization is small next to the scans it replaces.
    bkt = truncate_lineage(bkt)
    scrapes = bkt.select("event_type", "m").distinct()
    per_bucket = bkt.groupBy("event_type").applyInPandas(
        series_kernel,
        "event_type string, hour timestamp, idx long, n long, "
        "si_us long, ds0 double, de double, delta_n long",
    )
    return per_bucket, scrapes


def deltas_from_cum(cum: DataFrame) -> DataFrame:
    """Hourly per-bucket deltas from a dense cumulative relation
    ``(event_type, m, idx, c, prev_c, reset)``: increase =
    c(last) − c(first) + Σ prev_c at every flagged scrape after the
    first. The streaming twin feeds it the stateful operator's appended
    rows; it equals :func:`window_deltas` on the same observations."""
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
        (epoch_us("hour") + F.lit(HOUR_US) - epoch_us("last_m"))
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
                    # bucket silently drops. Dense batch input never
                    # has NULL here.
                    F.coalesce(F.col("prev_c"), F.lit(0)),
                ).otherwise(F.lit(0))
            )
        ).alias("delta_n")
    )


def rate_finalize(per_bucket: DataFrame) -> DataFrame:
    """extrapolatedRate's boundary arithmetic over the per-bucket delta
    relation — one IEEE operand sequence for the batch entry and its
    streaming twin. Zero-delta buckets drop (FloatHistogram.Compact)."""
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


def exp_quantile(
    sparse: DataFrame, keys: Sequence[str], count: str, q: float
) -> tuple[DataFrame, Column]:
    """`histogram_quantile(q, …)` over sparse buckets ``(*keys, idx,
    count)`` with positive counts: ``(hit, value)``, where ``hit`` holds
    per key group the first bucket whose cumulative count reaches
    q·total (columns ``*keys, idx, count, cum, total``) and ``value``
    interpolates EXPONENTIALLY inside it — lower · 2^frac, the
    native-histogram rule (classic buckets interpolate linearly). An
    overflow-bucket hit returns the largest finite boundary. The single
    ``pow(2.0, frac)`` is the one transcendental; its final-ulp
    cross-engine noise is absorbed by the engine-level 1e-6
    canonicalization."""
    w_cum = W.partitionBy(*keys).orderBy("idx")
    w_all = W.partitionBy(*keys)
    ranked = sparse.select(
        *keys,
        "idx",
        count,
        F.sum(count).over(w_cum).alias("cum"),
        F.sum(count).over(w_all).alias("total"),
    )
    hit = (
        ranked.filter(F.col("cum") >= F.col("total") * q)
        .withColumn("rn", F.row_number().over(w_cum))
        .filter(F.col("rn") == 1)
    )
    frac = (F.col("total") * q - (F.col("cum") - F.col(count))) / F.col(count)
    value = F.when(F.col("idx") > HI, F.pow(F.lit(2.0), F.lit(HI))).otherwise(
        F.pow(F.lit(2.0), F.col("idx") - 1) * F.pow(F.lit(2.0), frac)
    )
    return hit, value


# histogram_fraction band: both endpoints sit strictly inside schema-0
# buckets — (0.5, 1] and (32, 64] — where the exponential interpolation
# collapses to CDF(x) = cum_before + n_i·(log2(x) − (i−1)). log2(x) is a
# PLAN-TIME literal, repr'd so both engines parse the identical double.
FRAC_LO, FRAC_HI = 0.7, 48.0
IX_LO, IX_HI = (LO + sum(b < x for b in BOUNDS) for x in (FRAC_LO, FRAC_HI))
LOG2_LO, LOG2_HI = repr(math.log2(FRAC_LO)), repr(math.log2(FRAC_HI))


def exp_fraction(
    sparse: DataFrame, keys: Sequence[str], count: str, total: str
) -> tuple[DataFrame, Column]:
    """`histogram_fraction(FRAC_LO, FRAC_HI, …)` over sparse buckets
    ``(*keys, idx, count)``: ``(agg, fraction)``, where ``agg`` holds
    per key group the count sum as ``total`` and the exact BIGINT
    partial sums below and inside each endpoint's bucket, and
    ``fraction`` is the exponential-interpolation estimate. The only
    float work is the two literal log2 coefficients applied to exact
    integers in one shared operand order — bit-identical across
    engines, no runtime transcendental. A group missing an endpoint
    bucket contributes n_i = 0, so its CDF falls back to the sum below
    it (the sparse-representation clamp)."""

    def exact(cond: Column) -> Column:
        # exact BIGINT partial sum (accumulation-order-free)
        return F.coalesce(F.sum(F.when(cond, F.col(count))), F.lit(0)).cast(
            "long"
        )

    agg = sparse.groupBy(*keys).agg(
        F.sum(count).cast("long").alias(total),
        exact(F.col("idx") < IX_HI).alias("cb_hi"),
        exact(F.col("idx") == IX_HI).alias("na_hi"),
        exact(F.col("idx") < IX_LO).alias("cb_lo"),
        exact(F.col("idx") == IX_LO).alias("na_lo"),
    )
    cdf_hi = F.col("cb_hi") + F.col("na_hi") * (
        F.lit(float(LOG2_HI)) - F.lit(IX_HI - 1)
    )
    cdf_lo = F.col("cb_lo") + F.col("na_lo") * (
        F.lit(float(LOG2_LO)) - F.lit(IX_LO - 1)
    )
    return agg, (cdf_hi - cdf_lo) / F.col(total).cast("double")
