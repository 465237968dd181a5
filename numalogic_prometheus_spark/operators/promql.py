"""Read-side PromQL analogs (SURVEY.md §2C, §7 step 4).

The reference delegates querying to Prometheus's TSDB (SURVEY.md §3.3) —
this module closes that gap with pure Spark SQL compositions:

- ``cents`` — ``value`` as exact integer cents, the operand every
  cross-engine-exact sum, difference and counter reads.
- ``increase_with_resets`` — per-series lag deltas where a negative delta
  means counter reset (TSDB semantics layered over discipline A3's
  monotone counters, reference metrics.py:64-68).
- ``histogram_quantile`` — Prometheus's linear interpolation inside
  cumulative ``le`` buckets (reads discipline A6's output, reference
  metrics.py:173-177).
- ``topk_per_group`` — PromQL ``topk()``.
- ``instant_vector_cents`` — the instant-vector selector the cross-series
  aggregators read.

Everything is window functions + expressions: one shuffle per partition
key, no UDFs, fully oracle-checkable.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def cents() -> Column:
    """``value`` as integer cents, ``round(value * 100)::BIGINT`` in the
    oracles: sums and differences of cents are exact in both engines,
    where float prefix sums differ in the last bit (segment-tree vs
    sequential accumulation)."""
    return F.round(F.col("value") * 100).cast("long")


def lag_deltas(
    df: DataFrame,
    keys: Sequence[str],
    counter: str,
    order: Sequence[str] = ("ts",),
) -> DataFrame:
    """Adds ``raw_delta`` = ``counter`` minus its predecessor in the
    series; NULL on each series' first row."""
    w = W.partitionBy(*keys).orderBy(*order)
    return df.withColumn("raw_delta", F.col(counter) - F.lag(counter).over(w))


def increase_with_resets(
    df: DataFrame,
    keys: Sequence[str],
    counter: str,
    order: Sequence[str] = ("ts",),
) -> DataFrame:
    """Counter-reset-aware delta per series: a drop in a monotone counter
    means the process restarted, so the post-reset value IS the increase
    (PromQL `increase` kernel). Rows with no predecessor are dropped;
    ``raw_delta`` stays for callers that read its sign."""
    delta = F.col("raw_delta")
    return (
        lag_deltas(df, keys, counter, order)
        .filter(delta.isNotNull())
        .withColumn(
            "increase", F.when(delta < 0, F.col(counter)).otherwise(delta)
        )
    )


def instant_vector_cents(ev: DataFrame) -> DataFrame:
    """Instant vector over the events relation: the latest sample per
    (event_type, user_id) series as exact integer ``cents``, with ts
    then event_id deciding ties. One partial aggregation, one exchange
    on the series key."""
    return ev.groupBy("event_type", "user_id").agg(
        F.max_by(cents(), F.struct("ts", "event_id")).alias("cents")
    )


def histogram_quantile(
    buckets: DataFrame,
    keys: Sequence[str],
    q: float,
    le: str = "le",
    cum_count: str = "cum_count",
) -> DataFrame:
    """Prometheus `histogram_quantile(q, …)` over cumulative buckets.

    Linear interpolation within the first bucket whose cumulative count
    reaches rank = q·total; the first bucket's lower bound is 0; a
    quantile landing in +Inf returns the largest finite bound. One window
    pass over an already-tiny bucket relation — the expensive part
    (bucketing 100 TB of samples) happened upstream in the single-exchange
    histogram aggregation.
    """
    w = W.partitionBy(*keys).orderBy(le)
    wall = W.partitionBy(*keys)
    enriched = buckets.select(
        *keys,
        F.col(le).alias("__le"),
        F.col(cum_count).alias("__n"),
        F.lag(cum_count, 1, 0).over(w).alias("__prev_n"),
        F.lag(le, 1, 0.0).over(w).alias("__prev_le"),
        F.max(cum_count).over(wall).alias("__total"),
        F.max(F.when(F.col(le) != float("inf"), F.col(le))).over(wall).alias(
            "__max_finite_le"
        ),
    )
    rank = F.col("__total") * F.lit(q)
    hit = enriched.filter(F.col("__n") >= rank).withColumn(
        "__rn", F.row_number().over(W.partitionBy(*keys).orderBy("__le"))
    ).filter(F.col("__rn") == 1)
    interp = F.col("__prev_le") + (F.col("__le") - F.col("__prev_le")) * (
        rank - F.col("__prev_n")
    ) / (F.col("__n") - F.col("__prev_n"))
    return hit.select(
        *keys,
        F.when(F.col("__le") == float("inf"), F.col("__max_finite_le"))
        .otherwise(interp)
        .alias("quantile_value"),
    )


def histogram_fraction(
    buckets: DataFrame,
    keys: Sequence[str],
    lower: float,
    upper: float,
    le: str = "le",
    cum_count: str = "cum_count",
) -> DataFrame:
    """Classic-bucket analog of Prometheus `histogram_fraction(lower,
    upper, …)`: the estimated fraction of observations in (lower, upper],
    the CDF dual of `histogram_quantile` (upstream defines the function
    for native histograms only; over cumulative `le` buckets the analog
    is the same within-bucket linear interpolation, applied to the CDF at
    each endpoint).

    CDF(x) for x inside bucket (prev_le, le] is
    prev_n + (n − prev_n)·(x − prev_le)/(le − prev_le). Endpoints outside
    the bucket ladder CLAMP instead of dropping the series (ADVICE r9 —
    the old strict in-bucket filter silently erased a series via the
    inner join when, e.g., lower = 0 sat exactly on the ladder start or
    upper exceeded the last bucket): x ≤ 0 (the ladder start, the lag
    default for the first bucket's lower edge) clamps to CDF 0; x above
    the relation's last bound clamps to CDF total — the same
    no-width-to-interpolate reasoning behind histogram_quantile's +Inf
    clamp. The bucket relation is tiny (series × |bounds| rows), so the
    endpoint lookups are filters + one left join against the per-key
    totals; the expensive part (bucketing the corpus) happened upstream
    in the single-exchange histogram aggregation.
    """
    w = W.partitionBy(*keys).orderBy(le)
    wall = W.partitionBy(*keys)
    enriched = buckets.select(
        *keys,
        F.col(le).alias("__le"),
        F.col(cum_count).alias("__n"),
        F.lag(cum_count, 1, 0).over(w).alias("__prev_n"),
        F.lag(le, 1, 0.0).over(w).alias("__prev_le"),
        F.max(cum_count).over(wall).alias("__total"),
    )
    base = enriched.groupBy(*keys).agg(F.max("__total").alias("__total"))

    def _cdf_at(x: float, out: str) -> DataFrame:
        if x <= 0.0:
            # at/below the ladder start: no observation can be ≤ x
            return base.select(*keys, F.lit(0.0).alias(out), "__total")
        hit = enriched.filter(
            (F.col("__prev_le") < F.lit(x)) & (F.lit(x) <= F.col("__le"))
        )
        # a finite x landing in a materialized le = +Inf bucket gets the
        # same CDF as the no-+Inf-row above-ladder clamp (__total):
        # interpolating against an infinite width would freeze the CDF at
        # the last finite cumulative count, so the same endpoint would
        # answer differently depending on whether the +Inf row happened
        # to be materialized (ADVICE r10)
        interp = F.when(
            F.col("__le") == F.lit(float("inf")),
            F.col("__total").cast("double"),
        ).otherwise(
            F.col("__prev_n")
            + (F.col("__n") - F.col("__prev_n"))
            * (F.lit(x) - F.col("__prev_le"))
            / (F.col("__le") - F.col("__prev_le"))
        )
        # x > 0 with no in-ladder hit means x is above the last bound
        # (the ladder is contiguous from 0): clamp to the full count.
        return base.join(
            hit.select(*keys, interp.alias(out)), list(keys), "left"
        ).select(
            *keys,
            F.coalesce(F.col(out), F.col("__total").cast("double")).alias(out),
            "__total",
        )

    lo = _cdf_at(lower, "__cdf_lo").drop("__total")
    hi = _cdf_at(upper, "__cdf_hi")
    return lo.join(hi, list(keys)).select(
        *keys,
        (
            (F.col("__cdf_hi") - F.col("__cdf_lo")) / F.col("__total")
        ).alias("fraction"),
    )


def topk_per_group(
    df: DataFrame, keys: Sequence[str], value: str, k: int,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """PromQL `topk(k, …)` per group: rank ≤ k after one exchange."""
    w = W.partitionBy(*keys).orderBy(F.col(value).desc(), *tiebreak)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def vector_binop(
    left: DataFrame,
    right: DataFrame,
    op,
    *,
    on: Sequence[str] | None = None,
    ignoring: Sequence[str] = (),
    group_left: bool = False,
    group_right: bool = False,
    carry: Sequence[str] = (),
    left_value: str = "value",
    right_value: str = "value",
    out: str = "value",
) -> DataFrame:
    """PromQL binary-op vector matching (`l <op> on(...)/ignoring(...) r`).

    The reference delegates PromQL evaluation to the Prometheus Query
    Service (reference CHANGELOG.md:10); this engine owns read-side
    semantics, so binary-op matching is expressed as a label-set equi-join
    over two instant-vector relations (label columns + one value column).

    - ``on``: match on exactly these labels (PromQL ``on(...)``).
    - ``ignoring``: match on the *shared* labels minus these (PromQL
      ``ignoring(...)``). Mutually exclusive with ``on``.
    - ``group_left``: many-to-one — many left rows may match one right
      row per label set (PromQL ``group_left``). Default is 1:1; as in
      Prometheus, 1:1 cardinality is a data contract — callers wanting a
      hard check can pre-assert uniqueness (an extra exchange), which we
      deliberately do NOT inject into the plan.
    - ``group_right``: the mirror — one left row may match many right
      rows; the output keeps the RIGHT label set and ``carry`` copies
      labels from the left side (PromQL ``group_right(extra...)``).
      Implemented by delegating to the ``group_left`` path with the
      operands swapped and the op's argument order preserved, so the
      two grouped modes cannot drift apart semantically.
    - ``carry``: labels copied from the one-side into the output
      (PromQL ``group_left(extra...)`` / ``group_right(extra...)``).
    - ``op``: ``(Column, Column) -> Column`` building the result value.

    Output = left labels + carried right labels + ``out``. Unmatched rows
    drop (inner join), matching Prometheus. 100 TB: a plain shuffle
    equi-join on the match labels — AQE broadcasts the right side when it
    is small (the common case: an aggregated totals vector), and skewed
    match keys fall to AQE skew-join; no replication, no cartesian.
    """
    if on is not None and ignoring:
        raise ValueError("vector_binop: `on` and `ignoring` are exclusive")
    if group_left and group_right:
        raise ValueError("vector_binop: `group_left` and `group_right` are exclusive")
    if group_right:
        # Mirror mode: swap operands into the group_left path, flipping the
        # op's argument order so `op` still receives (left_value, right_value)
        # in the caller's orientation. One code path ⇒ no semantic drift.
        return vector_binop(
            right,
            left,
            lambda a, b: op(b, a),
            on=on,
            ignoring=ignoring,
            group_left=True,
            carry=carry,
            left_value=right_value,
            right_value=left_value,
            out=out,
        )
    l_labels = [c for c in left.columns if c != left_value]
    r_labels = [c for c in right.columns if c != right_value]
    if on is not None:
        match = list(on)
    else:
        match = [c for c in l_labels if c in set(r_labels) and c not in set(ignoring)]
    if not match:
        raise ValueError("vector_binop: empty match label set")
    if not group_left and set(l_labels) - set(match):
        # 1:1 with extra left labels is fine only when they are carried
        # through unchanged; Prometheus keeps the left label set.
        pass
    bad_carry = set(carry) - (set(r_labels) - set(match))
    if bad_carry:
        raise ValueError(f"vector_binop: carry labels not on right: {sorted(bad_carry)}")
    r = right.select(
        *[F.col(c).alias(f"__r_{c}") for c in match],
        *[F.col(c) for c in carry],
        F.col(right_value).alias("__r_value"),
    )
    cond = None
    for c in match:
        eq = left[c].eqNullSafe(F.col(f"__r_{c}"))
        cond = eq if cond is None else cond & eq
    joined = left.join(r, cond, "inner")
    return joined.select(
        *[left[c] for c in l_labels],
        *[F.col(c) for c in carry],
        op(F.col(left_value), F.col("__r_value")).alias(out),
    )


def vector_setop(
    left: DataFrame,
    right: DataFrame,
    kind: str,
    *,
    on: Sequence[str] | None = None,
    ignoring: Sequence[str] = (),
    left_value: str = "value",
    right_value: str = "value",
) -> DataFrame:
    """PromQL set operators `and` / `or` / `unless` over instant vectors.

    The reference delegates these to the Prometheus Query Service
    (reference CHANGELOG.md:10 #168); here they are label-set-matched
    existence joins, which is what Prometheus computes:

    - ``and``: left rows whose match-label set has at least one right row
      (semi join — value and labels come from the LEFT operand only).
    - ``unless``: left rows with NO right row on the match-label set
      (anti join).
    - ``or``: every left row, plus right rows whose match-label set has
      no left row. Requires both operands to share one relational schema
      (Prometheus unions arbitrary label sets; a relation cannot).

    Matching follows `vector_binop`: ``on`` names the match labels,
    otherwise the shared labels minus ``ignoring``. 100 TB: semi/anti
    joins ship only the match-label projection of the probe side across
    the exchange (no value/payload columns), AQE broadcasts it when
    small; `or` is one union + one anti join — no replication anywhere.
    """
    if on is not None and ignoring:
        raise ValueError("vector_setop: `on` and `ignoring` are exclusive")
    if kind not in ("and", "or", "unless"):
        raise ValueError(f"vector_setop: unknown kind {kind!r}")
    l_labels = [c for c in left.columns if c != left_value]
    r_labels = [c for c in right.columns if c != right_value]
    if on is not None:
        match = list(on)
    else:
        match = [c for c in l_labels if c in set(r_labels) and c not in set(ignoring)]
    if not match:
        raise ValueError("vector_setop: empty match label set")

    def _cond(a: DataFrame, probe: DataFrame):
        cond = None
        for c in match:
            eq = a[c].eqNullSafe(probe[f"__m_{c}"])
            cond = eq if cond is None else cond & eq
        return cond

    if kind in ("and", "unless"):
        probe = right.select(*[F.col(c).alias(f"__m_{c}") for c in match])
        how = "left_semi" if kind == "and" else "left_anti"
        return left.join(probe, _cond(left, probe), how)
    # kind == "or"
    if set(left.columns) != set(right.columns):
        raise ValueError(
            "vector_setop('or'): operands must share one schema; got "
            f"{sorted(left.columns)} vs {sorted(right.columns)}"
        )
    probe = left.select(*[F.col(c).alias(f"__m_{c}") for c in match])
    right_only = right.join(probe, _cond(right, probe), "left_anti")
    return left.unionByName(right_only)
