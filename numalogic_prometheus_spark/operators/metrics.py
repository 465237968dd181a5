"""The five Prometheus metric disciplines as DataFrame transforms.

The reference mutates one child series per call (reference
numaprom/monitoring/metrics.py: Counter :44-68, Info :71-99, Summary
:102-124, Gauge :127-152, Histogram :155-177). Spark-first, each
discipline is an *aggregation query* over the samples relation: the child
series (one per unique label tuple, metrics.py:68/:99/:124/:152/:177) is a
``groupBy`` key, and the per-type state is the aggregate:

- Counter  → commutative sum            (metrics.py:64-68)
- Gauge    → last-write-wins (max_by ts) (metrics.py:144-152)
- Summary  → count + sum (+ quantiles, a superset of the pinned client
             which emits none)           (metrics.py:120-124)
- Histogram→ cumulative le-bucket counts (metrics.py:173-177); default
             bounds are prometheus-client 0.18's
- Info     → latest metadata per key     (metrics.py:91-99)

All are pure built-in expressions → whole-stage codegen, partial+final
HashAggregate, AQE-coalesced shuffles. At 100 TB the only shuffle per
discipline is the single hash exchange on the group keys.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# prometheus-client 0.18.0 default histogram bounds (pinned-dep semantics,
# reference poetry.lock:390-391); +Inf is added by `histogram_buckets`.
DEFAULT_BUCKETS = (
    0.005, 0.01, 0.025, 0.05, 0.075, 0.1, 0.25, 0.5, 0.75,
    1.0, 2.5, 5.0, 7.5, 10.0,
)
# DuckDB list literal of the same bounds, for the oracles
DEFAULT_BUCKETS_SQL = ",".join(str(b) for b in DEFAULT_BUCKETS)


def counter(df: DataFrame, keys: Sequence[str | Column], value: str = "value") -> DataFrame:
    """Counter discipline: monotone sum per series (metrics.py:64-68).

    Catalyst plans this as partial+final HashAggregate — the map-side
    combine is what makes it scale: the shuffle carries one row per
    (partition, key), not per sample.
    """
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.sum(value).alias("total"),
    )


def counter_valid(value: str = "value") -> Column:
    """A sample a counter may accept: not NULL, not NaN and ≥ 0. NaN
    needs the explicit isnan() guard: Spark (and DuckDB) order NaN
    greater than every number, so ``value >= 0`` alone would accept it."""
    return (
        F.col(value).isNotNull()
        & ~F.isnan(F.col(value))
        & (F.col(value) >= 0)
    )


def counter_guarded(
    df: DataFrame, keys: Sequence[str | Column], value: str = "value"
) -> tuple[DataFrame, DataFrame]:
    """Counter discipline with the pinned client's negative-increment
    rejection (reference metrics.py:64-68; prometheus-client semantics:
    ``inc(amount < 0)`` raises ValueError). The relational form diverts
    invalid samples (:func:`counter_valid` fails: negative, NaN, null)
    to a side relation instead of raising, keeping the accepted
    aggregate monotone.

    Returns ``(accepted, rejected)`` — accepted is the counter aggregate
    over valid samples, rejected is the raw invalid-sample relation (a
    dead-letter side output for alerting).
    """
    valid = counter_valid(value)
    accepted = counter(df.filter(valid), keys, value)
    rejected = df.filter(~F.coalesce(valid, F.lit(False)))
    return accepted, rejected


def gauge_latest(df: DataFrame, keys: Sequence[str | Column], value: str = "value",
                 ts: str = "ts", tiebreak: str | None = None) -> DataFrame:
    """Gauge discipline: last-write-wins per series (metrics.py:144-152).

    `max_by(value, ts)` is a single-pass aggregate — no window, no sort,
    no second shuffle. `tiebreak` makes the pick deterministic when two
    samples share the max ts (max_by over the (ts, tiebreak) struct);
    without it both engines pick arbitrarily and the parity check can
    flake on ts collisions.
    """
    order = F.struct(F.col(ts), F.col(tiebreak)) if tiebreak else F.col(ts)
    return df.groupBy(*keys).agg(
        F.max_by(value, order).alias("gauge_value"),
        F.max(ts).alias("last_ts"),
    )


def summary(df: DataFrame, keys: Sequence[str | Column], value: str = "value",
            quantiles: Sequence[float] = (0.5, 0.9, 0.99)) -> DataFrame:
    """Summary discipline: running count+sum (metrics.py:120-124).

    The pinned python client computes no quantiles; we expose exact
    `percentile` as the read-side superset (PromQL-side `quantile` analog).
    At scale swap `F.percentile` for `F.percentile_approx` (t-digest-style
    mergeable sketch) — exact percentile is used here for oracle parity.
    """
    # One ARRAY-fraction percentile call: N separate percentile aggregates
    # each materialize their own per-group value-count buffer over the
    # whole relation; the array form shares one buffer and one final sort
    # for all requested quantiles.
    qarr = F.array(*[F.lit(q) for q in quantiles])
    out = df.groupBy(*keys).agg(
        F.count(value).alias("obs_count"),
        F.sum(value).alias("obs_sum"),
        F.percentile(value, qarr).alias("_qs"),
    )
    qcols = [
        F.col("_qs")[i].alias(f"q{int(q * 100)}") for i, q in enumerate(quantiles)
    ]
    return out.select(*[c for c in out.columns if c != "_qs"], *qcols)


def histogram_buckets(df: DataFrame, keys: Sequence[str], value: str = "value",
                      bounds: Sequence[float] = DEFAULT_BUCKETS) -> DataFrame:
    """Histogram discipline: cumulative `le` buckets (metrics.py:173-177).

    Prometheus buckets are cumulative (le = less-than-or-equal), so each
    bucket count is directly `sum(value <= le)` — one conditional
    aggregation, no window function. Emitted long-form: one row per
    (keys…, le), +Inf included, matching the text-exposition shape.

    The bounds array is a literal cross product (14 rows) — Catalyst
    expands it before the aggregation, so the plan is still a single
    exchange on (keys…, le).
    """
    all_bounds = [float(b) for b in bounds] + [float("inf")]
    le = F.explode(F.array(*[F.lit(b) for b in all_bounds])).alias("le")
    exploded = df.select(*keys, F.col(value).alias("__v"), le)
    return exploded.groupBy(*keys, "le").agg(
        F.sum(F.when(F.col("__v") <= F.col("le"), 1).otherwise(0)).alias("cum_count"),
    )


def info_latest(df: DataFrame, keys: Sequence[str], info_col: str, ts: str = "ts",
                tiebreak: str | None = None) -> DataFrame:
    """Info discipline: latest metadata snapshot per series (metrics.py:91-99).

    Read side of a slowly-changing dimension: row_number()==1 over ts desc.
    `tiebreak` makes the pick deterministic when ts collides.
    """
    from pyspark.sql import Window

    order = [F.col(ts).desc()]
    if tiebreak:
        order.append(F.col(tiebreak).desc())
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*keys, F.col(ts).alias("info_ts"), F.col(info_col).alias("info"))
    )


def merge_labels(static: Column, dynamic: Column) -> Column:
    """Right-biased label-map union (metrics.py:65-67): per-call wins.

    Requires the session invariant ``spark.sql.mapKeyDedupPolicy=LAST_WIN``
    (set by ``session.get_session``); `None` dynamic labels coerce to {}
    exactly like the reference's ``labels or {}`` (metrics.py:65-66).
    """
    return F.map_concat(static, F.coalesce(dynamic, F.create_map()))


def exposition_lines(df: DataFrame, name: str, label_cols: Sequence[str],
                     value: str) -> DataFrame:
    """Render the Prometheus text-exposition line per series (A10,
    reference numaprom/monitoring/__init__.py:16-24 serves this over HTTP).

    Produces `name{k="v",…} value` with deterministic label ordering
    (exposition determinism, SURVEY.md §4.3).
    """
    pairs = [
        F.concat(F.lit(f'{c}="'), F.col(c).cast("string"), F.lit('"'))
        for c in sorted(label_cols)
    ]
    line = F.concat(
        F.lit(name + "{"),
        F.concat_ws(",", *pairs),
        F.lit("} "),
        F.col(value).cast("string"),
    )
    return df.select(line.alias("line"))
