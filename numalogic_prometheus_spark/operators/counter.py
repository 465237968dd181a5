"""The PromQL counter family's shared parts: the synthetic wraparound
counter, its reset-aware increases, the hourly rate and the two-window
burn-rate evaluation, each written once for the batch entries and their
streaming twins.

Counter. The events fixture has no raw counter column, so each
event_type series reads a monotone-with-wraparound counter: ``c`` is the
running sum of the samples' integer cents in (ts, event_id) order, mod
1000. The running sum is an exact BIGINT prefix sum, and ``%`` takes
the sign of the dividend in Spark, in DuckDB and in ``np.fmod``, so
negative cents give the same ``c`` everywhere.

Increases. A drop in the counter means it restarted, so the post-reset
value is the increase (PromQL ``increase``); a series' first sample has
no predecessor and no increase.

Batch and stream. :func:`counter_increases` and the stateful kernel
``streaming.stateful.stateful_counter_increase`` give row-equal
``(event_type, ts, increase)`` on any micro-batch split of the events,
signed cents included (tests/test_streaming_native.py). Their oracles
share :data:`COUNTER_SQL` and the hourly-rate or burn-rate suffix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from numalogic_prometheus_spark.operators.promql import (
    cents,
    increase_with_resets,
    lag_deltas,
)

_SERIES = ("event_type",)
_ORDER = ("ts", "event_id")

COUNTER_SQL = """
    WITH counter AS (
        -- integer cents before the running sum: cross-engine-exact
        SELECT event_type, ts, event_id,
               (sum(round(value * 100)::BIGINT) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id))::BIGINT % 1000 AS c
        FROM events
    ),
    deltas AS (
        SELECT event_type, ts, event_id, c,
               c - lag(c) OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS raw_delta
        FROM counter
    ),
    increase AS (
        SELECT event_type, ts,
               CASE WHEN raw_delta < 0 THEN c ELSE raw_delta END AS increase
        FROM deltas
        WHERE raw_delta IS NOT NULL
    )
"""

RATE_PER_HOUR_SQL = """
    SELECT event_type, date_trunc('hour', ts) AS hour,
           sum(increase) / 3600.0 AS rate_per_sec
    FROM increase
    GROUP BY 1, 2
    """

BURN_BUDGET = 0.1  # SLO error budget, events/sec
BURN_FACTOR = 2.0  # burn-rate multiple that pages
_SHORT_FROM_MIN = 50  # short window = the hour's last 10 minutes

BURN_SQL_SUFFIX = f"""
    , agg AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               sum(increase)::BIGINT AS inc_long,
               coalesce(sum(CASE WHEN date_part('minute', ts)
                                      >= {_SHORT_FROM_MIN}
                                 THEN increase END), 0)::BIGINT AS inc_short
        FROM increase GROUP BY 1, 2
    )
    SELECT event_type, hour, inc_long, inc_short,
           inc_long / 3600.0 / {BURN_BUDGET} AS burn_long,
           inc_short / 600.0 / {BURN_BUDGET} AS burn_short,
           (CASE WHEN inc_long / 3600.0 / {BURN_BUDGET} >= {BURN_FACTOR}
                  AND inc_short / 600.0 / {BURN_BUDGET} >= {BURN_FACTOR}
                 THEN 1 ELSE 0 END)::BIGINT AS firing
    FROM agg
    """


def wraparound_counter(ev: DataFrame) -> DataFrame:
    """``(event_type, ts, event_id, c)``: every sample of the events
    relation with its series' wraparound counter value."""
    running = (
        W.partitionBy(*_SERIES)
        .orderBy(*_ORDER)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ev.select(
        "event_type",
        "ts",
        "event_id",
        (F.sum(cents()).over(running) % 1000).alias("c"),
    )


def counter_deltas(ev: DataFrame) -> DataFrame:
    """:func:`wraparound_counter` plus ``raw_delta`` = c − its
    predecessor, NULL on each series' first sample."""
    return lag_deltas(wraparound_counter(ev), _SERIES, "c", _ORDER)


def counter_increases(ev: DataFrame) -> DataFrame:
    """The batch twin of the stateful stream kernel: one row per sample
    except each series' first, with ``c``, the sign-carrying
    ``raw_delta`` and the reset-corrected ``increase``."""
    return increase_with_resets(wraparound_counter(ev), _SERIES, "c", _ORDER)


def rate_per_hour(inc: DataFrame) -> DataFrame:
    """PromQL ``rate()`` over fixed hour windows: the summed increases
    of each (series, hour) over the window length in seconds."""
    return inc.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg((F.sum("increase") / 3600.0).alias("rate_per_sec"))


def burn_rate_evaluate(inc: DataFrame) -> DataFrame:
    """Two-window burn-rate evaluation over per-sample increases
    ``(event_type, ts, increase)`` — one conditional hash aggregation
    per (series, hour), then the literal-division burn expressions and
    the AND-of-windows firing flag."""
    agg = inc.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.sum("increase").cast("long").alias("inc_long"),
        F.coalesce(
            F.sum(
                F.when(
                    F.minute("ts") >= _SHORT_FROM_MIN, F.col("increase")
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("inc_short"),
    )
    burn_long = F.col("inc_long") / F.lit(3600.0) / F.lit(BURN_BUDGET)
    burn_short = F.col("inc_short") / F.lit(600.0) / F.lit(BURN_BUDGET)
    return agg.select(
        "event_type",
        "hour",
        "inc_long",
        "inc_short",
        burn_long.alias("burn_long"),
        burn_short.alias("burn_short"),
        F.when(
            (burn_long >= BURN_FACTOR) & (burn_short >= BURN_FACTOR),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("firing"),
    )
