"""Arbitrary stateful streaming operators via applyInPandasWithState
(SURVEY.md §2C streaming-only: counter resets, stateful scalers B5).

State layout mirrors what the reference kept in Redis per composite key
(CHANGELOG.md:456 stateful preproc artifacts; :124 model registry): a
small numeric tuple per key, updated per micro-batch.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from numalogic_prometheus_spark.operators.promql import cents


def stateful_running_stats(grouped) -> DataFrame:
    """Per-key running (count, sum, sum-of-squares) across micro-batches →
    emits the key's cumulative mean/std after each batch — the streaming
    form of the fitted z-score scaler (B5): downstream transforms read the
    latest row per key as the model artifact.

    ``grouped`` is ``streaming_df.groupBy(key_col)``.
    """

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            n, s, s2 = state.get
        else:
            n, s, s2 = 0, 0.0, 0.0
        for pdf in pdfs:
            # dropna once so count/sum/sumsq see the same rows — len() is
            # O(1) where Series.count() would re-scan for non-null.
            v = pdf["value"].dropna()
            n += len(v)
            s += float(v.sum())
            s2 += float((v * v).sum())
        state.update((n, s, s2))
        mu = s / n if n else 0.0
        var = max(s2 / n - mu * mu, 0.0) if n else 0.0
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "n": [n],
                "mean": [mu],
                "std": [var ** 0.5],
            }
        )

    return grouped.applyInPandasWithState(
        update,
        outputStructType="key string, n long, mean double, std double",
        stateStructType="n long, s double, s2 double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_counter_increase(ev: DataFrame) -> DataFrame:
    """Streaming counter-reset ``increase`` (SURVEY.md §4.3's named
    streaming hard part) over the events stream ``ev``: per event_type
    series, chain the wraparound counter of operators/counter.py (running
    integer-cent sum mod 1000 in (ts, event_id) order) across
    micro-batches and emit one reset-corrected increase per sample. The
    reference's pipeline consumed pre-scraped Prometheus counters
    (reference metrics.py:64-68 owns only write-side monotonicity); rate
    evaluation was delegated — this owns it on a stream.

    Contract: the emitted ``(event_type, ts, increase)`` rows equal
    ``operators.counter.counter_increases`` on the same events for any
    micro-batch split, signed cents included.

    State per key = ``(running, last_c, has_last)`` — the unreduced
    running cent-sum (the batch side's BIGINT prefix sum, so the same
    int64 range), the last emitted counter value, and a first-sample
    flag: two longs + a boolean, so total state is O(#series) — bounded
    regardless of stream length (asserted in
    tests/test_streaming_native.py). Assumes per-key in-order delivery
    across batches (the whole micro-batch is materialized and globally
    sorted below — Arrow may deliver one group's batch as several
    chunks in shuffle order; a Kafka source partitioned by series key
    provides the cross-batch part — the standard counter-stream
    contract).

    Emits append-mode per-sample rows; the very first sample of a series
    has no delta and is skipped, as the batch twin drops its NULL
    raw_delta row. Downstream aggregation to windowed rates stays
    composable streaming-side or batch-side on the sink.
    """

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        running, last_c, has_last = (
            state.get if state.exists else (0, 0, False)
        )
        # Materialize + globally sort the group's whole micro-batch:
        # applyInPandasWithState may deliver one group as multiple Arrow
        # chunks in arbitrary (shuffle) order once rows-per-key exceeds
        # arrow.maxRecordsPerBatch — chaining per-chunk would corrupt
        # the recurrence. State stays O(#series); the transient frame is
        # one key's micro-batch, the same bound a shuffle partition has.
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf):
            pdf = pdf.sort_values(["ts", "event_id"])
            sample_cents = pdf["cents"].to_numpy(dtype="int64")
            # np.fmod keeps sign-of-dividend — Spark/DuckDB `%` semantics;
            # numpy's `%` is sign-of-divisor and would diverge on negative
            # running sums.
            c = np.fmod(running + np.cumsum(sample_cents), 1000)
            prev = np.empty_like(c)
            prev[1:] = c[:-1]
            if has_last:
                prev[0] = last_c
                valid = np.ones(len(c), dtype=bool)
            else:
                prev[0] = 0
                valid = np.arange(len(c)) > 0
            delta = c - prev
            increase = np.where(delta < 0, c, delta)
            running += int(sample_cents.sum())
            last_c, has_last = int(c[-1]), True
            out = pd.DataFrame(
                {
                    "event_type": key[0],
                    "ts": pdf["ts"].to_numpy()[valid],
                    "increase": increase[valid],
                }
            )
            yield out
        state.update((running, last_c, has_last))

    stream = ev.select("event_type", "ts", "event_id", cents().alias("cents"))
    return stream.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType="event_type string, ts timestamp, increase long",
        stateStructType="running long, last_c long, has_last boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
