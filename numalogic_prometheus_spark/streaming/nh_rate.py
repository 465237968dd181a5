"""Stateful streaming twin of the native-histogram rate substrate (the
batch side is operators/native_histogram.window_deltas).

Per series key, the operator chains the sparse-bucket cumulative
counters across micro-batches and emits one DENSE row per (scrape
minute, known bucket): the within-epoch cumulative count ``c``, the
previous scrape's cumulative ``prev_c`` (NULL on a bucket's first
emission), the SERIES-level reset flag (any bucket's cumulative
dropping scrape-over-scrape — Prometheus DetectReset at histogram
grain), and the emission ordinal ``seq``. Downstream,
operators/native_histogram.deltas_from_cum + rate_finalize turn the
rows into the identical hourly rate relation the batch entry produces —
asserted exactly in tests/test_streaming_nh_rate.py.

STRADDLED MINUTES: a micro-batch boundary can
fall INSIDE a scrape minute (arbitrary with a Kafka source), so the
batch that closes a minute may only have seen part of it. An append
sink cannot retract, so the operator re-emits the straddled minute in
the next batch with the COMPLETED cumulative (state carries both the
minute's running counts and the previous minute's cumulative, so the
re-emission's ``prev_c``/``reset`` are computed against the true
previous minute, not the partial row) and stamps every row with the
per-key emission ordinal ``seq`` — consumers keep the max-``seq`` row
per (series, minute, bucket), making re-emission a last-writer-wins
upsert. The registered entry applies exactly that dedup before the
shared rollup; correctness under mid-minute splits is pinned by
tests/test_streaming_nh_rate.py::test_multibatch_straddled_minute.

Parity with the batch densification: the batch side back-fills ZERO
cumulative rows for a bucket at scrapes before its first observation
(its bucket set is a whole-history artifact). The stream only knows a
bucket from its first event onward — equivalent by construction,
because a missing row contributes exactly what a c=0/prev_c=0 row
contributes to every downstream term: the first_m/last_m sums add 0,
and a zero bucket can neither trigger a reset nor add reset
correction mass (prev_c = 0).

State per key = three parallel long arrays (bucket idx, cumulative at
the last emitted minute, cumulative at the minute BEFORE it) + the
last minute, the emission ordinal, and the last epoch:
O(#buckets-per-series) ≤ the schema's bucket-ladder width (~25 for
the schema-0 ladder here) regardless of stream length — the same
boundedness contract as stateful_counter_increase. Per-batch work is
vectorized (pivot + per-epoch-segment cumsum); like the counter
operator it assumes per-key in-order delivery across micro-batches at
EVENT grain (a Kafka source partitioned by series key provides this;
the whole batch is materialized and time-sorted inside, so
intra-batch Arrow chunk order is irrelevant — and minute atomicity is
NOT assumed, per the straddle handling above).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from numalogic_prometheus_spark.operators.native_histogram import EPOCH_US

_NONE = -1  # sentinel for "never emitted" / "no last minute" (c >= 0)


def stateful_nh_bucket_cums(grouped) -> DataFrame:
    """``grouped`` is ``obs.groupBy(series_key)`` over rows
    ``(event_type, m timestamp, idx long)`` — one row per observation,
    ``m`` already truncated to the scrape minute, ``idx`` the sparse
    schema-0 bucket index."""

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        if state.exists:
            idxs, cums, prevs, m_last, seq, last_epoch = state.get
            idxs = list(idxs)
            cums = list(cums)
            prevs = list(prevs)
        else:
            idxs, cums, prevs = [], [], []
            m_last, seq, last_epoch = _NONE, 0, _NONE

        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf):
            n_known = len(idxs)
            # counts matrix: scrapes (sorted) × union of known + new idxs
            cnt = (
                pdf.groupby(["m", "idx"])
                .size()
                .unstack(fill_value=0)
                .sort_index()
            )
            for i in idxs:
                if i not in cnt.columns:
                    cnt[i] = 0
            new_idxs = [int(i) for i in cnt.columns if int(i) not in idxs]
            for i in sorted(new_idxs):
                idxs.append(i)
                cums.append(0)
                prevs.append(_NONE)
            cnt = cnt[idxs]  # column order = state order
            mat = cnt.to_numpy(dtype="int64")  # [n_scrapes, n_buckets]
            scrapes = cnt.index.to_numpy()
            scrape_us = scrapes.astype("datetime64[us]").astype("int64")
            epochs = scrape_us // EPOCH_US
            straddle = m_last != _NONE and int(scrape_us[0]) == m_last
            # within-epoch cumulative with cross-batch carry-in: segment
            # ids restart the cumsum at each epoch change; the first
            # segment continues the stored cums when it continues the
            # state's epoch — a re-seen (straddled) minute is the same
            # minute, hence trivially the same epoch, and its carry-in
            # completes the partial counts already accumulated for it
            seg = np.concatenate(([0], np.cumsum(epochs[1:] != epochs[:-1])))
            c = np.cumsum(mat, axis=0)
            seg_start = np.concatenate(([True], epochs[1:] != epochs[:-1]))
            starts = np.flatnonzero(seg_start)
            prefix = np.zeros_like(mat)
            for s in starts[1:]:
                prefix[seg >= seg[s]] = c[s - 1]
            c = c - prefix
            if last_epoch != _NONE and epochs[0] == last_epoch:
                c[seg == 0] += np.asarray(cums, dtype="int64")
            # prev = previous scrape's cumulative. The first row's prev
            # comes from state: the LAST minute's cumulative when this
            # batch opens a new minute, but the minute-BEFORE-last when
            # it re-opens (completes) the straddled last minute — the
            # re-emission must compare against the true previous minute,
            # not its own partial first version.
            prev = np.empty_like(c)
            prev[1:] = c[:-1]
            if straddle:
                prev[0] = np.asarray(prevs, dtype="int64")
            elif m_last != _NONE:
                # every state bucket has emitted by m_last (dense
                # emission); buckets added THIS batch get the sentinel
                first_prev = np.asarray(cums, dtype="int64")
                first_prev[n_known:] = _NONE
                prev[0] = first_prev
            else:
                prev[0] = _NONE
            valid_prev = prev != _NONE
            # a bucket first seen at scrape t has no emissions before t:
            # rows before its first event carry no meaning and are NOT
            # emitted (mask) — and its first emitted row has NULL prev
            first_seen = np.argmax(mat > 0, axis=0)
            never = ~(mat > 0).any(axis=0)
            known_before = np.zeros(len(idxs), dtype=bool)
            known_before[:n_known] = True
            row_ix = np.arange(len(scrapes))[:, None]
            emit = known_before[None, :] | (
                ~never[None, :] & (row_ix >= first_seen[None, :])
            )
            reset = (
                valid_prev & emit & (c < prev)
            ).any(axis=1).astype("int32")
            et = key[0]
            n_s, n_b = mat.shape
            rows = pd.DataFrame(
                {
                    "event_type": et,
                    "m": np.repeat(scrapes, n_b),
                    "idx": np.tile(np.asarray(idxs, dtype="int64"), n_s),
                    "c": c.ravel(),
                    "prev_c": pd.array(
                        np.where(valid_prev, prev, 0).ravel(),
                        dtype="Int64",
                    ),
                    "reset": np.repeat(reset, n_b),
                    "seq": np.int64(seq),
                }
            )
            rows.loc[~valid_prev.ravel(), "prev_c"] = pd.NA
            rows = rows[emit.ravel()]
            yield rows
            cums = [int(x) for x in c[-1]]
            # cumulative at the minute BEFORE the new last minute — the
            # prev the last minute's re-emission would need
            prevs = [
                int(prev[-1, j]) if valid_prev[-1, j] else _NONE
                for j in range(n_b)
            ]
            m_last = int(scrape_us[-1])
            seq += 1
            last_epoch = int(epochs[-1])
        state.update((idxs, cums, prevs, m_last, seq, last_epoch))

    return grouped.applyInPandasWithState(
        update,
        outputStructType=(
            "event_type string, m timestamp, idx long, c long,"
            " prev_c long, reset integer, seq long"
        ),
        stateStructType=(
            "idxs array<long>, cums array<long>, prevs array<long>,"
            " m_last long, seq long, last_epoch long"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def latest_emissions(sink: DataFrame) -> DataFrame:
    """Last-writer-wins over the append sink: keep the max-``seq`` row
    per (series, minute, bucket) — a straddled minute's completed
    re-emission supersedes its partial first version (module
    docstring). One exchange on the dedup key over grid-sized data."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    w = W.partitionBy("event_type", "m", "idx").orderBy(F.col("seq").desc())
    return (
        sink.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "seq")
    )
