"""Streaming-NATIVE verification for the streaming2 queries (VERDICT r2
next-round #9): not just the batch-twin oracle equality the driver
checks, but the stateful mechanics themselves — the stream is split into
four time-ordered files so the watermark actually advances between
micro-batches, and the assertions read the progress telemetry:

- stream-stream join: state rows are EVICTED once the watermark passes
  the event-time range bound (the 100 TB state-store guarantee — without
  eviction a day of clicks pins a day of state), and the multi-batch
  result still equals the batch range join exactly.
- streaming top-k (complete mode): state is bounded by the family
  cardinality (5 event types), never by the sample count.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from numalogic_prometheus_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def staged_stream_dir(spark, sf_dir, tmp_path_factory):
    """events split into 4 time-ordered parquet files (one per ts
    quartile), mtimes staggered so the file source replays them oldest
    first — each file becomes one micro-batch under maxFilesPerTrigger=1."""
    d = tmp_path_factory.mktemp("events_stream")
    pdf = load_table(spark, sf_dir, "events").toPandas().sort_values("ts")
    # write TIMESTAMP(MICROS): pandas defaults to ns and the parquet
    # stream source then type-mismatches the µs schema
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    n = len(pdf)
    for i in range(4):
        part = pdf.iloc[i * n // 4 : (i + 1) * n // 4]
        path = d / f"part_{i}.parquet"
        part.to_parquet(path, index=False)
        os.utime(path, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))
    return str(d)


def _read_stream(spark, staged_dir, schema):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged_dir)
    )


def _run_named(streaming_df, mode: str):
    q = (
        streaming_df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(f"native_{mode}")
        .start()
    )
    try:
        q.processAllAvailable()
        progress = list(q.recentProgress)
    finally:
        q.stop()
    spark = streaming_df.sparkSession
    out = spark.table(f"native_{mode}")
    return spark.createDataFrame(out.collect(), out.schema), progress


def test_stream_stream_join_evicts_state_and_matches_batch(spark, sf_dir, staged_stream_dir):
    batch = load_table(spark, sf_dir, "events")
    stream = _read_stream(spark, staged_stream_dir, batch.schema)

    def sides(src):
        clicks = (
            src.filter(F.col("event_type") == "click")
            .select("user_id", F.col("event_id").alias("click_id"),
                    F.col("ts").alias("click_ts"))
        )
        purchases = (
            src.filter(F.col("event_type") == "purchase")
            .select(F.col("user_id").alias("p_user_id"),
                    F.col("event_id").alias("purchase_id"),
                    F.col("ts").alias("purchase_ts"))
        )
        return clicks, purchases

    c, p = sides(stream)
    joined = (
        c.withWatermark("click_ts", "2 hours")
        .join(
            p.withWatermark("purchase_ts", "2 hours"),
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("interval 1 hour")),
        )
        .select("user_id", "click_id", "purchase_id")
    )
    got, progress = _run_named(joined, "append")

    # exactness: multi-batch streaming == batch range join
    bc, bp = sides(batch)
    want = bc.join(
        bp,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("interval 1 hour")),
    ).select("user_id", "click_id", "purchase_id")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # state mechanics: ≥4 micro-batches ran; the watermark advanced; and
    # rows were REMOVED from the join state once the watermark passed the
    # range bound — each quartile spans ~7.5 days vs a 2h watermark, so
    # retention without eviction would be a bug.
    state = [p_["stateOperators"][0] for p_ in progress if p_.get("stateOperators")]
    assert len(state) >= 4
    removed = sum(s.get("numRowsRemoved", 0) for s in state)
    assert removed > 0, "watermark never evicted join state"
    final_rows = state[-1]["numRowsTotal"]
    total_inputs = sum(p_["numInputRows"] for p_ in progress)
    assert final_rows < total_inputs, "join state retained the whole stream"
    watermarks = [
        p_["eventTime"]["watermark"]
        for p_ in progress
        if p_.get("eventTime", {}).get("watermark", "1970") > "1970"
    ]
    assert watermarks and watermarks[-1] > watermarks[0], "watermark never advanced"


def test_stream_topk_state_bounded_by_cardinality(spark, sf_dir, staged_stream_dir):
    batch = load_table(spark, sf_dir, "events")
    stream = _read_stream(spark, staged_stream_dir, batch.schema)
    agg = (
        stream.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .orderBy(F.col("n").desc(), "event_type")
        .limit(3)
    )
    got, progress = _run_named(agg, "complete")

    want = (
        batch.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .orderBy(F.col("n").desc(), "event_type")
        .limit(3)
    )
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]

    # complete-mode agg state = one row per group, NOT per sample: the
    # bounded-state property that makes streaming top-k viable at scale.
    state = [p_["stateOperators"][0] for p_ in progress if p_.get("stateOperators")]
    assert len(state) >= 4
    assert all(s["numRowsTotal"] <= 5 for s in state), [s["numRowsTotal"] for s in state]


def test_stream_counter_rate_state_bounded_and_matches_batch(spark, sf_dir, staged_stream_dir):
    """Round 5 (VERDICT r3 next-round #6): the stateful counter-reset
    increase chains state across REAL micro-batch boundaries — each of
    the 4 staged files holds one ts-quartile, so every series' counter
    crosses 3 batch boundaries — and still equals the batch
    window-function twin sample-for-sample. State stays O(#series):
    one (running, last_c, has_last) tuple per event_type, never per
    sample."""
    from numalogic_prometheus_spark.operators.counter import counter_increases
    from numalogic_prometheus_spark.streaming.stateful import (
        stateful_counter_increase,
    )

    batch = load_table(spark, sf_dir, "events")
    stream = _read_stream(spark, staged_stream_dir, batch.schema)
    got, progress = _run_named(stateful_counter_increase(stream), "append")

    want = counter_increases(batch).select("event_type", "ts", "increase")
    assert sorted(map(tuple, got.select("event_type", "ts", "increase").collect())) == \
        sorted(map(tuple, want.collect()))

    state = [p_["stateOperators"][0] for p_ in progress if p_.get("stateOperators")]
    assert len(state) >= 4, "expected one micro-batch per staged file"
    assert all(s["numRowsTotal"] <= 5 for s in state), [s["numRowsTotal"] for s in state]


def test_stream_counter_signed_cents_across_batch_boundary(spark, tmp_path):
    """A negative sample just after a micro-batch boundary: the kernel
    carries the unreduced running cent-sum between batches, so its
    counter stays the batch prefix sum mod 1000. Series "a" has cents
    [600, 600 | -700]: c = 600, 200, 500 and the increases are 200 and
    300. Carrying the sum's remainder (200) instead would give
    c = fmod(200 - 700, 1000) = -500 after the boundary. Series "b"
    stays negative throughout."""
    import pandas as pd

    from numalogic_prometheus_spark.operators.counter import counter_increases
    from numalogic_prometheus_spark.streaming.stateful import (
        stateful_counter_increase,
    )

    parts = [
        [
            ("a", "2024-01-01 00:10", 1, 6.0),
            ("a", "2024-01-01 00:20", 2, 6.0),
            ("b", "2024-01-01 00:15", 3, -2.5),
            ("b", "2024-01-01 00:25", 4, 1.0),
        ],
        [
            ("a", "2024-01-01 00:30", 5, -7.0),
            ("b", "2024-01-01 00:35", 6, -3.0),
        ],
    ]
    for i, rows in enumerate(parts):
        pdf = pd.DataFrame(rows, columns=["event_type", "ts", "event_id", "value"])
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        path = tmp_path / f"part_{i}.parquet"
        pdf.to_parquet(path, index=False)
        os.utime(path, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))

    batch = spark.read.parquet(str(tmp_path))
    stream = _read_stream(spark, str(tmp_path), batch.schema)
    got, progress = _run_named(stateful_counter_increase(stream), "append")
    assert len([p_ for p_ in progress if p_["numInputRows"]]) == 2

    want = counter_increases(batch).select("event_type", "ts", "increase")
    rows = sorted(map(tuple, got.select("event_type", "ts", "increase").collect()))
    assert rows == sorted(map(tuple, want.collect()))
    assert [r[2] for r in rows if r[0] == "a"] == [200, 300]
