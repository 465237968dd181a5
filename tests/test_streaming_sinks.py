"""Streaming sink tests: foreachBatch exposition rendering (A10, reference
numaprom/monitoring/__init__.py:16-24) and parquet sink round-trip (B11
train-sink path), plus per-batch config re-resolution (B13 hot-reload)."""

from __future__ import annotations

import tempfile

import pytest

from pyspark.sql import functions as F

from numalogic_prometheus_spark.operators import metrics as M
from numalogic_prometheus_spark.streaming import stream_events


def test_foreachbatch_exposition_sink(spark, sf_dir):
    # Each micro-batch renders Prometheus text-exposition lines — the
    # scrape-endpoint payload, produced push-style per batch.
    captured: list[str] = []

    def render(batch_df, epoch_id: int) -> None:
        counts = batch_df.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
        lines = M.exposition_lines(counts, "events_total", ["event_type"], "n")
        captured.extend(r["line"] for r in lines.orderBy("line").collect())

    q = (
        stream_events(spark, sf_dir)
        .writeStream.outputMode("append")
        .foreachBatch(render)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert captured, "no exposition lines rendered"
    assert all(line.startswith('events_total{event_type="') for line in captured)
    # deterministic ordering within a batch (exposition determinism §4.3)
    assert captured == sorted(captured)


def test_parquet_sink_roundtrip(spark, sf_dir):
    with tempfile.TemporaryDirectory() as tmp:
        agg = (
            stream_events(spark, sf_dir)
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("window.start").alias("hour"), "event_type", "n")
        )
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", f"{tmp}/out")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        written = spark.read.parquet(f"{tmp}/out")
        # append mode with watermark: only windows closed by the watermark
        # are emitted; with one file-batch the watermark never advances, so
        # 0 rows is the CORRECT semantics — the assertion is that the sink
        # commits cleanly and the schema survives the round-trip.
        assert written.schema.simpleString() == (
            "struct<hour:timestamp,event_type:string,n:bigint>"
        )


def test_foreachbatch_config_reload(spark, sf_dir):
    # B13 (CHANGELOG.md:173): per-batch re-resolution of a config relation —
    # the foreachBatch body reads the *current* spec table each tick.
    spark.createDataFrame([("error", 2.0)], "event_type string, weight double") \
        .createOrReplaceTempView("live_config")
    seen_weights: list[float] = []

    def scored_batch(batch_df, epoch_id: int) -> None:
        cfg = spark.table("live_config")  # re-read every batch
        out = batch_df.join(F.broadcast(cfg), "event_type").agg(
            F.round(F.sum(F.col("value") * F.col("weight")), 4).alias("ws")
        )
        seen_weights.append(out.collect()[0]["ws"])

    q = (
        stream_events(spark, sf_dir)
        .writeStream.outputMode("append")
        .foreachBatch(scored_batch)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert seen_weights and all(w is not None for w in seen_weights)


def test_stateful_checkpoint_restart(spark):
    """Kill + resume from checkpoint (B5 stateful scaler durability,
    reference CHANGELOG.md:456 Redis-backed preproc state): a second
    streaming query started from the SAME checkpoint must restore the
    per-key running stats, not recompute from scratch — the file source's
    checkpoint also pins which input files were already consumed, so new
    output reflecting old+new rows proves state survived the restart."""
    import tempfile

    from numalogic_prometheus_spark.streaming.stateful import (
        stateful_running_stats,
    )

    with tempfile.TemporaryDirectory() as tmp:
        data, ckpt = f"{tmp}/data", f"{tmp}/ckpt"
        schema = "key string, value double"

        def run_once(extra_rows):
            if extra_rows:
                spark.createDataFrame(extra_rows, schema).coalesce(1).write.mode(
                    "append"
                ).parquet(data)
            # foreachBatch, not the memory sink: memory does not support
            # recovering from a checkpoint (AnalysisException on restart)
            emitted: list = []

            def capture(batch_df, epoch_id: int) -> None:
                emitted.extend(batch_df.collect())

            stream = spark.readStream.schema(schema).parquet(data)
            out = stateful_running_stats(stream.groupBy("key"))
            q = (
                out.writeStream.outputMode("update")
                .foreachBatch(capture)
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            return {r["key"]: r for r in emitted}

        first = run_once([("a", 1.0), ("a", 2.0), ("b", 10.0)])
        assert first["a"]["n"] == 2 and first["a"]["mean"] == 1.5
        assert first["b"]["n"] == 1

        # restart: new query, same checkpoint, one NEW file with one row
        second = run_once([("a", 4.0)])
        # update mode emits only keys touched in the new batch; n=3 proves
        # the (2, 3.0, 5.0) state tuple was restored across the restart
        assert set(second) == {"a"}
        assert second["a"]["n"] == 3
        assert abs(second["a"]["mean"] - 7.0 / 3.0) < 1e-9


def test_exposition_http_serving_seam(spark, sf_dir):
    """A10 end-to-end (reference numaprom/monitoring/__init__.py:16-24):
    foreachBatch renders the counter family per micro-batch and an HTTP
    endpoint serves the latest scrape at /metrics."""
    import urllib.request

    from numalogic_prometheus_spark.streaming.exposition_http import (
        ExpositionServer,
    )

    server = ExpositionServer().start()
    try:
        def render(batch_df):
            counts = batch_df.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n")
            )
            return M.exposition_lines(counts, "events_total", ["event_type"], "n")

        q = (
            stream_events(spark, sf_dir)
            .writeStream.outputMode("append")
            .foreachBatch(server.foreach_batch(render))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        with urllib.request.urlopen(server.url, timeout=10) as resp:
            assert resp.headers["Content-Type"].startswith("text/plain")
            body = resp.read().decode("utf-8")
        lines = [ln for ln in body.splitlines() if ln]
        assert lines and all(
            ln.startswith('events_total{event_type="') for ln in lines
        )
        assert lines == sorted(lines)  # exposition determinism (§4.3)
    finally:
        server.stop()


def test_rate_source_drives_engine_transforms(spark):
    """The engine's transformations run unchanged over a non-file source:
    the built-in rate source feeds a windowed aggregation for a couple of
    micro-batches — the local stand-in for Kafka-shaped infinite input."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 200)
        .option("numPartitions", 2)
        .load()
    )
    agg = (
        rate.withColumn("bucket", (F.col("value") % 4).cast("int"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.max("value").alias("max_value"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("rate_buckets")
        .start()
    )
    try:
        # rate is unbounded: wait for at least one non-empty micro-batch
        import time

        for _ in range(100):
            if any(p["numInputRows"] > 0 for p in q.recentProgress):
                break
            time.sleep(0.2)
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {r["bucket"]: r for r in spark.table("rate_buckets").collect()}
    assert rows, "rate source produced no aggregated buckets"
    assert set(rows) <= {0, 1, 2, 3}


def test_foreachbatch_idempotent_replay(spark, sf_dir):
    """Exactly-once sink discipline: foreachBatch may re-deliver a batch
    after recovery, so the writer must be idempotent on (batchId). The
    sink keys its commit on batchId and skips replays — re-invoking the
    handler with an already-committed id must not change state."""
    committed: dict[int, dict] = {}

    def upsert(batch_df, epoch_id: int) -> None:
        if epoch_id in committed:  # replayed batch → no-op
            return
        counts = {
            r["event_type"]: r["n"]
            for r in batch_df.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        committed[epoch_id] = counts

    q = (
        stream_events(spark, sf_dir)
        .writeStream.outputMode("append")
        .foreachBatch(upsert)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert committed
    snapshot = {k: dict(v) for k, v in committed.items()}
    # simulate the post-recovery replay of every delivered batch
    first_id = next(iter(committed))
    class _Fake:
        def groupBy(self, *_):
            raise AssertionError("replayed batch must short-circuit")
    upsert(_Fake(), first_id)
    assert committed == snapshot


def test_available_now_trigger_drains_and_stops(spark, sf_dir):
    """Trigger.AvailableNow: process everything currently available in
    bounded micro-batches, then stop — the batch-drain mode scheduled
    backfills use (vs processAllAvailable which needs a live driver
    loop)."""
    agg = (
        stream_events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("avail_now")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive, "availableNow query must self-terminate"
    rows = {r["event_type"]: r["n"] for r in spark.table("avail_now").collect()}
    assert sum(rows.values()) > 0


def test_memory_snapshot_row_ceiling(spark, sf_dir, monkeypatch):
    """VERDICT r16 #8: the memory-sink snapshot is bounded — a
    streaming entry whose result exceeds the ceiling fails loudly
    instead of silently collecting an unbounded relation onto the
    driver."""
    import pytest

    from numalogic_prometheus_spark.streaming import runner

    agg = (
        stream_events(spark, sf_dir)
        .groupBy("event_type")
        .count()
    )
    monkeypatch.setattr(runner, "_MEMORY_SINK_ROW_CEILING", 2)
    with pytest.raises(ValueError, match="memory-sink snapshot exceeds"):
        runner.run_stream_to_memory(agg, output_mode="complete")
    # restored ceiling: same query snapshots fine
    monkeypatch.setattr(runner, "_MEMORY_SINK_ROW_CEILING", 2_000_000)
    out = runner.run_stream_to_memory(agg, output_mode="complete")
    assert out.count() > 2


def test_memory_snapshot_drops_sink_view(spark, sf_dir):
    """The memory sink registers its result as a ``mem_*`` temp view
    that outlives the stopped query; the snapshot must drop it, or every
    call keeps its sink's rows registered for the rest of the session."""
    from numalogic_prometheus_spark.streaming import runner

    def mem_views():
        return {
            t.name for t in spark.catalog.listTables()
            if t.name.startswith("mem_")
        }

    before = mem_views()
    out = runner.run_stream_to_memory(
        stream_events(spark, sf_dir).groupBy("event_type").count()
    )
    assert out.count() > 0
    assert not mem_views() - before
    # A stream that fails inside processAllAvailable leaves no view
    # either: the sink registered it when the query started.
    failing = stream_events(spark, sf_dir).select(
        F.raise_error(F.lit("boom")).alias("x")
    )
    with pytest.raises(Exception, match="boom"):
        runner.run_stream_to_memory(failing, output_mode="append")
    assert not mem_views() - before
