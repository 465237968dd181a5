"""stream_native_histogram_rate (plans/streaming2.py; VERDICT r10 #4):
the streaming twin must reproduce the batch native-histogram rate
EXACTLY — same rows, same bit-identical doubles — on replayed testdata,
across multiple micro-batches, and across a kill + checkpoint restart.
"""

from __future__ import annotations

from numalogic_prometheus_spark.plans import all_queries

QUERIES = all_queries()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_stream_matches_batch_exactly(spark, sf_dir):
    """Unified-model guarantee at histogram grain: driving the file
    stream to completion yields the batch entry's exact result."""
    stream = QUERIES["stream_native_histogram_rate"](spark, sf_dir)
    batch = QUERIES["promql_native_histogram_rate"](spark, sf_dir)
    s, b = _rows(stream), _rows(batch)
    assert len(s) > 0
    assert s == b


def _split_events(spark, sf_dir, out_dir: str, n_files: int = 3) -> None:
    """Re-lay events as n time-ordered FLAT part files (chunk_0.parquet,
    chunk_1.parquet, …) so maxFilesPerTrigger=1 replays them as n
    micro-batches in scrape order (the per-key in-order contract a
    series-partitioned Kafka source provides). Timestamps go through
    load_table first so the chunks carry canonical µs timestamps, not
    the raw TIMESTAMP(NANOS) encoding. (The testdata has one event per
    (series, minute), so these boundaries never straddle a minute —
    the straddle path has its own crafted fixture below.)"""
    import glob
    import os
    import shutil
    import time

    from numalogic_prometheus_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").orderBy("ts", "event_id")
    chunks = ev.collect()
    schema = ev.schema
    per = (len(chunks) + n_files - 1) // n_files
    dest = f"{out_dir}/events.parquet"
    os.makedirs(dest, exist_ok=True)
    for i in range(n_files):
        part = chunks[i * per : (i + 1) * per]
        if not part:
            continue
        staged = f"{out_dir}/_stage_{i}"
        spark.createDataFrame(part, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staged)
        (src,) = glob.glob(f"{staged}/part-*.parquet")
        shutil.move(src, f"{dest}/chunk_{i}.parquet")
        shutil.rmtree(staged)
        time.sleep(0.05)  # distinct modTimes keep source order stable


def test_multibatch_chaining_matches_batch(spark, tmp_path):
    """State chains across micro-batches: three time-split files
    replayed one per trigger must still equal the batch result over the
    union — cumulative counters, epoch resets and prev/reset flags all
    survive the batch boundaries."""
    sf_small = "/root/testdata/sf0.001"
    _split_events(spark, sf_small, str(tmp_path))
    stream = QUERIES["stream_native_histogram_rate"](spark, str(tmp_path))
    batch = QUERIES["promql_native_histogram_rate"](spark, str(tmp_path))
    s, b = _rows(stream), _rows(batch)
    assert len(s) > 0
    assert s == b


def _write_chunks(spark, out_dir: str, chunks: list[list]) -> None:
    """Write each row list as one flat chunk_i.parquet under
    out_dir/events.parquet (modTime-ordered for the file source)."""
    import glob
    import os
    import shutil
    import time

    dest = f"{out_dir}/events.parquet"
    os.makedirs(dest, exist_ok=True)
    for i, part in enumerate(chunks):
        staged = f"{out_dir}/_stage_{i}"
        spark.createDataFrame(
            part, "event_type string, ts timestamp, event_id long,"
            " value double"
        ).coalesce(1).write.mode("overwrite").parquet(staged)
        (src,) = glob.glob(f"{staged}/part-*.parquet")
        shutil.move(src, f"{dest}/chunk_{i}.parquet")
        shutil.rmtree(staged)
        time.sleep(0.05)


def _straddle_chunks() -> list[list]:
    """Crafted micro-batch boundaries INSIDE scrape minutes (testdata
    has one event per (series, minute), so straddles must be planted).
    Chunk 0 ends mid-minute 05:05 — the FIRST scrape of the 05:00
    window (a partial + completed pair would both feed the m == first_m
    sum); chunk 2 ends mid-minute 06:05 — the RESET scrape right after
    the 06:00 epoch boundary (the prev_c correction would double)."""
    from datetime import datetime

    def ev(h, m, eid, v):
        return ("svc", datetime(2024, 1, 1, h, m), eid, v)

    return [
        [ev(5, 5, 1, 1.5), ev(5, 5, 2, 3.0)],
        [ev(5, 5, 3, 1.5), ev(5, 5, 4, 3.0),
         ev(5, 15, 5, 1.5), ev(5, 15, 6, 1.5)],
        [ev(5, 25, 7, 3.0), ev(5, 25, 8, 3.0), ev(5, 25, 9, 1.5),
         ev(6, 5, 10, 1.5)],
        [ev(6, 5, 11, 3.0), ev(6, 5, 12, 1.5),
         ev(6, 15, 13, 1.5), ev(6, 25, 14, 3.0), ev(6, 25, 15, 1.5)],
    ]


def test_multibatch_straddled_minute(spark, tmp_path):
    """r11 review fix: the closing batch saw only part of a minute; the
    next batch re-emits it completed with a higher seq, and the
    last-writer-wins dedup makes the rollup exact (fixture:
    _straddle_chunks)."""
    _write_chunks(spark, str(tmp_path), _straddle_chunks())

    stream = QUERIES["stream_native_histogram_rate"](spark, str(tmp_path))
    batch = QUERIES["promql_native_histogram_rate"](spark, str(tmp_path))
    s, b = _rows(stream), _rows(batch)
    assert len(s) > 0
    assert s == b

    # prove the straddle was exercised AND that the dedup is what
    # saves it: drive the stateful operator directly, check the sink
    # holds superseded duplicates, and that skipping latest_emissions
    # reproduces the old divergence
    from numalogic_prometheus_spark.operators.native_histogram import (
        deltas_from_cum,
        observations,
        rate_finalize,
    )
    from numalogic_prometheus_spark.streaming import (
        run_stream_to_memory,
        stream_events,
    )
    from numalogic_prometheus_spark.streaming.nh_rate import (
        stateful_nh_bucket_cums,
    )

    obs = observations(stream_events(spark, str(tmp_path)))
    sink = run_stream_to_memory(
        stateful_nh_bucket_cums(obs.groupBy("event_type")), "append"
    )
    dups = (
        sink.groupBy("event_type", "m", "idx")
        .count()
        .filter("count > 1")
        .count()
    )
    assert dups > 0, "fixture did not exercise the straddle re-emission"
    raw = _rows(rate_finalize(deltas_from_cum(sink.drop("seq"))))
    assert raw != b, "dedup-free rollup should diverge on this fixture"


def test_kill_restart_determinism(spark, tmp_path):
    """Kill + resume from checkpoint: a second query started from the
    SAME checkpoint restores the per-series bucket arrays (not
    recompute-from-scratch), and the union of appended outputs across
    the restart still finalizes to the batch entry's exact result.
    Chunk files are split mid-minute, so the restart boundary is ALSO a
    straddle boundary: state (including the previous-minute snapshot
    and the seq ordinal) must survive the checkpoint for the completed
    re-emission to supersede the pre-kill partial row."""
    from numalogic_prometheus_spark.operators.native_histogram import (
        deltas_from_cum,
        observations,
        rate_finalize,
    )
    from numalogic_prometheus_spark.streaming.nh_rate import (
        latest_emissions,
        stateful_nh_bucket_cums,
    )

    data = str(tmp_path / "data")
    ckpt = str(tmp_path / "ckpt")
    _write_chunks(spark, data, _straddle_chunks())
    src = f"{data}/events.parquet"
    schema = spark.read.parquet(src).schema
    emitted: list = []

    def run_once(path_glob: str) -> None:
        def capture(batch_df, epoch_id: int) -> None:
            emitted.extend(batch_df.collect())

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("pathGlobFilter", path_glob)
            .parquet(src)
        )
        from numalogic_prometheus_spark.sources.tables import (
            normalize_event_time,
        )

        obs = observations(normalize_event_time(stream))
        out = stateful_nh_bucket_cums(obs.groupBy("event_type"))
        q = (
            out.writeStream.outputMode("append")
            .foreachBatch(capture)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    # first run sees only chunk 0 — which ends MID-minute 05:05, so
    # the kill happens with a partial scrape minute emitted and its
    # completion owed from restored state; the glob widens on restart
    # so the checkpoint's file log replays nothing and picks up the
    # remaining chunks
    run_once("chunk_0.parquet")
    n_first = len(emitted)
    assert n_first > 0
    run_once("*")
    assert len(emitted) > n_first

    cum = spark.createDataFrame(
        emitted,
        "event_type string, m timestamp, idx long, c long,"
        " prev_c long, reset integer, seq long",
    )
    got = _rows(rate_finalize(deltas_from_cum(latest_emissions(cum))))
    want = _rows(QUERIES["promql_native_histogram_rate"](spark, data))
    assert got == want


def test_new_bucket_at_reset_boundary_split(spark, tmp_path):
    """r17 regression (hypothesis split-invariance find): a bucket whose
    FIRST-ever emission lands on an epoch-boundary scrape where ANOTHER
    bucket's drop sets the series-level reset flag, with a micro-batch
    split right before that scrape. The new bucket's row carries
    prev_c = NULL + reset = 1; the rollup's reset-correction sum must
    treat the missing previous cumulative as 0 mass, not let the NULL
    poison the group sum and silently drop the bucket's delta."""
    from datetime import datetime

    def ev(h, m, eid, v):
        return ("svc", datetime(2024, 1, 1, h, m), eid, v)

    # scrapes 05:00 (idx-a only), 07:08 (idx-a), then 07:30 — exactly
    # on the 90-min epoch grid — where idx-b (value 3.0) first appears
    # and idx-a's cumulative drops to 0 (reset). Chunk split isolates
    # 07:30 in its own micro-batch, so idx-b enters state there.
    chunks = [
        [ev(5, 0, 1, 1.5), ev(5, 0, 2, 1.5), ev(7, 8, 3, 1.5)],
        [ev(7, 30, 4, 3.0)],
    ]
    data = str(tmp_path)
    _write_chunks(spark, data, chunks)
    stream = QUERIES["stream_native_histogram_rate"](spark, data)
    batch = QUERIES["promql_native_histogram_rate"](spark, data)
    s, b = _rows(stream), _rows(batch)
    # the new bucket's hour-07 delta of 1 must survive on BOTH sides
    assert len(s) == 1 and s[0][4] == 1
    assert s == b
