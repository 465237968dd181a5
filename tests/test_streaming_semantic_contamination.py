"""Streaming semantic contamination (round 12, VERDICT r11 #4): the
eval stream probes a persistent IVF index of the training corpus and
the merged per-batch deltas must equal the BATCH entry
text_semantic_contamination bit-exactly — plus the serving layer's
durability contract: kill + checkpoint-restart determinism, replay
idempotency of a delivered micro-batch, and crash-mid-write deltas
(no ``_SUCCESS``) being invisible to the reader and healed by replay.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from numalogic_prometheus_spark import plans
from numalogic_prometheus_spark.streaming.semantic_contamination import (
    build_semantic_index,
    make_contamination_sink,
    read_contamination,
    write_eval_stream_files,
)

QUERIES = plans.all_queries()


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def _eval_items(spark, sf_dir):
    from numalogic_prometheus_spark.operators.text import EVAL_MOD
    from numalogic_prometheus_spark.sources.tables import load_table

    return (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") % EVAL_MOD == 0)
    )


# arrival fixture is the SHARED writer (write_eval_stream_files), so the
# tests exercise the exact split/ordering the registered entry streams


def _drive(spark, stream_dir, index_dir, result_dir, ckpt, glob="*"):
    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", glob)
        .parquet(stream_dir)
    )
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(make_contamination_sink(index_dir, result_dir))
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_arrival_fixture_physical_type_is_float32(spark, sf_dir, tmp_path):
    """The r12 driver failure: the eval-arrival files were written via a
    pandas round-trip whose NON-Arrow path upcast float32 embeddings to
    ``list<double>``, and the vectorized reader refused DOUBLE→float
    against the declared stream schema ``array<float>`` — but only in a
    session without the engine's Arrow conf (the driver's). The writer
    now writes with Spark, so the file's physical type must be FLOAT
    regardless of any session conf; pin it at the parquet layer where
    no session is involved at all."""
    import pyarrow.parquet as pq

    stream_dir = str(tmp_path / "incoming")
    write_eval_stream_files(spark, sf_dir, stream_dir)
    files = sorted(os.listdir(stream_dir))
    assert files == ["e0.parquet", "e1.parquet", "e2.parquet"]
    for f in files:
        schema = pq.read_schema(os.path.join(stream_dir, f))
        emb = schema.field("embedding").type
        assert str(emb.value_type) == "float", (
            f"{f}: embedding physical type {emb} — the declared stream "
            "schema array<float> would refuse this file"
        )
    # and the mtime stagger that makes maxFilesPerTrigger=1 deterministic
    mtimes = [os.path.getmtime(os.path.join(stream_dir, f)) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3


def test_registered_entry_matches_batch_exactly(spark, sf_dir):
    got = _rows(QUERIES["stream_semantic_contamination"](spark, sf_dir))
    want = _rows(QUERIES["text_semantic_contamination"](spark, sf_dir))
    assert got == want  # bit-exact: counts, 6-dp max_cos doubles, flags


def test_kill_restart_determinism(spark, sf_dir, tmp_path):
    """First run sees only eval file 0, then the query is killed; a
    second query resumed from the SAME checkpoint (glob widened so the
    file log replays nothing) processes the remaining files. The merged
    result must still equal the batch entry exactly — per-batch deltas
    survive independently of the query lifecycle."""
    index_dir = str(tmp_path / "index")
    result_dir = str(tmp_path / "results")
    stream_dir = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    build_semantic_index(spark, sf_dir, index_dir)
    write_eval_stream_files(spark, sf_dir, stream_dir)

    _drive(spark, stream_dir, index_dir, result_dir, ckpt, glob="e0.parquet")
    n_after_kill = len(
        [d for d in os.listdir(result_dir) if d.startswith("delta=")]
    )
    assert n_after_kill >= 1

    _drive(spark, stream_dir, index_dir, result_dir, ckpt, glob="*")
    got = _rows(read_contamination(spark, index_dir, result_dir))
    want = _rows(QUERIES["text_semantic_contamination"](spark, sf_dir))
    assert got == want


def test_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Re-delivering a processed micro-batch through the sink (what a
    recovery replay does) rewrites bit-identical delta content: the
    delta is a pure function of (batch rows, static index)."""
    index_dir = str(tmp_path / "index")
    result_dir = str(tmp_path / "results")
    build_semantic_index(spark, sf_dir, index_dir)
    ev = _eval_items(spark, sf_dir)
    batch0 = ev.filter(F.col("vec_id") % 3 == 0)
    sink = make_contamination_sink(index_dir, result_dir)
    sink(batch0, 0)
    before = _rows(spark.read.parquet(f"{result_dir}/delta=0"))
    assert before
    sink(batch0, 0)  # replay
    assert _rows(spark.read.parquet(f"{result_dir}/delta=0")) == before


def test_uncommitted_delta_is_invisible_and_healed(spark, sf_dir, tmp_path):
    """A crash mid-write leaves a delta dir without ``_SUCCESS``: the
    reader must skip it (a partial delta can never contaminate the
    merge), and the replayed batch heals it in place."""
    index_dir = str(tmp_path / "index")
    result_dir = str(tmp_path / "results")
    build_semantic_index(spark, sf_dir, index_dir)
    ev = _eval_items(spark, sf_dir)
    sink = make_contamination_sink(index_dir, result_dir)
    for i in range(3):
        sink(ev.filter(F.col("vec_id") % 3 == i), i)
    full = _rows(read_contamination(spark, index_dir, result_dir))

    # simulate the crash: delta=1 loses its _SUCCESS marker
    os.remove(os.path.join(result_dir, "delta=1", "_SUCCESS"))
    partial = _rows(read_contamination(spark, index_dir, result_dir))
    assert partial != full  # batch 1's contribution is really gone
    # every train doc still reports (zeros for never-probed) — the
    # reader degraded, it didn't explode
    assert len(partial) == len(full)

    # replay heals: the rewrite commits the same content
    sink(ev.filter(F.col("vec_id") % 3 == 1), 1)
    assert _rows(read_contamination(spark, index_dir, result_dir)) == full

    # and a fully absent results dir yields all-zero rows, not an error
    shutil.rmtree(result_dir)
    empty = read_contamination(spark, index_dir, result_dir)
    assert empty.filter(F.col("flagged") != 0).count() == 0
