"""Streaming semantic contamination (VERDICT r11 #4): benchmark/eval
items arrive as a STREAM and probe a persistent ``_SUCCESS``-gated IVF
index of the training corpus; per-train-doc contamination updates
accumulate as idempotent per-batch deltas whose merge equals the batch
entry ``text_semantic_contamination`` (plans/text5.py) EXACTLY —
bit-identical rows, the unified-model guarantee the nh_rate and
burn-rate twins pin for their substrates, here at embedding grain.

Reference anchor: the pipeline is a continuously-fed stream
(/root/reference/CHANGELOG.md:10,90 — fetch-and-score); the serving
layout composes streaming/incremental_ann.py's persistent-index
pattern with the contamination threshold semantics.

Exactness argument (why micro-batch splits can't change the result):

* the quantizer and the train-corpus cell assignment are STATIC batch
  artifacts (built once from the corpus, ``_SUCCESS``-gated like every
  snapshot relation: sources/snapshots.py), so every micro-batch
  probes the same index bytes;
* each eval item's probed cells depend only on (its vector, the static
  centroids) — the composite argmin key is per-item, never
  per-batch — so the candidate set per eval item is split-invariant;
* per-train aggregates are sums and an (associative, exact-selection)
  max: summing per-batch partials equals the global aggregate, and
  ``round(max(...), 6)`` applied once at merge time sees the same
  IEEE double the batch plan's ``round(F.max(cos), 6)`` sees.

Crash/replay posture: the per-batch delta write is ``overwrite`` into
``delta={batch_id}`` and depends only on (batch rows, static index),
so a replayed micro-batch rewrites bit-identical content; a delta dir
without ``_SUCCESS`` (crash mid-write) is skipped by the reader and
rewritten by the replay. The merge reads committed deltas only.

100 TB: the corpus index is the expensive artifact — built once, an
N×C broadcast expansion plus one exchange, stored partitioned by cell
(the inverted-file layout; probes prune to probed cells at the scan).
Per-trigger work is |batch| × C broadcast probe distances plus exact
cosines against only the probed cells' members; delta state on disk is
O(#contaminated train docs per batch), merged by an ordinary
partial+final aggregate.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from numalogic_prometheus_spark.operators import ivf
from numalogic_prometheus_spark.operators.text import EVAL_MOD
from numalogic_prometheus_spark.sources.snapshots import (
    committed_ids,
    read_committed,
)

SEM_THRESHOLD = 0.30  # same fixture geometry as dedup_semantic_survivors:
#   synthetic embeddings are near-orthogonal, so 0.30 plays the role
#   0.9+ plays for real text embeddings; the closest candidate cosine to
#   the boundary across sf0.001/0.01/0.1 is 2.8e-6 away — far above
#   cross-engine noise (the raw values are bit-identical anyway: both
#   engines fold dot/norm left-to-right over the same doubles)

_DELTA_SCHEMA = (
    "vec_id long, n_eval_candidates long, n_eval_hits long, max_cos double"
)


def contamination_partials(probes: DataFrame, corpus: DataFrame) -> DataFrame:
    """Per train vector: probe candidates, threshold hits and the
    UNROUNDED max cosine over the probed cells' members."""
    return (
        F.broadcast(probes)
        .join(corpus, "cell")
        .select("vec_id", ivf.cosine().alias("cos"))
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).alias("n_eval_candidates"),
            F.sum(
                F.when(F.col("cos") >= SEM_THRESHOLD, 1).otherwise(0)
            ).alias("n_eval_hits"),
            F.max("cos").alias("max_cos"),
        )
    )


def flag_contaminated(train_ids: DataFrame, hits: DataFrame) -> DataFrame:
    """The entry's output shape: every train id, zero counts when never
    probed, and the contaminated flag."""
    return train_ids.join(hits, "vec_id", "left").select(
        "vec_id",
        F.coalesce("n_eval_candidates", F.lit(0)).alias("n_eval_candidates"),
        F.coalesce("n_eval_hits", F.lit(0)).alias("n_eval_hits"),
        "max_cos",
        F.when(F.coalesce("n_eval_hits", F.lit(0)) > 0, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("flagged"),
    )


def build_semantic_index(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> None:
    """Batch-side index build, the once-per-corpus artifact: the
    quantizer is the SAME deterministic slice of the FULL embeddings
    relation the batch entry uses (eval ids included — a production
    quantizer is trained on the corpus distribution and shared with the
    query side), and the train vectors (vec_id % MOD != 0) are assigned
    to argmin-key cells and stored partitioned BY cell."""
    from numalogic_prometheus_spark.sources.tables import load_table

    b = ivf.featurize(load_table(spark, sf_dir, "embeddings"))
    cents = ivf.centroids(b)
    cents.write.mode("overwrite").parquet(
        os.path.join(index_dir, "centroids")
    )
    train = b.filter(F.col("vec_id") % EVAL_MOD != 0)
    ivf.assign_cells(train, cents).write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(os.path.join(index_dir, "corpus"))


def read_corpus_index(spark: SparkSession, index_dir: str) -> DataFrame:
    df = read_committed(spark, os.path.join(index_dir, "corpus"))
    if df is None:
        raise FileNotFoundError(f"no committed corpus index in {index_dir}")
    return df.select(
        "vec_id", F.col("cell").cast("long").alias("cell"), "v", "nv"
    )


def read_centroids(spark: SparkSession, index_dir: str) -> DataFrame:
    """The committed quantizer — like the corpus, a missing or
    uncommitted (no ``_SUCCESS``) artifact is a clear FileNotFoundError,
    never a downstream NoneType crash inside foreachBatch."""
    df = read_committed(spark, os.path.join(index_dir, "centroids"))
    if df is None:
        raise FileNotFoundError(f"no committed centroids in {index_dir}")
    return df


def write_eval_stream_files(
    spark: SparkSession, sf_dir: str, stream_dir: str, n_files: int = 3
) -> None:
    """Deterministic eval-arrival fixture shared by the registered
    entry AND its tests (one copy — they must exercise the same split,
    r12 self-review finding): the eval slice lands as ``n_files``
    parquet files keyed ``vec_id % n_files`` with staggered mtimes so
    ``maxFilesPerTrigger=1`` yields one micro-batch per file in a
    deterministic order.

    Each arrival file is written BY SPARK (coalesce(1) + move), never
    through a pandas round-trip: the non-Arrow ``toPandas`` path turns
    float32 embeddings into Python floats, pyarrow then infers
    ``list<double>``, and the vectorized reader refuses DOUBLE→float
    against the declared stream schema ``array<float>`` inside
    foreachBatch (the r12 driver failure — any session without
    ``spark.sql.execution.arrow.pyspark.enabled`` hit it). The Spark
    writer carries the DataFrame schema into the file's physical types
    regardless of session confs."""
    import glob
    import shutil
    import time

    from numalogic_prometheus_spark.sources.tables import load_table

    os.makedirs(stream_dir, exist_ok=True)
    ev = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") % EVAL_MOD == 0)
    )
    tmp = stream_dir.rstrip("/") + "_spill"
    for i in range(n_files):
        ev.filter(F.col("vec_id") % n_files == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        parts = glob.glob(os.path.join(tmp, "part-*.parquet"))
        if len(parts) != 1:
            raise RuntimeError(
                f"expected one part file in {tmp}, found {len(parts)}"
            )
        path = os.path.join(stream_dir, f"e{i}.parquet")
        shutil.move(parts[0], path)
        mtime = time.time() - 300 + 60 * i
        os.utime(path, (mtime, mtime))
    shutil.rmtree(tmp, ignore_errors=True)


def make_contamination_sink(index_dir: str, result_dir: str):
    """foreachBatch handler for the EVAL stream: probe each micro-batch
    item's nprobe nearest cells against the static corpus index, score
    exact cosines on the probed cells' members only, and write this
    batch's per-train-doc partials (candidate count, hit count,
    UNROUNDED max cosine — rounding happens once, at merge) as an
    idempotent ``delta={batch_id}`` overwrite."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        feat = batch_df.transform(ivf.featurize).localCheckpoint(eager=True)
        if feat.isEmpty():
            return
        cents = read_centroids(spark, index_dir)
        probes = ivf.probe_cells(ivf.query_keys(feat, cents))
        contamination_partials(
            probes, read_corpus_index(spark, index_dir)
        ).write.mode("overwrite").parquet(
            os.path.join(result_dir, f"delta={batch_id}")
        )

    return _sink


def snapshot_contamination(
    spark: SparkSession, index_dir: str, result_dir: str, snapshot_dir: str
) -> DataFrame:
    """``read_contamination`` persisted as a parquet snapshot under
    ``snapshot_dir`` and returned as a LAZY read of that snapshot, so
    the caller can delete the index/delta scratch immediately while the
    returned relation stays valid and fully distributed. The relation
    is one row per TRAIN vector — it scales with the corpus, not the
    benchmark — so a driver-side collect here would be a driver-memory
    ceiling at larger scale factors (r12 ADVICE); the executor-side
    write has no such ceiling. ``snapshot_dir`` must outlive the
    returned DataFrame (the plan entry pins it to process lifetime via
    ``atexit``)."""
    out = read_contamination(spark, index_dir, result_dir)
    out.write.mode("overwrite").parquet(snapshot_dir)
    return spark.read.parquet(snapshot_dir)


def read_contamination(
    spark: SparkSession, index_dir: str, result_dir: str
) -> DataFrame:
    """Merge committed per-batch deltas into the batch entry's exact
    output shape: per train vector, total candidate/hit counts, the
    6-dp-rounded max cosine, and the contaminated flag — left-joined
    onto the full train id set (the corpus index), so never-probed
    docs report zeros like the batch plan's left join."""
    deltas = [
        os.path.join(result_dir, f"delta={i}")
        for i in committed_ids(result_dir, "delta=")
    ]
    if deltas:
        merged = (
            spark.read.parquet(*deltas)
            .groupBy("vec_id")
            .agg(
                F.sum("n_eval_candidates").alias("n_eval_candidates"),
                F.sum("n_eval_hits").alias("n_eval_hits"),
                F.round(F.max("max_cos"), 6).alias("max_cos"),
            )
        )
    else:
        merged = spark.createDataFrame([], _DELTA_SCHEMA)
    train_ids = read_corpus_index(spark, index_dir).select("vec_id")
    return flag_contaminated(train_ids, merged)
