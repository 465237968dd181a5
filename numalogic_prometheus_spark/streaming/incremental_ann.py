"""Streaming incremental ANN: foreachBatch serving against a persistent
IVF index.

The streaming realization of ``vec_ann_incremental_batch``
(plans/vectors4.py) and the ANN twin of the incremental-dedup sink
(streaming/incremental_dedup.py — reference anchor: the pipeline is a
continuously-fed stream, /root/reference/CHANGELOG.md:10,90): each
micro-batch of newly ingested embeddings is served top-k neighbors from
the index built over PRIOR batches — never against the accumulated
corpus as a whole and never against itself — then appended to the index
as a new snapshot.

Index layout, ``{index_dir}/``:

* ``centroids/`` — the coarse quantizer, written ONCE by the first
  non-empty batch (the operators/ivf.py slice of that batch, so a
  replay rewrites bit-identical content; a trained k-means artifact
  would slot in here unchanged). ``_SUCCESS``-gated like every other
  snapshot relation (sources/snapshots.py).
* ``snap={batch_id}/`` — the accumulated ``(vec_id, cell, v, nv)``
  assignment relation, PARTITIONED BY ``cell``: the inverted-file
  layout itself, so a probe reading ``cell IN (...)`` prunes to the
  probed partitions at the scan (FAISS's inverted lists, expressed as
  a parquet partition scheme). A snap dir without ``_SUCCESS`` (crash
  mid-write) is skipped, so a partial snapshot can never serve.

Per-trigger work is |batch|×C probe distances (C centroids, broadcast)
plus an exact re-rank over the probed cells' members only. The
foreachBatch sink is EXACTLY idempotent on batch_id: it reads the
newest committed snapshot with id strictly below its own batch_id, so
a replayed batch serves from the same pre-batch index its first
delivery saw and rewrites bit-identical results and snapshot — it can
never read (or race the overwrite of) its own output. The snapshot
merge is a union + drop-duplicates-by-vec_id (append-only corpus), so
the merge is order-insensitive and idempotent like the dedup sink's
min-merge; a production deployment would write per-batch deltas and
compact, which is the same union shape run less often.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from numalogic_prometheus_spark.operators import ivf
from numalogic_prometheus_spark.sources.snapshots import (
    latest_committed,
    read_committed,
)

_INDEX_SCHEMA = "vec_id long, cell long, v array<double>, nv double"
_FALLBACK_CENTROIDS = 8  # quantizer size when the id-slice misses the batch


def read_index(
    spark: SparkSession, index_dir: str, before: int | None = None
) -> DataFrame:
    """Latest committed assignment snapshot (id < ``before`` when given),
    or an empty frame with the index schema. The partition column
    ``cell`` is restored to a long (partitionBy writes it as a
    discovered partition column)."""
    snap = latest_committed(index_dir, "snap=", before=before)
    if snap is None:
        return spark.createDataFrame([], _INDEX_SCHEMA)
    df = spark.read.parquet(snap)
    return df.select(
        "vec_id", F.col("cell").cast("long").alias("cell"), "v", "nv"
    )


def read_centroids(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """The committed quantizer, or None before the first batch landed."""
    return read_committed(spark, os.path.join(index_dir, "centroids"))


def make_incremental_ann_sink(index_dir: str, result_dir: str):
    """foreachBatch handler: serve top-k neighbors for the micro-batch
    from the pre-batch index, then append the batch to a new snapshot.
    Bind with ``.writeStream.foreachBatch(...)``."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        feat = batch_df.transform(ivf.featurize).localCheckpoint(eager=True)
        if feat.isEmpty():
            # Empty micro-batch (common for batch 0 of file/rate
            # sources): commit NOTHING — in particular not the
            # quantizer, which would otherwise pin an empty centroid
            # set under _SUCCESS forever. The next non-empty batch
            # defines it instead.
            return
        cents = read_centroids(spark, index_dir)
        if cents is None:
            # First committed NON-EMPTY batch defines the quantizer.
            # Deterministic from the batch (id-slice, or lowest-id
            # fallback), so a replay rewrites identical content, and
            # non-empty by construction here.
            ivf.centroids(feat, _FALLBACK_CENTROIDS).write.mode(
                "overwrite"
            ).parquet(os.path.join(index_dir, "centroids"))
            cents = read_centroids(spark, index_dir)
        index = read_index(spark, index_dir, before=batch_id)
        probes = ivf.probe_cells(ivf.query_keys(feat, cents))
        ivf.rerank_topk(probes, index).write.mode("overwrite").parquet(
            os.path.join(result_dir, f"batch={batch_id}")
        )
        merged = (
            index.unionByName(ivf.assign_cells(feat, cents))
            .dropDuplicates(["vec_id"])
        )
        merged.write.mode("overwrite").partitionBy("cell").parquet(
            os.path.join(index_dir, f"snap={batch_id}")
        )

    return _sink
