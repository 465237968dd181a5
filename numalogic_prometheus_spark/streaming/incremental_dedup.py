"""Streaming incremental dedup: foreachBatch against a persistent index.

The streaming realization of ``dedup_incremental_batch`` (plans/text.py —
reference anchor: dedup-of-seen is pipeline stage B3,
/root/reference/CHANGELOG.md:189,530): each micro-batch of newly ingested
documents is checked against a *persistent* canonical band index — never
against the accumulated corpus — then the index is min-merged with the
batch's own bands and written as a new parquet snapshot.

Index layout: ``{index_dir}/snap={batch_id}/`` parquet snapshots of
``(band_key, canon, toks)`` where ``canon`` is the smallest doc_id seen
for the band and ``toks`` its hashed-token set (kept so the exact-Jaccard
verification of later arrivals needs no corpus lookback). ``read_index``
reads the newest snapshot that finished committing — a directory without
its ``_SUCCESS`` marker (a crash mid-write) is skipped, so a partial
snapshot can never become the authoritative index.

Verdict semantics are dedup-of-SEEN: a batch doc whose band is already
indexed is verified against the indexed canonical — even when the
arriving doc_id is smaller — so content that was already ingested is
always reported ``duplicate`` with ``dup_of`` pointing at the first-seen
cluster. Bands with no index hit resolve within the batch to the
smallest doc_id. Under monotone ingest ids (the production case) this is
exactly the batch entry's global-min verdict; under out-of-order ids the
batch entry would instead crown the late smaller id, which a stream that
has already emitted verdicts cannot retroactively do. The INDEX still
min-merges (the smaller id takes over as canon), keeping the merge
re-aggregable — order-insensitive and idempotent, property-tested in
tests/test_properties.py.

100 TB shape: per-trigger work is new×broadcast(index), the snapshot
write is an overwrite of a bounded relation, and the min-merge is
re-aggregable — compaction across snapshots is the same
``groupBy(band_key).min(struct(canon, toks))``. The foreachBatch writer
is EXACTLY idempotent on batch_id: the sink reads the newest committed
snapshot with id strictly below its own batch_id, so a replayed batch
consumes the same pre-batch index its first delivery consumed and
rewrites bit-identical verdicts and snapshot — it can never read (or
race the overwrite of) its own output.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from numalogic_prometheus_spark.operators import dedup as D
from numalogic_prometheus_spark.sources.snapshots import latest_committed

# shared with the batch dedup plans and the cluster-keyed split — see
# operators/dedup.py NEARDUP_JACCARD
_JACCARD_THRESHOLD = D.NEARDUP_JACCARD
_INDEX_SCHEMA = "band_key string, canon bigint, toks array<int>"


def featurize_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, band_key, toks) via the SAME shared
    featurization as the batch entry (operators/dedup.py
    minhash_band_features, k=8) — tokenizer/hash/k live in one place."""
    feat = D.minhash_band_features(docs, k=8, cut=False)
    return feat.select(
        "doc_id", D.single_band_key(F.col("sig"), k=8).alias("band_key"), "toks"
    )


def read_index(
    spark: SparkSession, index_dir: str, before: int | None = None
) -> DataFrame:
    """Latest committed index snapshot (with id < ``before`` when given —
    the sink passes its batch_id so a REPLAYED batch reads exactly the
    snapshot its first delivery read, never its own output), or an empty
    frame with the index schema."""
    snap = latest_committed(index_dir, "snap=", before=before)
    if snap is None:
        return spark.createDataFrame([], _INDEX_SCHEMA)
    return spark.read.parquet(snap)


def merge_index(index: DataFrame, batch_feat: DataFrame) -> DataFrame:
    """Min-merge batch bands into the index. ``min(struct(canon, toks))``
    orders on canon first (struct ordering is field-lexicographic), so
    the canonical doc's token set travels with its id — the same
    re-aggregable merge a cross-snapshot compaction runs."""
    batch_bands = batch_feat.select(
        "band_key", F.col("doc_id").alias("canon"), "toks"
    )
    return (
        index.unionByName(batch_bands)
        .groupBy("band_key")
        .agg(F.min(F.struct("canon", "toks")).alias("c"))
        .select("band_key", F.col("c.canon").alias("canon"),
                F.col("c.toks").alias("toks"))
    )


def batch_verdicts(batch_feat: DataFrame, index: DataFrame) -> DataFrame:
    """One verdict row per batch doc, dedup-of-seen probe order: the
    PRE-merge indexed canonical wins over the within-batch minimum, so an
    out-of-order smaller doc_id arriving after its content was indexed is
    still reported duplicate-of the first-seen canonical (it would
    otherwise crown itself and the pair would vanish). Bands absent from
    the index fall back to the within-batch min-id canonical. Both sides
    of the probe are broadcast: the index is ≤ #buckets rows and the
    per-band batch minima are ≤ one row per batch doc."""
    batch_canon = (
        batch_feat.groupBy("band_key")
        .agg(F.min(F.struct(F.col("doc_id"), F.col("toks"))).alias("b"))
        .select(
            "band_key",
            F.col("b.doc_id").alias("__bcanon"),
            F.col("b.toks").alias("__btoks"),
        )
    )
    idx = index.select(
        "band_key",
        F.col("canon").alias("__icanon"),
        F.col("toks").alias("__itoks"),
    )
    probe = batch_feat.join(F.broadcast(idx), "band_key", "left").join(
        F.broadcast(batch_canon), "band_key"
    )
    canon = F.coalesce(F.col("__icanon"), F.col("__bcanon"))
    ctoks = F.coalesce(F.col("__itoks"), F.col("__btoks"))
    inter = F.size(F.array_intersect(F.col("toks"), ctoks)).cast("double")
    jac = inter / (F.size("toks") + F.size(ctoks) - inter)
    scored = probe.select(
        "doc_id",
        canon.alias("__canon"),
        F.when(canon != F.col("doc_id"), jac).alias("jaccard"),
    )
    dup = F.col("jaccard") >= _JACCARD_THRESHOLD
    return scored.select(
        "doc_id",
        F.when(dup, F.lit("duplicate")).otherwise(F.lit("new")).alias(
            "verdict"
        ),
        F.when(dup, F.col("__canon")).alias("dup_of"),
        F.when(dup, F.round("jaccard", 6)).alias("jaccard"),
    )


def make_incremental_dedup_sink(index_dir: str, verdict_dir: str):
    """foreachBatch handler: verdicts written per batch (overwrite of the
    batch's own partition keeps replays idempotent), index snapshot
    written per batch. Bind with ``.writeStream.foreachBatch(...)``."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # One bounded materialization: the verdict probe, the batch-min
        # aggregate, and the index merge all consume feat.
        feat = batch_df.transform(featurize_docs).localCheckpoint(eager=True)
        # before=batch_id makes replay exact: a re-delivered batch reads
        # the SAME pre-batch snapshot its first delivery read (never its
        # own snap={batch_id} output), so verdicts and the rewritten
        # snapshot are bit-identical — and the overwrite below never
        # scans the files it replaces (reading one's own snapshot while
        # overwriting it races file deletion against the scan; observed
        # failing with AQE disabled).
        index = read_index(spark, index_dir, before=batch_id)
        batch_verdicts(feat, index).write.mode("overwrite").parquet(
            os.path.join(verdict_dir, f"batch={batch_id}")
        )
        merge_index(index, feat).write.mode("overwrite").parquet(
            os.path.join(index_dir, f"snap={batch_id}")
        )

    return _sink
