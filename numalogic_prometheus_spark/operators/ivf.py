"""IVF (inverted-file) ANN: the one copy of the coarse-quantizer
pipeline every IVF entry runs, batch and streaming alike.

FAISS's IVF family: assign every vector to its nearest centroid (its
"cell"), then search only the ``nprobe`` cells nearest each query. The
quantizer here is data-deterministic (every 31st vec_id), so Spark and
the DuckDB oracle derive identical cells without a trained k-means
artifact; the plan is the one a trained quantizer would run:

* ``featurize`` — ``(vec_id, v, nv)``: floats widened to double and the
  norm hoisted to a column, so the N×C expansion runs one array pass
  (the dot) per (vector, centroid) instead of re-walking both arrays;
* ``centroids`` — the quantizer ``(cent_id, cv, nc)``, always
  broadcastable (O(√N)-ish rows);
* ``cell_keys`` / ``assign_cells`` — broadcast N×C composite argmin
  keys (functions/vectors.py ``cell_argmin_key``: rounded cosine
  distance, centroid-id tiebreak) reduced by a ``min_by`` partial
  aggregate, so the only exchange carries N scalar rows;
* ``query_keys`` / ``probe_cells`` — each query's ``nprobe`` nearest
  cells, |Q|×nprobe rows that broadcast into the cell join;
* ``rerank_topk`` — exact cosine against only the probed cells'
  members, a nprobe/n_cells fraction of the corpus.

``COS_SQL`` and ``key_sql`` are the DuckDB twins of the cosine and the
argmin key, for the oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from numalogic_prometheus_spark.functions.vectors import (
    TIEBREAK_MOD,
    cell_argmin_key,
    dot_product,
    l2_norm,
    to_double_array,
)

CENTROID_FILTER = "vec_id % 31 = 0"
NPROBE = 2
TOP_K = 3

COS_SQL = (
    "list_dot_product({a}, {b})"
    " / (sqrt(list_aggregate(list_transform({a}, x -> x*x), 'sum'))"
    "    * sqrt(list_aggregate(list_transform({b}, x -> x*x), 'sum')))"
)


def key_sql(v: str) -> str:
    """DuckDB twin of ``cell_argmin_key`` for vector column ``v`` against
    the centroid relation aliased ``c``: BIGINT-exact on both engines."""
    return (
        f"round((1 - {COS_SQL.format(a=v, b='c.cv')}) * 1000000)::BIGINT"
        f" * {TIEBREAK_MOD} + c.cent_id"
    )


def featurize(df: DataFrame, *keep: str) -> DataFrame:
    """``(vec_id, embedding, …)`` → ``(vec_id, *keep, v, nv)``."""
    return df.select(
        "vec_id", *keep, to_double_array("embedding").alias("v")
    ).withColumn("nv", l2_norm("v"))


def centroids(feat: DataFrame, fallback: int = 0) -> DataFrame:
    """The quantizer: the ``CENTROID_FILTER`` slice of ``feat`` as
    ``(cent_id, cv, nc)``. With ``fallback`` > 0 an empty slice (a small
    or adversarially keyed input) is replaced by the ``fallback`` lowest
    vec_ids, still a pure function of ``feat``: an empty quantizer would
    assign no vector to any cell."""
    cents = feat.filter(F.expr(CENTROID_FILTER))
    if fallback and cents.isEmpty():
        cents = feat.orderBy("vec_id").limit(fallback)
    return cents.select(
        F.col("vec_id").alias("cent_id"),
        F.col("v").alias("cv"),
        F.col("nv").alias("nc"),
    )


def cell_keys(feat: DataFrame, cents: DataFrame) -> DataFrame:
    """The N×C expansion ``(vec_id, cent_id, key)``. The vector is
    consumed by the key and dropped before any exchange, so the
    assignment stays a hash aggregate over three scalar columns."""
    return feat.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cent_id",
        cell_argmin_key("v", "nv", "cv", "nc", "cent_id").alias("key"),
    )


def nearest_cell(keyed: DataFrame) -> DataFrame:
    """``cell_keys`` rows → ``(vec_id, cell)``: the min_by partial
    aggregate combines map-side, so the exchange carries N rows."""
    return keyed.groupBy("vec_id").agg(
        F.min_by("cent_id", "key").alias("cell")
    )


def assign_cells(feat: DataFrame, cents: DataFrame) -> DataFrame:
    """The inverted file ``(vec_id, cell, v, nv)`` over ``feat``."""
    return nearest_cell(cell_keys(feat, cents)).join(
        feat.select("vec_id", "v", "nv"), "vec_id"
    )


def query_keys(queries: DataFrame, cents: DataFrame) -> DataFrame:
    """Featurized queries × broadcast centroids →
    ``(query_id, qv, nqv, cell, key)``."""
    return (
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nv").alias("nqv"),
        )
        .crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "qv",
            "nqv",
            F.col("cent_id").alias("cell"),
            cell_argmin_key("qv", "nqv", "cv", "nc", "cent_id").alias("key"),
        )
    )


def probe_cells(keyed: DataFrame) -> DataFrame:
    """Keep each query's ``NPROBE`` lowest-key rows of ``keyed``
    (``query_keys`` output, or any ``(query_id, cell, key, …)``
    relation) and drop the key."""
    w = W.partitionBy("query_id").orderBy("key")
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= NPROBE)
        .drop("rn", "key")
    )


def cosine() -> Column:
    """Exact cosine of a probe row ``(qv, nqv)`` against a cell member
    ``(v, nv)``."""
    return dot_product("qv", "v") / (F.col("nqv") * F.col("nv"))


def rerank_topk(
    probes: DataFrame, index: DataFrame, queries_from_index: bool = False
) -> DataFrame:
    """Top-``TOP_K`` ``(query_id, neighbor_id, cos_sim, rn)`` by exact
    cosine (rounded to 6 dp before ranking, ties by neighbor id) over
    the members of each query's probed cells. ``queries_from_index``
    marks the batch entries, whose queries are a slice of the index:
    the query itself is dropped from its candidates, and ``rn`` is cast
    to BIGINT to match their oracles' ``row_number``."""
    cands = F.broadcast(probes).join(index, "cell")
    if queries_from_index:
        cands = cands.filter(F.col("vec_id") != F.col("query_id"))
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), "neighbor_id"
    )
    rn = F.row_number().over(w)
    return (
        cands.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(), 6).alias("cos_sim"),
        )
        .withColumn("rn", rn.cast("long") if queries_from_index else rn)
        .filter(F.col("rn") <= TOP_K)
    )
