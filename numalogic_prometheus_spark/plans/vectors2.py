"""Vector search, batch 2 — IVF (inverted-file) ANN, cosine range
search and the recall-tuned OR-of-bands ANN over `embeddings`
([north-star]: similarity search with an explicit scale path beyond LSH
sign-bucketing). The IVF pipeline and its 100 TB notes live in
operators/ivf.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from numalogic_prometheus_spark.functions.vectors import (
    cosine_similarity,
    to_double_array,
)
from numalogic_prometheus_spark.operators import ivf
from numalogic_prometheus_spark.plans import register
from numalogic_prometheus_spark.plans.vectors import _QUERY_FILTER, _banded_topk
from numalogic_prometheus_spark.sources.tables import load_table, load_table_spread


@register(
    "vec_ivf_topk",
    oracle=f"""
    WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cents AS (SELECT vec_id AS cent_id, v AS cv FROM b
              WHERE {ivf.CENTROID_FILTER}),
    keyed AS (
        SELECT b.vec_id, c.cent_id, {ivf.key_sql('b.v')} AS key
        FROM b CROSS JOIN cents c
    ),
    assign AS (SELECT vec_id, arg_min(cent_id, key) AS cell
               FROM keyed GROUP BY vec_id),
    probes AS (
        SELECT vec_id AS query_id, cent_id AS cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY key) AS rn
        FROM keyed WHERE {_QUERY_FILTER}
    ),
    cands AS (
        SELECT p.query_id, a.vec_id AS neighbor_id
        FROM probes p JOIN assign a ON a.cell = p.cell
        WHERE p.rn <= 2 AND a.vec_id != p.query_id
    ),
    scored AS (
        SELECT cd.query_id, cd.neighbor_id,
               round({ivf.COS_SQL.format(a='qv.v', b='nv.v')}, 6) AS cos_sim
        FROM cands cd
        JOIN b qv ON qv.vec_id = cd.query_id
        JOIN b nv ON nv.vec_id = cd.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, rn FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS rn
        FROM scored
    ) WHERE rn <= 3
    """,
)
def vec_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN, nprobe=2, top-3 (operators/ivf.py): broadcast centroids →
    map-side distance keys → min_by partial-agg assignment (one N-row
    shuffle) → probe the 2 nearest cells per query → exact cosine
    re-rank of in-cell candidates only."""
    b = ivf.featurize(load_table_spread(spark, sf_dir, "embeddings", "vec_id"))
    cents = ivf.centroids(b)
    probes = ivf.probe_cells(
        ivf.query_keys(b.filter(F.expr(_QUERY_FILTER)), cents)
    )
    return ivf.rerank_topk(
        probes, ivf.assign_cells(b, cents), queries_from_index=True
    )


@register(
    "vec_range_search",
    oracle=f"""
    WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM b WHERE {_QUERY_FILTER})
    SELECT q.query_id, e.vec_id AS neighbor_id,
           round({ivf.COS_SQL.format(a='q.qv', b='e.v')}, 6) AS cos_sim
    FROM q CROSS JOIN b e
    WHERE e.vec_id != q.query_id
      AND round({ivf.COS_SQL.format(a='q.qv', b='e.v')}, 6) >= 0.8
    """,
)
def vec_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine range search (all neighbors with sim ≥ 0.8, not top-k):
    the query set broadcasts, the corpus streams map-side — no shuffle
    at all. The threshold compares the ROUNDED similarity so boundary
    rows resolve identically in both engines."""
    e = load_table(spark, sf_dir, "embeddings")
    b = e.select("vec_id", to_double_array("embedding").alias("v"))
    q = b.filter(F.expr(_QUERY_FILTER)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    sim = F.round(cosine_similarity("qv", "v"), 6)
    return (
        F.broadcast(q)
        .crossJoin(b)
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos_sim", sim)
        .filter(F.col("cos_sim") >= 0.8)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cos_sim")
    )


@register(
    "vec_ann_tuned_topk",
    oracle=f"""
    WITH b AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    banded AS (
        SELECT vec_id, v, band_idx,
               list_aggregate(list_transform(range(0, 6),
                   i -> CASE WHEN v[band_idx * 6 + i + 1] > 0
                             THEN (1::BIGINT << i) ELSE 0 END), 'sum') AS band_key
        FROM b, (VALUES (0),(1),(2),(3),(4),(5),(6),(7),(8),(9)) bands(band_idx)
    ),
    q AS (SELECT vec_id AS query_id, band_idx, band_key
          FROM banded WHERE {_QUERY_FILTER}),
    cands AS (
        SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
        FROM q JOIN banded c
          ON c.band_idx = q.band_idx AND c.band_key = q.band_key
         AND c.vec_id != q.query_id
    ),
    scored AS (
        SELECT cd.query_id, cd.neighbor_id,
               round({ivf.COS_SQL.format(a='qv.v', b='cv.v')}, 6) AS cos_sim
        FROM cands cd
        JOIN b qv ON qv.vec_id = cd.query_id
        JOIN b cv ON cv.vec_id = cd.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, rn FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS rn
        FROM scored
    ) WHERE rn <= 3
    """,
)
def vec_ann_tuned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall-tuned configuration of the OR-of-bands ANN: 10 bands ×
    6 sign bits — chosen from the measured recall/cost curve in
    tests/test_ann_recall.py (recall@3 = 0.667 while scanning ~14% of the
    corpus; the fixture config's 2×10 bits scans 0.1% but recalls 0 on
    these near-uniform embeddings). Same plan as
    `vec_ann_multiband_topk` (`_banded_topk`); only bits/bands differ."""
    return _banded_topk(spark, sf_dir, bits=6, bands=10)
