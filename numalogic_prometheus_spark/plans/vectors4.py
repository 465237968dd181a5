"""Vector search, batch 4 — the incremental-ingest / serving shape:
new embeddings arriving in a batch are searched against the EXISTING
corpus through its precomputed IVF index, never against themselves and
never all-pairs. This is the ANN twin of `dedup_incremental_batch`
(plans/text.py): the reference's pipeline posture is continuous
ingestion (reference CHANGELOG.md:10 #168 — the fetch stage feeds a
streaming pipeline), so the production question is "what does ONE new
batch cost", not "what does re-indexing the corpus cost".

Roles (deterministic slices, so both engines derive identical sets
without a stored artifact):
* corpus  = vec_id % 11 != 0  (the already-indexed ~91%),
* batch   = vec_id % 11 == 0  (the incoming ~9%),
* centroids = the operators/ivf.py quantizer slice of the CORPUS rows.

100 TB notes: the index — centroids + per-vector cell assignment — is
the relation a production pipeline materializes ONCE per snapshot
(exactly like the dedup band index and the components snapshot,
plans/sampling.py); each ingest then costs |batch|×C broadcast probe
distances plus candidates bounded by nprobe/n_cells of the corpus.
Here the assignment is recomputed inline so the registry entry is
self-contained (the same trade `sample_split_by_cluster` documents),
but the per-batch marginal plan — probe, cell-join, exact re-rank —
is the committed shape. The batch side rides a broadcast into the
cell join, so the corpus-side assignment never reshuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from numalogic_prometheus_spark.operators import ivf
from numalogic_prometheus_spark.plans import register
from numalogic_prometheus_spark.sources.tables import load_table_spread

_BATCH_FILTER = "vec_id % 11 = 0"
_CORPUS_FILTER = "vec_id % 11 != 0"


@register(
    "vec_ann_incremental_batch",
    oracle=f"""
    WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    corpus AS (SELECT vec_id, v FROM b WHERE {_CORPUS_FILTER}),
    batch AS (SELECT vec_id, v FROM b WHERE {_BATCH_FILTER}),
    cents AS (SELECT vec_id AS cent_id, v AS cv FROM corpus
              WHERE {ivf.CENTROID_FILTER}),
    assign AS (
        SELECT co.vec_id,
               arg_min(c.cent_id, {ivf.key_sql('co.v')}) AS cell
        FROM corpus co CROSS JOIN cents c
        GROUP BY co.vec_id
    ),
    probes AS (
        SELECT bt.vec_id AS query_id, c.cent_id AS cell,
               row_number() OVER (PARTITION BY bt.vec_id
                                  ORDER BY {ivf.key_sql('bt.v')})
                   AS rn
        FROM batch bt CROSS JOIN cents c
    ),
    cands AS (
        SELECT p.query_id, a.vec_id AS neighbor_id
        FROM probes p JOIN assign a ON a.cell = p.cell
        WHERE p.rn <= {ivf.NPROBE}
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
                                     ORDER BY cos_sim DESC, neighbor_id)
                      AS rn
        FROM scored
    ) WHERE rn <= {ivf.TOP_K}
    """,
)
def vec_ann_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest ANN: each vector of the incoming batch
    (vec_id % 11 == 0) probes its nprobe=2 nearest corpus cells and is
    exact-cosine re-ranked against ONLY those cells' members — top-3
    existing neighbors per new vector, the serving path of an IVF index
    over the already-ingested corpus (module docstring for the
    snapshot-vs-inline trade). Batch and corpus are disjoint by
    construction, so no self-match filter is needed."""
    b = ivf.featurize(load_table_spread(spark, sf_dir, "embeddings", "vec_id"))
    corpus = b.filter(F.expr(_CORPUS_FILTER))
    cents = ivf.centroids(corpus)
    # The "index": every corpus vector's cell (in production read back
    # from the snapshot, not recomputed). The per-ingest marginal work
    # is the batch's probes and the re-rank.
    probes = ivf.probe_cells(
        ivf.query_keys(b.filter(F.expr(_BATCH_FILTER)), cents)
    )
    return ivf.rerank_topk(probes, ivf.assign_cells(corpus, cents))
