"""Vector search, round 3: int8-quantized candidate generation with
exact re-rank over `embeddings`.

The product-quantization idea (Jégou et al., PAMI 2011) at its simplest
useful grain: store each vector as int8 codes + one per-vector scale
(4× memory/bandwidth compression vs float32, 8× vs float64), score
candidates on the compressed codes, then re-rank only the survivors
against full-precision vectors. At 100 TB the candidate stage streams
the COMPRESSED corpus (the scan is ¼ the bytes and the broadcast query
set is tiny), and the expensive exact stage touches `3k` rows per
query instead of N.

Determinism: the code dot-product is INTEGER (codes ≤ 127 → |Σ| ≤
64·127² ≈ 1e6, exact in int64), so the only float ops are the two
per-vector scales multiplied once — no accumulation-order hazard
([[spark-duckdb-parity-gotchas]]). Candidate and final ranks tiebreak
on neighbor_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from numalogic_prometheus_spark.functions.vectors import (
    cosine_similarity,
    to_double_array,
)
from numalogic_prometheus_spark.operators import ivf
from numalogic_prometheus_spark.plans import register
from numalogic_prometheus_spark.plans.vectors import _QUERY_FILTER
from numalogic_prometheus_spark.sources.tables import (
    load_table,
    load_table_spread,
)

_CAND_PER_QUERY = 9  # 3× the final k
_TOP_K = 3

_INT8_ORACLE = f"""
    WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    scaled AS (
        SELECT vec_id, v,
               list_aggregate(list_transform(v, x -> abs(x)), 'max')
                   / 127 AS scale
        FROM b
    ),
    q AS (
        SELECT vec_id, scale,
               list_transform(v, x -> CASE WHEN scale = 0 THEN 0
                   ELSE round(x / scale)::BIGINT END) AS qv
        FROM scaled
    ),
    qs AS (SELECT vec_id AS query_id, scale AS qscale, qv AS qqv
           FROM q WHERE {_QUERY_FILTER}),
    approx AS (
        SELECT qs.query_id, n.vec_id AS neighbor_id,
               list_aggregate(
                   list_transform(range(1, len(n.qv) + 1),
                                  i -> n.qv[i] * qs.qqv[i]),
                   'sum')::BIGINT * n.scale * qs.qscale AS ascore
        FROM q n JOIN qs ON n.vec_id != qs.query_id
    ),
    cand AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY ascore DESC, neighbor_id) AS arn
            FROM approx
        ) WHERE arn <= {_CAND_PER_QUERY}
    ),
    exact AS (
        SELECT c.query_id, c.neighbor_id,
               round(list_dot_product(qv.v, nv.v)
                     / (sqrt(list_aggregate(list_transform(qv.v, x -> x*x), 'sum'))
                        * sqrt(list_aggregate(list_transform(nv.v, x -> x*x), 'sum'))),
                     6) AS cos_sim
        FROM cand c
        JOIN b qv ON qv.vec_id = c.query_id
        JOIN b nv ON nv.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM exact
    ) WHERE rank <= {_TOP_K}
"""


@register("vec_int8_quantized_topk", oracle=_INT8_ORACLE)
def vec_int8_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 symmetric-quantized top-k: per-vector max-abs/127 scale,
    integer code dot for candidates (top 3k per query, broadcast query
    codes), exact cosine re-rank of survivors only."""
    e = load_table_spread(spark, sf_dir, "embeddings", "vec_id")
    b = e.select("vec_id", to_double_array("embedding").alias("v"))
    scale = (
        F.aggregate(
            F.transform(F.col("v"), lambda x: F.abs(x)),
            F.lit(float("-inf")),
            lambda acc, x: F.greatest(acc, x),
        )
        / 127
    )
    # scale is referenced once per element by the quantizer lambda; bind
    # it as a column first so the interpreted HOF doesn't re-reduce the
    # array per element ([[spark-perf-traps-local]]).
    withs = b.withColumn("scale", scale)
    # CASE guards the division: an all-zero vector has scale 0 and
    # quantizes to all-zero codes (ANSI-safe both engines). NOTE: the
    # lambda must stay single-parameter — a second (even defaulted)
    # parameter makes F.transform pass the array INDEX into it
    # ([[spark-duckdb-parity-gotchas]]).
    _s = F.col("scale")
    q = withs.select(
        "vec_id",
        "scale",
        F.transform(
            F.col("v"),
            lambda x: F.when(_s == 0, F.lit(0).cast("long")).otherwise(
                F.round(x / _s, 0).cast("long")
            ),
        ).alias("qv"),
    )
    qs = q.filter(F.expr(_QUERY_FILTER)).select(
        F.col("vec_id").alias("query_id"),
        F.col("scale").alias("qscale"),
        F.col("qv").alias("qqv"),
    )
    idot = F.aggregate(
        F.zip_with("qv", "qqv", lambda a, c: a * c),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    approx = (
        q.join(F.broadcast(qs), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (idot * F.col("scale") * F.col("qscale")).alias("ascore"),
        )
    )
    aw = W.partitionBy("query_id").orderBy(F.col("ascore").desc(), "neighbor_id")
    cand = (
        approx.withColumn("arn", F.row_number().over(aw))
        .filter(F.col("arn") <= _CAND_PER_QUERY)
        .select("query_id", "neighbor_id")
    )
    qv = b.select(F.col("vec_id").alias("query_id"), F.col("v").alias("v_q"))
    nv = b.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("v_n"))
    exact = (
        cand.join(qv, "query_id")
        .join(nv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_similarity("v_q", "v_n"), 6).alias(
                "cos_sim"
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


# ---------------------------------------------------------------------------
# ROUND 8 — filtered ANN: similarity search under a metadata predicate,
# the production retrieval shape ("nearest neighbors among label-1
# vectors only"). The predicate prunes the CORPUS SIDE AT THE SCAN
# (parquet pushdown on the metadata column), so the distance work is
# |Q| × |filtered corpus|, not |Q| × N followed by a post-filter — at
# 100 TB with a selective predicate that is the difference between
# scanning a partition and scanning the lake. Post-filtering the ANN
# output would also be WRONG for recall: top-k of the unfiltered search
# can contain fewer than k (or zero) label-1 rows.
# ---------------------------------------------------------------------------

_FILTER_LABEL = 1


@register(
    "vec_ann_filtered_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE {_QUERY_FILTER}),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               round(list_dot_product(q.qv, e.embedding::DOUBLE[])
                     / (sqrt(list_aggregate(list_transform(q.qv, x -> x*x), 'sum'))
                        * sqrt(list_aggregate(list_transform(e.embedding::DOUBLE[],
                                                             x -> x*x), 'sum'))),
                     6) AS cos_sim
        FROM q CROSS JOIN embeddings e
        WHERE e.label = {_FILTER_LABEL} AND e.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rn FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS rn
        FROM scored
    ) WHERE rn <= {ivf.TOP_K}
    """,
)
def vec_ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} cosine neighbors RESTRICTED to corpus rows with
    label = {label} (metadata-filtered similarity search). The label
    predicate sits on the corpus scan so Catalyst pushes it into the
    parquet reader (pinned: tests/test_plan_shape.py
    test_filtered_ann_pushes_label_filter); the query set is broadcast
    as in the brute-force baseline, and cos_sim is rounded BEFORE
    ranking so rank order matches the oracle bit-for-bit. This exact
    form is the ground truth for the composed scale path,
    vec_ivf_filtered_topk (below), where the same predicate rides the
    IVF candidate generator and prunes before the exact re-rank."""
    e = load_table(spark, sf_dir, "embeddings")
    q = (
        e.filter(F.expr(_QUERY_FILTER))
        .select(F.col("vec_id").alias("query_id"),
                to_double_array("embedding").alias("qv"))
    )
    corpus = (
        e.filter(F.col("label") == _FILTER_LABEL)
        .select(
            F.col("vec_id").alias("neighbor_id"),
            to_double_array("embedding").alias("ev"),
        )
    )
    scored = (
        F.broadcast(q)
        .crossJoin(corpus)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_similarity("qv", "ev"), 6
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), "neighbor_id"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= ivf.TOP_K)
    )


vec_ann_filtered_topk.__doc__ = vec_ann_filtered_topk.__doc__.format(
    k=ivf.TOP_K, label=_FILTER_LABEL
)


# ---------------------------------------------------------------------------
# ROUND 9 — filtered ANN × IVF (VERDICT r8 #3): the predicate composed
# with the coarse-quantizer candidate generator, the scale path the
# vec_ann_filtered_topk docstring promises. The label filter rides the
# CORPUS side of the cell-assignment stage, i.e. it prunes at the
# parquet scan BEFORE the N×C centroid expansion — cell membership is a
# per-vector property (nearest centroid), so filtering before or after
# assignment yields the identical candidate set, and filtering first
# makes the whole index pass O(|filtered|·C) instead of O(N·C).
# Centroids stay a FULL-corpus artifact (every 31st vec_id, as in
# vec_ivf_topk): a production IVF index is trained once per corpus and
# shared by every filtered query, not rebuilt per predicate.
# ---------------------------------------------------------------------------


@register(
    "vec_ivf_filtered_topk",
    oracle=f"""
    WITH b AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
               FROM embeddings),
    cents AS (SELECT vec_id AS cent_id, v AS cv FROM b
              WHERE {ivf.CENTROID_FILTER}),
    assign AS (
        SELECT vec_id, arg_min(cent_id, {ivf.key_sql('b.v')}) AS cell
        FROM b CROSS JOIN cents c
        WHERE b.label = {_FILTER_LABEL}
        GROUP BY vec_id
    ),
    probes AS (
        SELECT vec_id AS query_id, cent_id AS cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY {ivf.key_sql('b.v')}) AS rn
        FROM b CROSS JOIN cents c
        WHERE {_QUERY_FILTER}
    ),
    cands AS (
        SELECT p.query_id, a.vec_id AS neighbor_id
        FROM probes p JOIN assign a ON a.cell = p.cell
        WHERE p.rn <= {ivf.NPROBE} AND a.vec_id != p.query_id
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
    ) WHERE rn <= {ivf.TOP_K}
    """,
)
def vec_ivf_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (nprobe={nprobe}, top-{k}) RESTRICTED to corpus rows with
    label = {label}: the metadata predicate composed with the coarse
    quantizer. The label filter sits on the assignment input so Catalyst
    pushes it into the parquet scan (pinned:
    tests/test_plan_shape.py::test_ivf_filtered_pushes_label_filter) and
    the N×C distance expansion only sees filtered rows; probing and the
    exact cosine re-rank then run exactly as in vec_ivf_topk
    (plans/vectors2.py). Recall against the exact filtered search
    (vec_ann_filtered_topk) is measured in
    tests/test_ann_recall.py::test_ivf_filtered_recall_floor. At 100 TB
    this is the production retrieval shape: predicate pruning at the
    scan, candidate volume bounded by nprobe/n_cells of the FILTERED
    corpus, exact work only on survivors."""
    b = ivf.featurize(
        load_table_spread(spark, sf_dir, "embeddings", "vec_id"), "label"
    )
    cents = ivf.centroids(b)
    # Predicate FIRST: only the filtered corpus enters the N×C expansion.
    index = ivf.assign_cells(b.filter(F.col("label") == _FILTER_LABEL), cents)
    probes = ivf.probe_cells(
        ivf.query_keys(b.filter(F.expr(_QUERY_FILTER)), cents)
    )
    return ivf.rerank_topk(probes, index, queries_from_index=True)


vec_ivf_filtered_topk.__doc__ = vec_ivf_filtered_topk.__doc__.format(
    k=ivf.TOP_K, label=_FILTER_LABEL, nprobe=ivf.NPROBE
)


# ---------------------------------------------------------------------------
# ROUND 10 — IVF × int8 composition (IVF-PQ-lite; VERDICT r9 #5): the
# 100 TB serving shape. The coarse quantizer prunes WHICH rows are
# scanned (nprobe/n_cells of the corpus), the int8 codes shrink WHAT is
# scanned per row (4× fewer bytes than float32, 8× vs float64), and the
# full-precision vectors are touched only for the ≤ CAND_PER_QUERY
# survivors per query — FAISS's IVFPQ layering with the simplest useful
# code grain (one sub-quantizer = symmetric per-vector int8).
# ---------------------------------------------------------------------------


@register(
    "vec_ivf_int8_topk",
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
    scaled AS (
        SELECT vec_id,
               list_aggregate(list_transform(v, x -> abs(x)), 'max')
                   / 127 AS scale, v
        FROM b
    ),
    codes AS (
        SELECT vec_id, scale,
               list_transform(v, x -> CASE WHEN scale = 0 THEN 0
                   ELSE round(x / scale)::BIGINT END) AS qv
        FROM scaled
    ),
    ivfpq AS (
        SELECT a.vec_id, a.cell, c.scale, c.qv
        FROM assign a JOIN codes c USING (vec_id)
    ),
    probes AS (
        SELECT vec_id AS query_id, cent_id AS cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY key) AS rn
        FROM keyed WHERE {_QUERY_FILTER}
    ),
    qcodes AS (SELECT vec_id AS query_id, scale AS qscale, qv AS qqv
               FROM codes WHERE {_QUERY_FILTER}),
    approx AS (
        SELECT p.query_id, i.vec_id AS neighbor_id,
               list_aggregate(
                   list_transform(range(1, len(i.qv) + 1),
                                  k -> i.qv[k] * qc.qqv[k]),
                   'sum')::BIGINT * i.scale * qc.qscale AS ascore
        FROM probes p
        JOIN ivfpq i ON i.cell = p.cell
        JOIN qcodes qc ON qc.query_id = p.query_id
        WHERE p.rn <= {ivf.NPROBE} AND i.vec_id != p.query_id
    ),
    cand AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY ascore DESC, neighbor_id) AS arn
            FROM approx
        ) WHERE arn <= {_CAND_PER_QUERY}
    ),
    exact AS (
        SELECT c.query_id, c.neighbor_id,
               round(list_dot_product(qv.v, nv.v)
                     / (sqrt(list_aggregate(list_transform(qv.v, x -> x*x),
                                            'sum'))
                        * sqrt(list_aggregate(list_transform(nv.v, x -> x*x),
                                              'sum'))),
                     6) AS cos_sim
        FROM cand c
        JOIN b qv ON qv.vec_id = c.query_id
        JOIN b nv ON nv.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id)
                      AS rank
        FROM exact
    ) WHERE rank <= {_TOP_K}
    """,
)
def vec_ivf_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ-lite top-k (VERDICT r9 #5): coarse-quantizer cell pruning
    composed with int8 code scoring, exact re-rank of survivors only.

    Stage layering (each stage strictly shrinks the next stage's input):

    1. the broadcast centroid argmin assigns every corpus vector a cell
       (min_by partial agg — the exchange carries N scalar rows);
    2. the inverted file stores (cell, scale, int8 codes) — at 100 TB
       this compressed relation is what sits on disk, cell-partitioned,
       and a probe scans only nprobe/n_cells of it at ¼ the bytes;
    3. per query, the nprobe=2 nearest cells' CODES are scored with
       the exact-integer code dot (|Σ| ≤ 64·127² — int64-exact) times
       the two scales — one float product, no accumulation hazard;
    4. only the top 9 survivors per query touch full-precision vectors
       for the cosine re-rank (top 3).

    Recall vs the exact baseline is pinned in
    tests/test_ann_recall.py::test_ivf_int8_recall_floor; the
    no-full-corpus-exact-scan shape in
    tests/test_plan_shape.py::test_ivf_int8_exact_stage_is_candidate_bounded.
    """
    b = ivf.featurize(load_table_spread(spark, sf_dir, "embeddings", "vec_id"))
    # One N×C key relation feeds both the assignment and the probes.
    keyed = ivf.cell_keys(b, ivf.centroids(b))
    assign = ivf.nearest_cell(keyed)
    scale = (
        F.aggregate(
            F.transform(F.col("v"), lambda x: F.abs(x)),
            F.lit(float("-inf")),
            lambda acc, x: F.greatest(acc, x),
        )
        / 127
    )
    withs = b.withColumn("scale", scale)
    _s = F.col("scale")
    codes = withs.select(
        "vec_id",
        "scale",
        F.transform(
            F.col("v"),
            lambda x: F.when(_s == 0, F.lit(0).cast("long")).otherwise(
                F.round(x / _s, 0).cast("long")
            ),
        ).alias("qv"),
    )
    ivfpq = assign.join(codes, "vec_id")
    probes = ivf.probe_cells(
        keyed.filter(F.expr(_QUERY_FILTER)).select(
            F.col("vec_id").alias("query_id"),
            F.col("cent_id").alias("cell"),
            "key",
        )
    )
    qcodes = codes.filter(F.expr(_QUERY_FILTER)).select(
        F.col("vec_id").alias("query_id"),
        F.col("scale").alias("qscale"),
        F.col("qv").alias("qqv"),
    )
    # probes × query codes is |Q|·nprobe rows — broadcast, so the
    # compressed index never reshuffles for search.
    probes_c = probes.join(qcodes, "query_id")
    idot = F.aggregate(
        F.zip_with("qv", "qqv", lambda a, c: a * c),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    approx = (
        F.broadcast(probes_c)
        .join(ivfpq, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (idot * F.col("scale") * F.col("qscale")).alias("ascore"),
        )
    )
    aw = W.partitionBy("query_id").orderBy(F.col("ascore").desc(), "neighbor_id")
    cand = (
        approx.withColumn("arn", F.row_number().over(aw))
        .filter(F.col("arn") <= _CAND_PER_QUERY)
        .select("query_id", "neighbor_id")
    )
    qv = b.select(F.col("vec_id").alias("query_id"), F.col("v").alias("v_q"))
    nv = b.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("v_n"))
    exact = (
        cand.join(qv, "query_id")
        .join(nv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_similarity("v_q", "v_n"), 6).alias(
                "cos_sim"
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


