"""Vector search, round 5: two candidate-generation grains that
complete the compressed-retrieval family over `embeddings`
([north-star] similarity search; the reference has no vector surface).

- `vec_pq_subvector_topk` — product quantization at m = 4
  sub-quantizers (Jégou et al., PAMI 2011): each 64-dim vector splits
  into four 16-dim subvectors, each symmetric-int8-quantized with its
  OWN max-abs/127 scale. vec_int8_quantized_topk (plans/vectors3.py)
  is the m = 1 member of this family and its docstring names this
  exact extension: one outlier dimension there flattens the codes of
  the whole vector, while per-subvector scales localize the damage to
  one quarter — better candidate recall at the SAME compressed size
  (64 int8 codes + 4 floats vs + 1 float).
- `vec_matryoshka_prefix_topk` — Matryoshka-representation retrieval
  (Kusupati et al., NeurIPS 2022): MRL-trained embeddings carry a
  usable low-dim embedding in every prefix, so candidate generation
  ranks by EXACT cosine over the first 16 dims (¼ the scan bytes, no
  quantization at all) and only survivors see the full vector. The
  fixture embeddings are synthetic (not MRL-trained) — the operator
  contract under test is the prefix-scan + re-rank plan, the recall
  floor against exact search is measured in tests/test_ann_recall.py
  like every other candidate generator.

Determinism (both entries): candidate scores are bit-identical
cross-engine — PQ sub-dots are exact int64 (|Σ| ≤ 16·127² ≈ 2.6e5)
combined with their scale products in one fixed left-to-right operand
sequence; prefix cosines fold left-to-right over the identical doubles
in both engines (functions/vectors.py ≡ DuckDB list_aggregate). Ranks
tiebreak on neighbor_id; the exact re-rank is the shared cosine path.

Scale (100 TB design): both candidate stages broadcast the tiny query
side and STREAM the compressed/prefix corpus representation — ¼ the
bytes of the full vectors — through one whole-stage-codegen pass; the
expensive full-precision cosine touches ≤ CAND_PER_QUERY rows per
query. The same layout argument as the int8 entry, with the PQ scales
(resp. the prefix columns) stored alongside the codes so the search
never reads the full embedding column until the re-rank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from numalogic_prometheus_spark.functions.vectors import (
    cosine_similarity,
    dot_product,
    l2_norm,
    to_double_array,
)
from numalogic_prometheus_spark.operators import ivf
from numalogic_prometheus_spark.plans import register
from numalogic_prometheus_spark.plans.vectors import _QUERY_FILTER
from numalogic_prometheus_spark.sources.tables import load_table_spread

_CAND_PER_QUERY = 9
_TOP_K = 3
_M = 4          # sub-quantizers
_SUB_DIM = 16   # 64 / m
_PREFIX_DIM = 16

_PQ_SUB_SQL = ", ".join(
    f"""
    list_aggregate(list_transform(v[{j * 16 + 1}:{j * 16 + 16}],
        x -> abs(x)), 'max') / 127 AS sc{j},
    list_transform(v[{j * 16 + 1}:{j * 16 + 16}],
        x -> CASE WHEN list_aggregate(list_transform(
                 v[{j * 16 + 1}:{j * 16 + 16}], y -> abs(y)), 'max') = 0
             THEN 0
             ELSE round(x / (list_aggregate(list_transform(
                 v[{j * 16 + 1}:{j * 16 + 16}], y -> abs(y)), 'max')
                 / 127))::BIGINT END) AS q{j}
    """
    for j in range(_M)
)

_PQ_ASCORE_SQL = " + ".join(
    f"""list_aggregate(list_transform(range(1, {_SUB_DIM + 1}),
        i -> n.q{j}[i] * qs.qq{j}[i]), 'sum')::BIGINT
        * n.sc{j} * qs.qsc{j}"""
    for j in range(_M)
)

def _exact_rerank(cand: DataFrame, b: DataFrame) -> DataFrame:
    """Shared exact stage: candidates (query_id, neighbor_id) join the
    full-precision vectors, rounded cosine, rank <= top-k with the
    family's neighbor_id tiebreak - one definition so every candidate
    generator's re-rank semantics stay in lockstep with the oracles."""
    qv = b.select(F.col("vec_id").alias("query_id"), F.col("v").alias("v_q"))
    nv = b.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("v_n")
    )
    exact = (
        cand.join(qv, "query_id")
        .join(nv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_similarity("v_q", "v_n"), 6
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), "neighbor_id"
    )
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


@register(
    "vec_pq_subvector_topk",
    oracle=f"""
    WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id, {_PQ_SUB_SQL} FROM b),
    qs AS (SELECT vec_id AS query_id,
                  {", ".join(f"sc{j} AS qsc{j}, q{j} AS qq{j}" for j in range(_M))}
           FROM q WHERE {_QUERY_FILTER}),
    approx AS (
        SELECT qs.query_id, n.vec_id AS neighbor_id,
               {_PQ_ASCORE_SQL} AS ascore
        FROM q n JOIN qs ON n.vec_id != qs.query_id
    ),
    cand AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY ascore DESC, neighbor_id)
                       AS arn
            FROM approx
        ) WHERE arn <= {_CAND_PER_QUERY}
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
        SELECT c.query_id, c.neighbor_id,
               round({ivf.COS_SQL.format(a="qv.v", b="nv.v")}, 6) AS cos_sim,
               row_number() OVER (
                   PARTITION BY c.query_id
                   ORDER BY round({ivf.COS_SQL.format(a="qv.v", b="nv.v")}, 6)
                            DESC, c.neighbor_id) AS rank
        FROM cand c
        JOIN b qv ON qv.vec_id = c.query_id
        JOIN b nv ON nv.vec_id = c.neighbor_id
    ) WHERE rank <= {_TOP_K}
    """,
)
def vec_pq_subvector_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ (m=4) candidate generation + exact re-rank: per-subvector
    int8 codes and scales, approx score = Σ_j subdot_j·scale_j·qscale_j
    (module docstring for the grain/exactness/scale arguments)."""
    e = load_table_spread(spark, sf_dir, "embeddings", "vec_id")
    b = e.select("vec_id", to_double_array("embedding").alias("v"))
    cols = ["vec_id"]
    q = b
    for j in range(_M):
        sub = F.slice(F.col("v"), j * _SUB_DIM + 1, _SUB_DIM)
        q = q.withColumn(f"sub{j}", sub)
        scale = (
            F.aggregate(
                F.transform(F.col(f"sub{j}"), lambda x: F.abs(x)),
                F.lit(float("-inf")),
                lambda acc, x: F.greatest(acc, x),
            )
            / 127
        )
        q = q.withColumn(f"sc{j}", scale)
        _s = F.col(f"sc{j}")
        q = q.withColumn(
            f"q{j}",
            F.transform(
                F.col(f"sub{j}"),
                lambda x: F.when(_s == 0, F.lit(0).cast("long")).otherwise(
                    F.round(x / _s, 0).cast("long")
                ),
            ),
        )
        cols += [f"sc{j}", f"q{j}"]
    q = q.select(*cols)
    qs = q.filter(F.expr(_QUERY_FILTER)).select(
        F.col("vec_id").alias("query_id"),
        *[F.col(f"sc{j}").alias(f"qsc{j}") for j in range(_M)],
        *[F.col(f"q{j}").alias(f"qq{j}") for j in range(_M)],
    )

    def _subdot(j: int) -> F.Column:
        return F.aggregate(
            F.zip_with(f"q{j}", f"qq{j}", lambda a, c: a * c),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    ascore = None
    for j in range(_M):
        term = _subdot(j) * F.col(f"sc{j}") * F.col(f"qsc{j}")
        ascore = term if ascore is None else ascore + term
    approx = q.join(
        F.broadcast(qs), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id", F.col("vec_id").alias("neighbor_id"),
        ascore.alias("ascore"),
    )
    aw = W.partitionBy("query_id").orderBy(
        F.col("ascore").desc(), "neighbor_id"
    )
    cand = (
        approx.withColumn("arn", F.row_number().over(aw))
        .filter(F.col("arn") <= _CAND_PER_QUERY)
        .select("query_id", "neighbor_id")
    )
    return _exact_rerank(cand, b)


@register(
    "vec_matryoshka_prefix_topk",
    oracle=f"""
    WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (SELECT vec_id, v, v[1:{_PREFIX_DIM}] AS pv FROM b),
    qs AS (SELECT vec_id AS query_id, v AS qv, pv AS qpv
           FROM p WHERE {_QUERY_FILTER}),
    approx AS (
        SELECT qs.query_id, n.vec_id AS neighbor_id,
               {ivf.COS_SQL.format(a="n.pv", b="qs.qpv")} AS pscore
        FROM p n JOIN qs ON n.vec_id != qs.query_id
    ),
    cand AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY pscore DESC, neighbor_id)
                       AS arn
            FROM approx
        ) WHERE arn <= {_CAND_PER_QUERY}
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
        SELECT c.query_id, c.neighbor_id,
               round({ivf.COS_SQL.format(a="qv.v", b="nv.v")}, 6) AS cos_sim,
               row_number() OVER (
                   PARTITION BY c.query_id
                   ORDER BY round({ivf.COS_SQL.format(a="qv.v", b="nv.v")}, 6)
                            DESC, c.neighbor_id) AS rank
        FROM cand c
        JOIN b qv ON qv.vec_id = c.query_id
        JOIN b nv ON nv.vec_id = c.neighbor_id
    ) WHERE rank <= {_TOP_K}
    """,
)
def vec_matryoshka_prefix_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka prefix retrieval: exact 16-dim-prefix cosine ranks
    candidates (¼ the scan bytes), full 64-dim cosine re-ranks the
    ≤ {cand} survivors per query (module docstring)."""
    e = load_table_spread(spark, sf_dir, "embeddings", "vec_id")
    b = e.select("vec_id", to_double_array("embedding").alias("v"))
    p = b.select(
        "vec_id", "v", F.slice(F.col("v"), 1, _PREFIX_DIM).alias("pv")
    ).withColumn("npv", l2_norm("pv"))
    qs = p.filter(F.expr(_QUERY_FILTER)).select(
        F.col("vec_id").alias("query_id"),
        F.col("pv").alias("qpv"),
        F.col("npv").alias("nqpv"),
    )
    pscore = dot_product("pv", "qpv") / (
        F.col("npv") * F.col("nqpv")
    )
    approx = p.join(
        F.broadcast(qs), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id", F.col("vec_id").alias("neighbor_id"),
        pscore.alias("pscore"),
    )
    aw = W.partitionBy("query_id").orderBy(
        F.col("pscore").desc(), "neighbor_id"
    )
    cand = (
        approx.withColumn("arn", F.row_number().over(aw))
        .filter(F.col("arn") <= _CAND_PER_QUERY)
        .select("query_id", "neighbor_id")
    )
    return _exact_rerank(cand, b)


vec_matryoshka_prefix_topk.__doc__ = vec_matryoshka_prefix_topk.__doc__.format(
    cand=_CAND_PER_QUERY
)
