"""Vector similarity-search queries over `embeddings` ([north-star]:
ANN over an embedding column at 100 TB design scale).

Strategy ladder:
- brute-force cosine top-k for a bounded query set — the correctness
  baseline (cross join is |Q|×N with |Q| kept small and broadcast);
- sign-bucket LSH (axis-aligned random-hyperplane family): map-only
  bucket assignment, candidates only within a bucket — the scale path
  (the bucket exchange replaces the full cross product);
- embedding-cosine near-dup pairs via the same bucketing.

All math is F.zip_with/F.aggregate built-ins (JVM, codegen) over
double-widened floats; ranking keys are rounded to 6dp BEFORE row_number
so rank order is identical in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from numalogic_prometheus_spark.functions.vectors import (
    cosine_similarity,
    l2_norm,
    to_double_array,
)
from numalogic_prometheus_spark.plans import register
from numalogic_prometheus_spark.sources.tables import load_table


@register(
    "vec_norm_stats",
    oracle="""
    SELECT label,
           count(*) AS n,
           len(embedding)::BIGINT AS dim,
           round(avg(sqrt(list_aggregate(
               list_transform(embedding::DOUBLE[], x -> x * x), 'sum'))), 6)
               AS avg_l2_norm
    FROM embeddings
    GROUP BY label, len(embedding)
    """,
)
def vec_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array math sanity surface: per-label average L2 norm + dim."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.size("embedding").cast("long").alias("dim"),
                 l2_norm("CAST(embedding AS ARRAY<DOUBLE>)").alias("norm"))
        .groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("norm"), 6).alias("avg_l2_norm"),
        )
    )


_QUERY_FILTER = "vec_id % 97 = 0"  # the vectors-family query set


@register(
    "vec_cosine_topk",
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
        WHERE e.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rn FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS rn
        FROM scored
    ) WHERE rn <= 5
    """,
)
def vec_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 per query vector (the ANN correctness
    baseline): small query set broadcast against the corpus — |Q|×N
    map-side work, one exchange for the per-query ranking. cos_sim is
    rounded BEFORE ranking so rank order matches the oracle bit-for-bit."""
    e = load_table(spark, sf_dir, "embeddings")
    q = (
        e.filter(F.expr(_QUERY_FILTER))
        .select(F.col("vec_id").alias("query_id"),
                to_double_array("embedding").alias("qv"))
    )
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"),
        to_double_array("embedding").alias("ev"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(corpus)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_similarity("qv", "ev"), 6).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 5)
    )


# Sign-bucket: bit i = (embedding[offset+i] > 0) over `bits` dims — an
# axis-aligned random-hyperplane LSH family. `bits` controls bucket count
# (2^bits): at 100× corpus the in-bucket candidate count is O(N / 2^bits),
# so bits must GROW with the corpus (≥16-24 at cluster scale; VERDICT.md
# next-round #4) — recall is then recovered by OR-ing several bands
# (different dim ranges), not by coarser buckets. The 8-bit single-band
# form is kept as the oracle-checked fixture config (2000 vectors → 256
# buckets ≈ 8/bucket); `vec_ann_multiband_topk` is the scale shape.
_BUCKET_SQL = (
    "list_aggregate(list_transform(range(0, 8), "
    "i -> CASE WHEN embedding[i + 1] > 0 THEN (1::BIGINT << i) ELSE 0 END), 'sum')"
)


def _bucket_sql(col: str, bits: int = 8, offset: int = 0) -> str:
    """Sign-bit bucket as ONE SQL string (r16 build-cost pass): the old
    aggregate(zip_with(...)) Column form carried two lambdas per band —
    Catalyst re-resolves lambdas on every downstream op's re-analysis
    (the 10-band tuned config paid ~20 resolutions per analysis round)
    and executes them interpreted — and composing the unrolled tree
    py4j-object-by-object was even slower to BUILD (one JVM round trip
    per node). A generated SQL string parses JVM-side in one round trip
    and whole-stage-codegens: interleaved A/B at sf0.1, min-of-5 —
    build 518→119 ms, build+exec 1002→599 ms for the tuned pipeline.
    Keys are bit-identical: 2^i is exact in BIGINT at these widths.
    try_element_at, not element_at (ADVICE r16): under Spark 4 ANSI
    mode a plain element_at throws INVALID_ARRAY_INDEX past the end of
    the array, so a malformed short vector would fail the whole query;
    try_element_at yields NULL there, the > 0 test is false, and the
    missing dims contribute 0 — the old slice+zip_with semantics."""
    return (
        "("
        + " + ".join(
            f"IF(try_element_at({col}, {offset + i + 1}) > 0, "
            f"CAST({1 << i} AS BIGINT), CAST(0 AS BIGINT))"
            for i in range(bits)
        )
        + ")"
    )


def _bucket_col(col: str, bits: int = 8, offset: int = 0) -> F.Column:
    """`_bucket_sql` as a Column; `col` is a COLUMN NAME (the SQL-string
    route needs a name, not a Column object)."""
    return F.expr(_bucket_sql(col, bits, offset))


def _banded_vectors(b: DataFrame, bits: int, bands: int) -> DataFrame:
    """Explode each vector into `bands` (band_idx, band_key) rows; band i
    hashes dims [i*bits, (i+1)*bits). Map-only — the only shuffle in the
    ANN pipeline stays the (band_idx, band_key) candidate join."""
    band_exprs = ", ".join(
        _bucket_sql("v", bits, band * bits) for band in range(bands)
    )
    return b.selectExpr(
        "vec_id",
        "v",
        f"posexplode(array({band_exprs})) AS (band_idx, band_key)",
    )


def _banded_topk(
    spark: SparkSession, sf_dir: str, bits: int, bands: int
) -> DataFrame:
    """OR-of-bands ANN top-3: map-side banding, one (band_idx, band_key)
    candidate equi-join, candidates deduped BEFORE the exact-cosine
    re-rank so each pair is scored once, per-query top-k. bits/bands
    are deployment tuning, not plan changes."""
    e = load_table(spark, sf_dir, "embeddings")
    b = e.select(
        "vec_id", to_double_array("embedding").alias("v")
    )
    banded = _banded_vectors(b, bits=bits, bands=bands)
    q = banded.filter(F.expr(_QUERY_FILTER)).select(
        F.col("vec_id").alias("query_id"), "band_idx", "band_key"
    )
    cands = (
        q.join(banded.select("vec_id", "band_idx", "band_key"), ["band_idx", "band_key"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    scored = (
        cands.join(
            b.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv")),
            "query_id",
        )
        .join(
            b.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv")),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_similarity("qv", "cv"), 6).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
    )


@register(
    "vec_ann_signbucket_topk",
    oracle=f"""
    WITH b AS (
        SELECT vec_id, embedding::DOUBLE[] AS v, {_BUCKET_SQL} AS bucket
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE {_QUERY_FILTER}),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               round(list_dot_product(q.qv, c.v)
                     / (sqrt(list_aggregate(list_transform(q.qv, x -> x*x), 'sum'))
                        * sqrt(list_aggregate(list_transform(c.v, x -> x*x), 'sum'))),
                     6) AS cos_sim
        FROM q JOIN b c ON c.bucket = q.bucket AND c.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rn FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS rn
        FROM scored
    ) WHERE rn <= 3
    """,
)
def vec_ann_signbucket_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: sign-bit bucket over the first 8 dims (an
    axis-aligned hyperplane family) assigns each vector to 1 of 256
    buckets map-side; candidates are only same-bucket vectors, so the
    cross product never materializes. 8 bits is the fixture config sized
    to this corpus (2000 vectors ≈ 8/bucket) — at 100× the corpus the
    bucket width must grow with N or the in-bucket self-join re-becomes
    quadratic; `vec_ann_multiband_topk` is that scale configuration of
    the same parameterized operator."""
    e = load_table(spark, sf_dir, "embeddings")
    b = e.select(
        "vec_id",
        to_double_array("embedding").alias("v"),
        _bucket_col("embedding").alias("bucket"),
    )
    q = b.filter(F.expr(_QUERY_FILTER)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "bucket"
    )
    scored = (
        q.join(b.alias("c"), ["bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine_similarity("qv", "v"), 6).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
    )


@register(
    "vec_ann_multiband_topk",
    oracle=f"""
    WITH b AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    banded AS (
        SELECT vec_id, v, band_idx,
               list_aggregate(list_transform(range(0, 10),
                   i -> CASE WHEN v[band_idx * 10 + i + 1] > 0
                             THEN (1::BIGINT << i) ELSE 0 END), 'sum') AS band_key
        FROM b, (VALUES (0), (1)) bands(band_idx)
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
               round(list_dot_product(qv.v, cv.v)
                     / (sqrt(list_aggregate(list_transform(qv.v, x -> x*x), 'sum'))
                        * sqrt(list_aggregate(list_transform(cv.v, x -> x*x), 'sum'))),
                     6) AS cos_sim
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
def vec_ann_multiband_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-of-bands ANN — the 100× scale shape (VERDICT.md next-round #4):
    2 bands × 10 sign bits (1,024 buckets per band — sized so the 2,000
    vector fixture still yields candidates; at cluster scale raise to
    16-24 bits) bound the in-bucket candidate count at O(N/2^bits) per
    band, while OR-ing the bands recovers the recall a single fine bucket
    would lose (`_banded_topk`)."""
    return _banded_topk(spark, sf_dir, bits=10, bands=2)


@register(
    "vec_neardup_pairs",
    oracle=f"""
    WITH b AS (
        SELECT vec_id, embedding::DOUBLE[] AS v, {_BUCKET_SQL} AS bucket
        FROM embeddings
    )
    SELECT a.vec_id AS id_a, c.vec_id AS id_b,
           round(list_dot_product(a.v, c.v)
                 / (sqrt(list_aggregate(list_transform(a.v, x -> x*x), 'sum'))
                    * sqrt(list_aggregate(list_transform(c.v, x -> x*x), 'sum'))),
                 6) AS cos_sim
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE list_dot_product(a.v, c.v)
          / (sqrt(list_aggregate(list_transform(a.v, x -> x*x), 'sum'))
             * sqrt(list_aggregate(list_transform(c.v, x -> x*x), 'sum'))) >= 0.99
    """,
)
def vec_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup: same sign-bucketing to avoid the
    O(n²) pair space, cosine ≥ 0.99 within buckets."""
    e = load_table(spark, sf_dir, "embeddings")
    b = e.select(
        "vec_id",
        to_double_array("embedding").alias("v"),
        _bucket_col("embedding").alias("bucket"),
    )
    a = b.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"), "bucket")
    c = b.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), "bucket")
    cos = cosine_similarity("va", "vb")
    return (
        a.join(c, ["bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim_raw", cos)
        .filter(F.col("cos_sim_raw") >= 0.99)
        .select("id_a", "id_b", F.round("cos_sim_raw", 6).alias("cos_sim"))
    )
