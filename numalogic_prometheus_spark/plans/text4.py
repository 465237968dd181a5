"""Training-data curation, round 3 batch: span-level exact-substring
dedup, benchmark-contamination detection, and semantic (embedding)
dedup survivors.

These close the three curation gaps a 100 TB pretraining pipeline hits
after the document-level passes in plans/text.py / text2.py:

- `dedup_substring_spans` is the ExactSubstr idea (Lee et al., "
  Deduplicating Training Data Makes Language Models Better", ACL 2022)
  at token-window grain: find *runs* of duplicated L-token spans across
  doc pairs, not just whole-doc near-dups. Long shared runs are the
  boilerplate/mirror signal document-level Jaccard misses.
- `text_contamination_eval_overlap` is the train/test leak check every
  eval-honest pipeline runs: n-gram overlap of each training doc
  against a (small, broadcast) benchmark set.
- `dedup_semantic_survivors` is SemDeDup-shaped (Abbas et al., 2023):
  embedding-cosine near-dup graph -> connected components -> keep one
  canonical doc per semantic cluster.

Reference parity: the reference pipeline dedups at (key, timestamp)
grain only (numaprom/udf/window.py:66-70); everything here is the
[north-star] LLM-curation extension over `documents`/`embeddings`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from numalogic_prometheus_spark.operators import dedup as D
from numalogic_prometheus_spark.operators.dedup import tokens_col
from numalogic_prometheus_spark.operators.text import EVAL_MOD
from numalogic_prometheus_spark.plans import register
from numalogic_prometheus_spark.functions.vectors import (
    cosine_similarity,
    to_double_array,
)
from numalogic_prometheus_spark.plans.vectors import _bucket_col
from numalogic_prometheus_spark.sources.tables import load_table, load_table_spread

# --- exact-substring span dedup ------------------------------------------

_SPAN_LEN = 8  # tokens per window; runs of k consecutive matched
#                windows imply a shared substring of k + _SPAN_LEN - 1 tokens
_SPAN_DF_CAP = 16  # drop boilerplate spans duplicated across more docs than
#                    this: at 100 TB a hot span (license header, nav bar)
#                    otherwise pairs quadratically inside its hash bucket

_SPANS_ORACLE = f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sp AS (
        SELECT doc_id, i AS pos,
               array_to_string(t[i:i + {_SPAN_LEN - 1}], ' ') AS span
        FROM toks, unnest(range(1, len(t) - {_SPAN_LEN - 2})) AS u(i)
    ),
    dup AS (
        SELECT span FROM sp GROUP BY span
        HAVING count(DISTINCT doc_id) BETWEEN 2 AND {_SPAN_DF_CAP}
    ),
    p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa, b.pos AS pb
        FROM sp a
        JOIN dup d ON a.span = d.span
        JOIN sp b ON a.span = b.span AND a.doc_id < b.doc_id
    ),
    isl AS (
        SELECT id_a, id_b, pa - pb AS diag,
               pa - row_number() OVER (PARTITION BY id_a, id_b, pa - pb
                                       ORDER BY pa) AS island
        FROM p
    ),
    runs AS (
        SELECT id_a, id_b, count(*) AS runlen
        FROM isl GROUP BY id_a, id_b, diag, island
    )
    SELECT id_a, id_b,
           sum(runlen)::BIGINT AS n_matches,
           (max(runlen) + {_SPAN_LEN - 1})::BIGINT AS longest_run_tokens
    FROM runs GROUP BY id_a, id_b
"""


@register("dedup_substring_spans", oracle=_SPANS_ORACLE)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level duplicate detection: every {L}-token window is keyed;
    windows duplicated across 2..{cap} docs generate (doc_a, doc_b,
    pos_a, pos_b) match points; consecutive matches on the same
    pos_a - pos_b diagonal collapse into runs (the classic LCS-diagonal
    island trick, pure window functions). `longest_run_tokens` is the
    longest shared verbatim substring in tokens.

    Scale shape: one explode (corpus x ~tokens), one agg on span to
    find duplicated keys, pair generation only *inside* duplicated
    spans with a doc-frequency cap bounding the per-span fan-out, then
    window functions over tiny per-pair groups. No full-corpus
    self-join, no broadcast of anything unbounded."""
    d = load_table_spread(spark, sf_dir, "documents", "doc_id")
    toks = tokens_col(F.col("text"))
    n = F.size(toks)
    spans = F.when(
        n >= _SPAN_LEN,
        F.transform(
            F.sequence(F.lit(1), n - (_SPAN_LEN - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, _SPAN_LEN)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ex = d.select("doc_id", F.posexplode(spans).alias("pos0", "span")).select(
        "doc_id", (F.col("pos0") + 1).alias("pos"), "span"
    )
    # Span doc-frequency via two stacked windows over ONE exchange on
    # span (row_number marks each doc's first occurrence, the
    # full-partition sum counts marked rows = distinct docs). A
    # groupBy(span)+join-back formulation recomputes the corpus explode
    # once per consumer (4 scans in the executed plan); this shape
    # explodes exactly once. The surviving hit set (duplicated spans
    # only) is tiny relative to the corpus, so it is materialized
    # eagerly before the self-join instead of re-deriving the explode
    # per join side.
    w_doc = W.partitionBy("span", "doc_id").orderBy("pos")
    w_span = W.partitionBy("span")
    hits = (
        ex.withColumn(
            "first_in_doc",
            F.when(F.row_number().over(w_doc) == 1, 1).otherwise(0),
        )
        .withColumn("df", F.sum("first_in_doc").over(w_span))
        .filter((F.col("df") >= 2) & (F.col("df") <= _SPAN_DF_CAP))
        .select("doc_id", "pos", "span")
        .transform(D.truncate_lineage)
    )
    a = hits.select(F.col("doc_id").alias("id_a"), F.col("pos").alias("pa"), "span")
    b = hits.select(F.col("doc_id").alias("id_b"), F.col("pos").alias("pb"), "span")
    pairs = (
        a.join(b, "span")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "pa", "pb", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    iw = W.partitionBy("id_a", "id_b", "diag").orderBy("pa")
    runs = (
        pairs.withColumn("island", F.col("pa") - F.row_number().over(iw))
        .groupBy("id_a", "id_b", "diag", "island")
        .agg(F.count(F.lit(1)).alias("runlen"))
    )
    return runs.groupBy("id_a", "id_b").agg(
        F.sum("runlen").alias("n_matches"),
        (F.max("runlen") + (_SPAN_LEN - 1)).alias("longest_run_tokens"),
    )


# --- benchmark-contamination check ---------------------------------------

_GRAM_LEN = 4
_CONTAM_FLAG = 0.5

_GRAMS4_SQL = (
    "list_distinct(list_transform(range(1, len(t) - 2),"
    " i -> array_to_string(t[i:i + 3], ' ')))"
)

_CONTAM_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= {_GRAM_LEN}
    ),
    g AS (SELECT doc_id, unnest({_GRAMS4_SQL}) AS gram FROM toks),
    ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % {EVAL_MOD} = 0),
    tr AS (
        SELECT doc_id, count(*) AS n_grams,
               count(*) FILTER (gram IN (SELECT gram FROM ev)) AS n_overlap
        FROM g WHERE doc_id % {EVAL_MOD} != 0 GROUP BY doc_id
    )
    SELECT doc_id, n_grams::BIGINT AS n_grams, n_overlap::BIGINT AS n_overlap,
           n_overlap / n_grams::DOUBLE AS overlap_frac,
           (CASE WHEN n_overlap / n_grams::DOUBLE >= {_CONTAM_FLAG}
                 THEN 1 ELSE 0 END)::BIGINT AS flagged
    FROM tr
"""


@register("text_contamination_eval_overlap", oracle=_CONTAM_ORACLE)
def text_contamination_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination: fraction of each training doc's
    distinct word {n}-grams that appear anywhere in the (broadcast)
    benchmark set; docs above {flag} are near-copies of eval items and
    get flagged.

    Scale shape: the eval side of the join is a *benchmark suite* —
    megabytes even for large eval batteries — so its distinct-gram set
    is explicitly broadcast and the train side streams map-side with no
    shuffle of the corpus; the only exchange is the per-doc count agg."""
    d = load_table_spread(spark, sf_dir, "documents", "doc_id")
    toks = tokens_col(F.col("text"))
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (_GRAM_LEN - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, _GRAM_LEN)),
        )
    )
    base = d.filter(F.size(toks) >= _GRAM_LEN).select(
        "doc_id", F.explode(grams).alias("gram")
    )
    ev = (
        base.filter(F.col("doc_id") % EVAL_MOD == 0)
        .select("gram")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    tr = base.filter(F.col("doc_id") % EVAL_MOD != 0)
    agg = (
        tr.join(F.broadcast(ev), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("hit").alias("n_overlap"),
        )
    )
    frac = F.col("n_overlap") / F.col("n_grams").cast("double")
    return agg.select(
        "doc_id",
        "n_grams",
        "n_overlap",
        # unrounded exact-integer ratio (bit-identical cross-engine;
        # the round-8 sf0.1 sweep tie class)
        frac.alias("overlap_frac"),
        F.when(frac >= _CONTAM_FLAG, F.lit(1)).otherwise(F.lit(0))
        .cast("long")
        .alias("flagged"),
    )


# --- semantic dedup survivors --------------------------------------------

# Same sign-bucket blocking as vec_neardup_pairs (plans/vectors.py),
# but with a cluster threshold tuned to the fixture's geometry: random
# synthetic embeddings are near-orthogonal (max in-bucket cosine ~0.47),
# so 0.30 plays the role 0.9+ plays for real text embeddings. Closest
# pair to the boundary across fixtures is 7.6e-5 away — far above
# cross-engine float-accumulation noise, so the raw-value threshold is
# parity-stable.
_SEMANTIC_THRESHOLD = 0.30
_SEMANTIC_ORACLE = f"""
    WITH RECURSIVE b AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               list_aggregate(list_transform(range(0, 8),
                   i -> CASE WHEN embedding[i + 1] > 0
                        THEN (1::BIGINT << i) ELSE 0 END), 'sum') AS bucket
        FROM embeddings
    ),
    edges AS (
        SELECT a.vec_id AS id_a, c.vec_id AS id_b
        FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
        WHERE list_dot_product(a.v, c.v)
              / (sqrt(list_aggregate(list_transform(a.v, x -> x*x), 'sum'))
                 * sqrt(list_aggregate(list_transform(c.v, x -> x*x), 'sum')))
              >= {_SEMANTIC_THRESHOLD}
    ),
    sym AS (
        SELECT id_a AS a, id_b AS b FROM edges
        UNION
        SELECT id_b AS a, id_a AS b FROM edges
    ),
    reach AS (
        SELECT a AS id, a AS lbl FROM sym
        UNION
        SELECT e.b AS id, r.lbl AS lbl FROM reach r JOIN sym e ON e.a = r.id
    ),
    comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id),
    sizes AS (SELECT component, count(*) AS n FROM comp GROUP BY component)
    SELECT e.vec_id, coalesce(z.n, 1)::BIGINT AS n_members
    FROM embeddings e
    LEFT JOIN comp c ON c.id = e.vec_id
    LEFT JOIN sizes z ON z.component = c.component
    WHERE c.id IS NULL OR c.component = e.vec_id
"""


@register("dedup_semantic_survivors", oracle=_SEMANTIC_ORACLE)
def dedup_semantic_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup final stage: embedding similarity pairs
    (sign-bucket blocked, cosine >= threshold) become edges; connected
    components (operators.dedup.connected_components: driver union-find
    within the broadcast bound T, BSP loop above it, the same min-id
    components either way) resolve transitive clusters; the min-id
    member of each cluster survives alongside every unclustered doc. `n_members` is the cluster size
    the survivor represents (1 for unique docs) — the weight a
    dedup-aware sampler would use downstream.

    Scale shape: the components relation only contains *clustered* docs
    (a small fraction of the corpus after blocking + 0.99 cosine), so
    both post-joins are dim-sized; left AQE to broadcast them."""
    emb = load_table(spark, sf_dir, "embeddings")
    b = emb.select(
        "vec_id",
        to_double_array("embedding").alias("v"),
        _bucket_col("embedding").alias("bucket"),
    )
    a = b.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"), "bucket")
    c = b.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), "bucket")
    edges = (
        a.join(c, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            cosine_similarity("va", "vb") >= _SEMANTIC_THRESHOLD
        )
        .select("id_a", "id_b")
    )
    comp = D.connected_components(edges)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("n"))
    e = load_table(spark, sf_dir, "embeddings").select("vec_id")
    return (
        e.join(comp, e["vec_id"] == comp["id"], "left")
        .join(sizes, "component", "left")
        .filter(F.col("id").isNull() | (F.col("component") == F.col("vec_id")))
        .select("vec_id", F.coalesce(F.col("n"), F.lit(1)).alias("n_members"))
    )


# ---------------------------------------------------------------------------
# The composed curation funnel: every gate above + the document-level
# passes from plans/text.py, applied in precedence order to produce ONE
# verdict per document — the relation a pretraining pipeline actually
# materializes before tokenization.
# ---------------------------------------------------------------------------

_CURATION_ORACLE = f"""
    WITH RECURSIVE d AS (
        SELECT doc_id, text, string_split(text, ' ') AS t FROM documents
    ),
    ex AS (
        SELECT doc_id,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM d
    ),
    g AS (
        SELECT doc_id, unnest({_GRAMS4_SQL}) AS gram
        FROM d WHERE len(t) >= {_GRAM_LEN}
    ),
    ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % {EVAL_MOD} = 0),
    cont AS (
        SELECT doc_id, count(*) AS n_grams,
               count(*) FILTER (gram IN (SELECT gram FROM ev)) AS n_hit
        FROM g GROUP BY doc_id
    ),
    qual AS (
        SELECT doc_id, len(t) AS n_toks,
               list_aggregate(list_transform(t, x -> len(x)), 'sum') AS sum_len
        FROM d
    ),
    b AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               list_aggregate(list_transform(range(0, 8),
                   i -> CASE WHEN embedding[i + 1] > 0
                        THEN (1::BIGINT << i) ELSE 0 END), 'sum') AS bucket
        FROM embeddings
    ),
    edges AS (
        SELECT a.vec_id AS id_a, c.vec_id AS id_b
        FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
        WHERE list_dot_product(a.v, c.v)
              / (sqrt(list_aggregate(list_transform(a.v, x -> x*x), 'sum'))
                 * sqrt(list_aggregate(list_transform(c.v, x -> x*x), 'sum')))
              >= {_SEMANTIC_THRESHOLD}
    ),
    sym AS (
        SELECT id_a AS a, id_b AS b FROM edges
        UNION SELECT id_b AS a, id_a AS b FROM edges
    ),
    reach AS (
        SELECT a AS id, a AS lbl FROM sym
        UNION SELECT e.b AS id, r.lbl AS lbl FROM reach r JOIN sym e ON e.a = r.id
    ),
    comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id),
    verdicts AS (
        SELECT d.doc_id,
               CASE
                   WHEN ex.rn > 1 THEN 'exact_duplicate'
                   WHEN coalesce(cont.n_hit / cont.n_grams::DOUBLE, 0)
                        >= {_CONTAM_FLAG} THEN 'contaminated'
                   WHEN NOT (qual.n_toks BETWEEN 10 AND 1000
                             AND qual.sum_len >= 2 * qual.n_toks
                             AND qual.sum_len <= 12 * qual.n_toks)
                       THEN 'low_quality'
                   WHEN comp.component IS NOT NULL
                        AND comp.component <> d.doc_id
                       THEN 'semantic_duplicate'
                   ELSE 'keep'
               END AS reason
        FROM d
        JOIN ex ON ex.doc_id = d.doc_id
        JOIN qual ON qual.doc_id = d.doc_id
        LEFT JOIN cont ON cont.doc_id = d.doc_id
        LEFT JOIN comp ON comp.id = d.doc_id
    )
    SELECT doc_id,
           CASE WHEN reason = 'keep' THEN 'keep' ELSE 'drop' END AS verdict,
           reason
    FROM verdicts
"""


@register("pipeline_curation_verdicts", oracle=_CURATION_ORACLE)
def pipeline_curation_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation decision per document, gates in precedence
    order: exact duplicate (md5 keep-first) -> benchmark contamination
    (4-gram overlap >= flag vs the eval set, eval members drop as their
    own near-copies) -> C4-ish quality bounds (10..1000 tokens, mean
    word length 2..12 — compared as integer cross-products, no float
    boundary) -> semantic duplicate (cosine cluster non-representative).
    Emits (doc_id, verdict, reason) — the audit trail a curation run
    ships with its output.

    Scale shape: three map-side per-doc feature passes + the gram
    explode and the (tiny) component relation from the gates above (the
    semantic gate's connected_components, finished on the driver while
    the edge graph is within the broadcast bound T, as in
    dedup_semantic_survivors); the
    final assembly is id-equi-joins AQE can broadcast (every gate
    relation except the doc ids themselves collapses to doc-count rows
    or less)."""
    d = load_table_spread(spark, sf_dir, "documents", "doc_id")
    toks = tokens_col(F.col("text"))

    # exact-dup rank + quality stats share ONE documents pass (the md5
    # window is the only exchange; the quality columns ride along free)
    exw = W.partitionBy(F.md5("text")).orderBy("doc_id")
    feat = d.select(
        "doc_id",
        F.row_number().over(exw).alias("rn"),
        F.size(toks).alias("n_toks"),
        F.aggregate(
            F.transform(toks, lambda x: F.length(x)),
            F.lit(0),
            lambda acc, x: acc + x,
        ).alias("sum_len"),
    )

    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (_GRAM_LEN - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, _GRAM_LEN)),
        )
    )
    g = d.filter(F.size(toks) >= _GRAM_LEN).select(
        "doc_id", F.explode(grams).alias("gram")
    )
    ev = (
        g.filter(F.col("doc_id") % EVAL_MOD == 0)
        .select("gram")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    cont = (
        g.join(F.broadcast(ev), "gram", "left")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_grams"), F.count("hit").alias("n_hit"))
    )

    emb = load_table(spark, sf_dir, "embeddings")
    bv = emb.select(
        "vec_id",
        to_double_array("embedding").alias("v"),
        _bucket_col("embedding").alias("bucket"),
    )
    ea = bv.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"), "bucket")
    ec = bv.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), "bucket")
    edges = (
        ea.join(ec, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine_similarity("va", "vb") >= _SEMANTIC_THRESHOLD)
        .select("id_a", "id_b")
    )
    comp = D.connected_components(edges)

    frac = F.coalesce(
        F.col("n_hit") / F.col("n_grams").cast("double"), F.lit(0.0)
    )
    quality_ok = (
        F.col("n_toks").between(10, 1000)
        & (F.col("sum_len") >= 2 * F.col("n_toks"))
        & (F.col("sum_len") <= 12 * F.col("n_toks"))
    )
    reason = (
        F.when(F.col("rn") > 1, F.lit("exact_duplicate"))
        .when(frac >= _CONTAM_FLAG, F.lit("contaminated"))
        .when(~quality_ok, F.lit("low_quality"))
        .when(
            F.col("component").isNotNull()
            & (F.col("component") != F.col("doc_id")),
            F.lit("semantic_duplicate"),
        )
        .otherwise(F.lit("keep"))
    )
    return (
        feat.join(cont, "doc_id", "left")
        .join(comp, feat["doc_id"] == comp["id"], "left")
        .select("doc_id", reason.alias("reason"))
        .select(
            "doc_id",
            F.when(F.col("reason") == "keep", F.lit("keep"))
            .otherwise(F.lit("drop"))
            .alias("verdict"),
            "reason",
        )
    )
