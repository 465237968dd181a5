"""Training-data chunking + keyword extraction, round 9:
RAG/pretraining-style overlapping document chunking, and TF-IDF
top-term extraction per document.

Every context-window pipeline (RAG indexing, pretraining example prep,
long-doc eval harnesses) starts by splitting documents into fixed-size
overlapping chunks with stable, reproducible chunk identities. The
reference pipeline never re-chunks (its unit is the metric window,
numaprom/udf/window.py); this is the [north-star] LLM-curation
extension over `documents`, the chunk-grain sibling of
`dedup_substring_spans`' token windows (plans/text4.py).

Semantics: chunk starts are the arithmetic ladder 0, S, 2S, … < n_chars
(stride S = CHUNK_SIZE − OVERLAP), each chunk the CHUNK_SIZE-char
substring from its start (the final chunk is shorter when the tail
runs out). Chunk identity is (doc_id, chunk_idx) with chunk_idx =
start / S; the chunk body ships as its md5 (hex, both engines
lowercase) so the relation stays narrow while remaining
content-addressed — the downstream exact-dedup / contamination passes
join on the hash, never the text.

Scale (100 TB design): the explode is MAP-SIDE whole-stage codegen —
`posexplode(sequence(0, n−1, S))` fans each document out to its ~n/S
chunk rows with NO shuffle, no UDF, no driver involvement; output
partitioning inherits the scan's. Per-task memory is bounded by one
document's chunk list (≤ len/S starts, integers). The substring +
md5 are JVM expressions. A 100 TB corpus chunks in one embarrassingly
parallel scan-project pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from numalogic_prometheus_spark.operators.text import EVAL_MOD
from numalogic_prometheus_spark.plans import register
from numalogic_prometheus_spark.sources.tables import load_table

_CHUNK = 128  # chars per chunk
_STRIDE = 96  # chunk starts every STRIDE chars -> 32-char overlap


@register(
    "text_chunk_overlap",
    oracle=f"""
    SELECT doc_id,
           s // {_STRIDE} AS chunk_idx,
           s AS chunk_start,
           length(substring(text, s + 1, {_CHUNK}))::BIGINT AS chunk_len,
           md5(substring(text, s + 1, {_CHUNK})) AS chunk_md5
    FROM (
        SELECT doc_id, text, unnest(range(0, length(text), {_STRIDE})) AS s
        FROM documents
    )
    """,
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size chunking of every document: 128-char
    chunks every 96 chars (32-char overlap), content-addressed by md5
    (module docstring). `posexplode(sequence(...))` keeps the fan-out
    map-side in codegen — chunk_idx IS the ladder position, so Spark's
    posexplode ordinal equals the oracle's start/STRIDE without a
    division."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = F.length("text")
    # sequence(0, -1, S) THROWS (it does not return an empty array):
    # an empty document must produce zero chunks, not kill the stage
    # (caught by tests/test_properties.py::test_chunk_ladder_property)
    starts = F.when(n > 0, F.sequence(F.lit(0), n - 1, F.lit(_STRIDE)))
    chunked = docs.select(
        "doc_id",
        "text",
        F.posexplode(starts).alias("chunk_idx", "chunk_start"),
    )
    body = F.substring(
        F.col("text"), F.col("chunk_start") + 1, _CHUNK
    )
    return chunked.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("chunk_start").cast("long").alias("chunk_start"),
        F.length(body).cast("long").alias("chunk_len"),
        F.md5(body.cast("binary")).alias("chunk_md5"),
    )


@register(
    "text_tfidf_topterms",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, count(*)::BIGINT AS tf
        FROM tok WHERE term <> '' GROUP BY doc_id, term
    ),
    dl AS (
        SELECT doc_id, term, tf,
               sum(tf) OVER (PARTITION BY doc_id)::BIGINT AS dl
        FROM tf
    ),
    df AS (
        SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term
    ),
    corpus AS (
        SELECT count(DISTINCT doc_id)::BIGINT AS n_docs FROM tf
    ),
    ranked AS (
        SELECT l.doc_id, l.term, l.tf, l.dl, d.df, c.n_docs,
               row_number() OVER (PARTITION BY l.doc_id
                                  ORDER BY l.tf DESC, d.df ASC,
                                           l.term ASC) AS rank
        FROM dl l JOIN df d USING (term) CROSS JOIN corpus c
    )
    SELECT doc_id, rank, term, tf, df, dl,
           round((tf / dl) * (ln((1.0 + n_docs) / (1.0 + df)) + 1.0), 6)
               AS tfidf
    FROM ranked WHERE rank <= 3
    """,
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: 3 keywords per document selected by
    the deterministic tf-major rule (tf DESC, then rarity df ASC, then
    term ASC), each emitted with its sklearn-smoothed score
    (tf/dl) · (ln((1+N)/(1+df)) + 1).

    Exactness discipline: the RANKING never touches the transcendental
    — a rank on the ln-based score itself could flip across engines at
    near-ties (libm ulp divergence, the round-8 tie class in rank
    clothing), so selection uses the exact integer key, which is
    tie-free because term is unique within a document. The tf-major
    key agrees with the score order whenever tf differs at equal
    rarity or rarity differs at equal tf; where a rarer lower-tf term
    would outscore a commoner higher-tf one the rule deliberately
    prefers tf — a documented, portable contract rather than a
    cross-engine coin flip. The displayed tfidf is computed AFTER
    selection with the identical operand sequence on both engines,
    rounded at 6 — the ln( absorber of tests/test_rounding_lint.py
    (libm, no cross-libm bit guarantee).

    Scale (100 TB design): tf is one exchange on (doc_id, term) with
    map-side combine; df is a groupBy(term) whose partial aggregation
    collapses stopword skew ("the" shrinks to one row per map task
    BEFORE the exchange) and rejoins on term under AQE's skew-join —
    deliberately a join, NOT a count-over-window by term, which would
    haul every (doc, "the") row to one reducer unaggregated. dl rides
    a window over doc_id (per-doc row counts are bounded by doc
    vocabulary). N is a one-row broadcast crossJoin (bounded;
    test_plan_shape pins crossJoin boundedness). Top-3 is the
    rank-within-partition pattern — no global sort."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    from pyspark.sql import Window as W

    dl = tf.withColumn(
        "dl", F.sum("tf").over(W.partitionBy("doc_id")).cast("long")
    )
    df_rel = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    corpus = tf.agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs")
    )
    joined = dl.join(df_rel, "term").crossJoin(F.broadcast(corpus))
    rank = F.row_number().over(
        W.partitionBy("doc_id").orderBy(
            F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
        )
    )
    ranked = joined.withColumn("rank", rank).filter(F.col("rank") <= 3)
    score = F.round(
        (F.col("tf") / F.col("dl"))
        * (
            F.log(
                (F.lit(1.0) + F.col("n_docs"))
                / (F.lit(1.0) + F.col("df"))
            )
            + F.lit(1.0)
        ),
        6,
    )
    return ranked.select(
        "doc_id",
        F.col("rank").cast("long").alias("rank"),
        "term",
        "tf",
        "df",
        "dl",
        score.alias("tfidf"),
    )


# ---------------------------------------------------------------------------
# ROUND 10 — chunk-grain contamination (VERDICT r9 #6): the join that
# text_chunk_overlap's content-addressing exists FOR. Doc-grain n-gram
# contamination (text_contamination_eval_overlap, plans/text4.py) asks
# "does this training doc share phrases with the benchmark set"; the
# chunk grain asks the question RAG/pretraining dedup actually ships:
# which exact context-window chunks of the training corpus appear
# verbatim in the eval corpus — catching doc-level copies, partial
# copies and boilerplate sections alike, at the same chunk identity the
# serving index uses.
# ---------------------------------------------------------------------------

_CHUNK_FLAG = 0.5


@register(
    "text_chunk_contamination",
    oracle=f"""
    WITH ch AS (
        SELECT doc_id, md5(substring(text, s + 1, {_CHUNK})) AS h
        FROM (
            SELECT doc_id, text,
                   unnest(range(0, length(text), {_STRIDE})) AS s
            FROM documents
        )
    ),
    ev AS (SELECT DISTINCT h FROM ch WHERE doc_id % {EVAL_MOD} = 0),
    tr AS (
        SELECT doc_id, count(*) AS n_chunks,
               count(*) FILTER (h IN (SELECT h FROM ev)) AS n_overlap
        FROM ch WHERE doc_id % {EVAL_MOD} != 0 GROUP BY doc_id
    )
    SELECT doc_id, n_chunks::BIGINT AS n_chunks,
           n_overlap::BIGINT AS n_overlap,
           n_overlap / n_chunks::DOUBLE AS overlap_frac,
           (CASE WHEN n_overlap / n_chunks::DOUBLE >= {_CHUNK_FLAG}
                 THEN 1 ELSE 0 END)::BIGINT AS flagged
    FROM tr
    """,
)
def text_chunk_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-vs-eval chunk-hash overlap: per training document, the
    fraction of its 128/96 ladder chunks (text_chunk_overlap's exact
    identity) whose md5 appears anywhere in the benchmark corpus
    (doc_id % 11 == 0); ≥ 0.5 flags the doc as an eval near-copy.

    Scale shape mirrors the doc-grain sibling
    (text_contamination_eval_overlap): the eval side is a benchmark
    suite — its DISTINCT chunk-hash set is megabytes and broadcast — so
    the training corpus chunks map-side (posexplode in codegen) and
    streams through the hash probe with NO shuffle; the only exchange
    is the per-doc count aggregation. Golden with a planted cross-corpus
    chunk: tests/test_chunk_contamination_golden.py."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = F.length("text")
    starts = F.when(n > 0, F.sequence(F.lit(0), n - 1, F.lit(_STRIDE)))
    body = F.substring(F.col("text"), F.col("chunk_start") + 1, _CHUNK)
    ch = docs.select(
        "doc_id", "text", F.posexplode(starts).alias("chunk_idx", "chunk_start")
    ).select("doc_id", F.md5(body.cast("binary")).alias("h"))
    ev = (
        ch.filter(F.col("doc_id") % EVAL_MOD == 0)
        .select("h")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    tr = ch.filter(F.col("doc_id") % EVAL_MOD != 0)
    agg = (
        tr.join(F.broadcast(ev), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.count("hit").alias("n_overlap"),
        )
    )
    frac = F.col("n_overlap") / F.col("n_chunks").cast("double")
    return agg.select(
        "doc_id",
        "n_chunks",
        "n_overlap",
        # unrounded exact-integer ratio (bit-identical cross-engine)
        frac.alias("overlap_frac"),
        F.when(frac >= _CHUNK_FLAG, F.lit(1)).otherwise(F.lit(0))
        .cast("long")
        .alias("flagged"),
    )


# ---------------------------------------------------------------------------
# ROUND 11 — semantic contamination (VERDICT r10 #5): the paraphrase
# grain. text_contamination_eval_overlap catches verbatim n-grams,
# text_chunk_contamination catches verbatim chunks; neither sees an
# eval item REWRITTEN into the training corpus. At embedding grain a
# paraphrase is a near-neighbor, so the check is: eval embeddings probe
# the shared IVF index (operators/ivf.py — centroids are a full-corpus
# artifact), candidates are the training vectors in the probed cells
# only, and a cosine above the threshold flags the training item as a
# semantic copy of a benchmark item.
# ---------------------------------------------------------------------------

from numalogic_prometheus_spark.operators import ivf  # noqa: E402
from numalogic_prometheus_spark.streaming.semantic_contamination import (  # noqa: E402
    SEM_THRESHOLD as _SEM_THRESHOLD,
    contamination_partials,
    flag_contaminated,
)


@register(
    "text_semantic_contamination",
    oracle=f"""
    WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cents AS (SELECT vec_id AS cent_id, v AS cv FROM b
              WHERE {ivf.CENTROID_FILTER}),
    assign AS (
        SELECT vec_id, arg_min(cent_id, {ivf.key_sql('b.v')}) AS cell
        FROM b CROSS JOIN cents c
        WHERE b.vec_id % {EVAL_MOD} != 0
        GROUP BY vec_id
    ),
    probes AS (
        SELECT vec_id AS eval_id, cent_id AS cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY {ivf.key_sql('b.v')}) AS rn
        FROM b CROSS JOIN cents c
        WHERE b.vec_id % {EVAL_MOD} = 0
    ),
    cand AS (
        SELECT p.eval_id, a.vec_id AS train_id
        FROM probes p JOIN assign a ON a.cell = p.cell
        WHERE p.rn <= {ivf.NPROBE}
    ),
    sc AS (
        SELECT c.train_id,
               {ivf.COS_SQL.format(a='qv.v', b='nv.v')} AS cos
        FROM cand c
        JOIN b qv ON qv.vec_id = c.eval_id
        JOIN b nv ON nv.vec_id = c.train_id
    ),
    hits AS (
        SELECT train_id AS vec_id,
               count(*)::BIGINT AS n_eval_candidates,
               sum(CASE WHEN cos >= {_SEM_THRESHOLD}
                        THEN 1 ELSE 0 END)::BIGINT AS n_eval_hits,
               round(max(cos), 6) AS max_cos
        FROM sc GROUP BY train_id
    )
    SELECT t.vec_id,
           coalesce(h.n_eval_candidates, 0)::BIGINT AS n_eval_candidates,
           coalesce(h.n_eval_hits, 0)::BIGINT AS n_eval_hits,
           h.max_cos,
           (CASE WHEN coalesce(h.n_eval_hits, 0) > 0
                 THEN 1 ELSE 0 END)::BIGINT AS flagged
    FROM (SELECT vec_id FROM embeddings
          WHERE vec_id % {EVAL_MOD} != 0) t
    LEFT JOIN hits h USING (vec_id)
    """,
)
def text_semantic_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-vs-eval contamination at EMBEDDING grain: for every
    training vector (vec_id % 11 != 0), the number of benchmark items
    (vec_id % 11 == 0) whose IVF-probed cosine reaches the paraphrase
    threshold, the max such cosine, and a contaminated flag — the
    SemDeDup-style complement of the verbatim n-gram / chunk-hash
    passes (text4.py / above).

    Scale shape (the vec_ivf_filtered_topk posture, plans/vectors3.py):
    the eval suite is a benchmark — thousands of items against a 100 TB
    corpus — so the probe relation (eval × nprobe cells) BROADCASTS;
    the training corpus is cell-assigned in one N×C broadcast expansion
    (the index is the shared full-corpus artifact, trained once), and
    the exact cosine runs only on candidates inside probed cells, a
    nprobe/n_cells fraction of the corpus. No corpus self-join, no
    cartesian (pinned: tests/test_plan_shape.py); the only exchanges
    are the assignment aggregation and the per-train-doc rollup.
    Deterministic (composite argmin key, threshold compare on
    bit-identical folds) hence DuckDB-expressible; golden with a
    planted paraphrase pair: tests/test_semantic_contamination_golden.py.
    """
    from numalogic_prometheus_spark.sources.tables import load_table_spread

    e = load_table_spread(spark, sf_dir, "embeddings", "vec_id")
    b = ivf.featurize(e)
    cents = ivf.centroids(b)
    index = ivf.assign_cells(
        b.filter(F.col("vec_id") % EVAL_MOD != 0), cents
    )
    probes = ivf.probe_cells(
        ivf.query_keys(b.filter(F.col("vec_id") % EVAL_MOD == 0), cents)
    )
    hits = contamination_partials(probes, index).withColumn(
        "max_cos", F.round("max_cos", 6)
    )
    return flag_contaminated(
        e.select("vec_id").filter(F.col("vec_id") % EVAL_MOD != 0), hits
    )
