"""Text-analysis + dedup queries over `documents` ([north-star],
SURVEY.md §7 step 7).

The MinHash/SimHash stages use the portable md5-derived hash
(functions/hashing.py) so the DuckDB oracle reproduces every intermediate
integer exactly — the whole LSH pipeline is differential-tested, not just
smoke-tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from numalogic_prometheus_spark.functions.hashing import hash32_seeded_sql, hash32_sql
from numalogic_prometheus_spark.operators import dedup as D
from numalogic_prometheus_spark.operators import text as TX
from numalogic_prometheus_spark.plans import register
from numalogic_prometheus_spark.sources.tables import load_table, load_table_spread


@register(
    "text_stats",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, string_split(text, ' ') AS sp FROM documents
    )
    SELECT doc_id, lang,
           len(sp)::BIGINT AS n_tokens,
           len(list_distinct(sp))::BIGINT AS n_distinct,
           list_aggregate(list_transform(sp, t -> length(t)), 'sum')
               / len(sp)::DOUBLE AS avg_token_len,
           len(list_filter(sp, t -> t IN ({TX.STOPWORDS_SQL})))::DOUBLE
               / len(sp) AS stopword_ratio
    FROM toks
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + ratio stats per document — all row expressions,
    no shuffle at all (map-only at 100 TB)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "lang",
        TX.token_count("text").alias("n_tokens"),
        TX.distinct_token_count("text").alias("n_distinct"),
        # unrounded exact-integer ratios (see TX.quality_score note)
        TX.avg_token_len("text").alias("avg_token_len"),
        TX.stopword_ratio("text").alias("stopword_ratio"),
    )


@register(
    "text_quality_by_source",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS sp FROM documents
    ),
    scored AS (
        SELECT doc_id, source,
               (
                   len(list_distinct(sp))::DOUBLE / len(sp)
                   + least(len(sp) / 100.0, 1.0)
                   + least((len(list_filter(sp, t -> t IN ({TX.STOPWORDS_SQL})))::DOUBLE
                            / len(sp)) * 5, 1.0)
               ) / 3.0 AS quality
        FROM toks
    )
    SELECT source, count(*) AS n_docs,
           round(avg(quality), 6) AS avg_quality,
           min(quality) AS min_quality,
           max(quality) AS max_quality
    FROM scored
    GROUP BY source
    """,
)
def text_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring (diversity + length + stopword-rate heuristic)
    aggregated per source — the corpus-curation roll-up."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.select("source", TX.quality_score("text").alias("quality"))
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        # avg keeps its round: summing doubles is order-dependent, so
        # round(x, 6) is the load-bearing noise absorber there; min/max
        # of bit-identical per-doc doubles need none
        F.round(F.avg("quality"), 6).alias("avg_quality"),
        F.min("quality").alias("min_quality"),
        F.max("quality").alias("max_quality"),
    )


@register(
    "text_langid_confusion",
    oracle=f"""
    WITH feats AS (
        SELECT lang,
               len(list_filter(sp, t -> t IN ({TX.STOPWORDS_SQL})))::DOUBLE
                   / len(sp) AS sw,
               list_aggregate(list_transform(sp, t -> length(t)), 'sum')
                   / len(sp)::DOUBLE AS avg_len
        FROM (SELECT lang, string_split(text, ' ') AS sp FROM documents)
    )
    SELECT lang,
           CASE WHEN sw >= 0.08 THEN 'en'
                WHEN avg_len >= 5.5 THEN 'de'
                ELSE 'xx' END AS predicted_lang,
           count(*) AS n
    FROM feats
    GROUP BY 1, 2
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic vs the labeled lang column (confusion counts).
    Deterministic stand-in for an n-gram language model — same column
    contract, oracle-checkable thresholds."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "lang", TX.langid_heuristic("text").alias("predicted_lang")
    ).groupBy("lang", "predicted_lang").agg(F.count(F.lit(1)).alias("n"))


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_aggregate(
               list_transform(list_distinct(string_split(text, ' ')),
                              t -> {hash32_sql('t')}),
               'sum')::BIGINT % {TX.FP_MOD} AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent bag-of-words fingerprint (portable md5-derived
    hash — every integer reproduced by the oracle)."""
    d = load_table_spread(spark, sf_dir, "documents", "doc_id")
    return d.select(
        "doc_id", TX.doc_fingerprint("text").alias("fingerprint")
    )


@register(
    "dedup_exact_groups",
    oracle="""
    SELECT md5(text) AS text_hash,
           count(*) AS n_docs,
           min(doc_id) AS canonical_id
    FROM documents
    GROUP BY md5(text)
    HAVING count(*) > 1
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (hash-groupBy): duplicate groups with canonical id =
    min(doc_id). One exchange on the 128-bit text hash."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


@register(
    "dedup_exact_survivors",
    oracle="""
    SELECT doc_id FROM (
        SELECT doc_id,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents
    ) WHERE rn = 1
    """,
)
def dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keep-first: the surviving doc ids (the relation a
    pipeline would continue with)."""
    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id")
    )


# MinHash signature CTE shared by the LSH oracles: k=8 seeded min-hashes
# over distinct unigram tokens.
def _minhash_sig_sql(k: int = 8) -> str:
    mins = ",\n               ".join(
        "list_aggregate(list_transform(toks, t -> "
        + hash32_seeded_sql("t", seed)
        + "), 'min') AS h"
        + str(seed)
        for seed in range(k)
    )
    return f"""
        SELECT doc_id,
               {mins}
        FROM (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
              FROM documents)
    """


@register(
    "dedup_minhash_signatures",
    oracle=f"""
    WITH sigs AS ({_minhash_sig_sql(8)})
    SELECT doc_id, h0, h1, h2, h3, h4, h5, h6, h7 FROM sigs
    """,
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (k=8): the map-only stage of LSH dedup; every
    hash integer matches the oracle (portable md5-derived hashing)."""
    d = load_table(spark, sf_dir, "documents")
    sig = D.minhash_signature(D.tokens_col(F.col("text")), k=8)
    return d.select(
        "doc_id", *[F.element_at(sig, i + 1).alias(f"h{i}") for i in range(8)]
    )


# The verified near-dup edge threshold — single definition in
# operators/dedup.py, re-exported here for the oracle f-strings below
# and sample_split_by_cluster's shared-CTE oracle (sampling.py).
NEARDUP_JACCARD = D.NEARDUP_JACCARD

# Shared MinHash→LSH→exact-Jaccard edge CTE: sigs → one strict band
# (all 8 min-hashes — the fixture corpus's tiny shared vocabulary makes
# looser bands collide quadratically) → per-bucket canonical pairing
# (linear in cluster size) → exact hashed-token-set Jaccard on
# candidates only → the thresholded `edges` relation. Reused by
# dedup_minhash_lsh_pairs' oracle and by sample_split_by_cluster's
# recursive-component oracle (sampling.py), THRESHOLD INCLUDED, so the
# two entries can never disagree on the edge definition.
_MINHASH_PAIRS_CTE = f"""
    WITH sigs AS ({_minhash_sig_sql(8)}),
    banded AS (
        SELECT doc_id,
               h0::VARCHAR || '_' || h1::VARCHAR || '_' || h2::VARCHAR || '_'
               || h3::VARCHAR || '_' || h4::VARCHAR || '_' || h5::VARCHAR
               || '_' || h6::VARCHAR || '_' || h7::VARCHAR AS band_key
        FROM sigs
    ),
    cands AS (
        SELECT DISTINCT c.id_a, b.doc_id AS id_b
        FROM banded b
        JOIN (SELECT band_key, min(doc_id) AS id_a
              FROM banded GROUP BY band_key) c
          ON b.band_key = c.band_key AND b.doc_id != c.id_a
    ),
    -- verify on hashed token sets (8-byte ints, same portable hash both
    -- engines ⇒ identical hash-distinct intersection counts)
    toksets AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   list_distinct(string_split(text, ' ')),
                   t -> {hash32_sql('t')})) AS toks
        FROM documents
    ),
    scored AS (
        SELECT c.id_a, c.id_b,
               len(list_intersect(ta.toks, tb.toks))::DOUBLE
                   / (len(ta.toks) + len(tb.toks)
                      - len(list_intersect(ta.toks, tb.toks))) AS jaccard
        FROM cands c
        JOIN toksets ta ON ta.doc_id = c.id_a
        JOIN toksets tb ON tb.doc_id = c.id_b
    ),
    edges AS (
        SELECT id_a, id_b, jaccard
        FROM scored WHERE jaccard >= {NEARDUP_JACCARD}
    )
"""


@register(
    "dedup_minhash_lsh_pairs",
    oracle=f"""{_MINHASH_PAIRS_CTE}
    SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM edges
    """,
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash→LSH→verify near-dup pipeline: signatures (map-only) →
    band bucket (one exchange) → candidate pairs → exact unigram Jaccard
    on candidates only (sub-quadratic; the full O(n²) never happens).

    Band tuning is corpus-dependent: the fixture's tiny shared vocabulary
    makes loose unigram bands collide quadratically, so this query uses
    one strict band (all 8 min-hashes) — near-exact unigram dedup — and
    pairs each doc with its bucket canonical only (linear output; the
    all-pairs form is quadratic in duplicate-cluster size). The shingle
    variant below is the looser/realistic-selectivity path."""
    d = load_table_spread(spark, sf_dir, "documents", "doc_id")
    # The shared featurizer's two pins: the distinct-token arrays (so the
    # k seed branches read a bound column, not k+1 re-runs of the split),
    # then one compact (sig, toks) row per doc, read by the banding
    # self-join sides and both verify legs; the verify is a per-row
    # array_intersect Jaccard on the hashed int sets.
    feat = D.minhash_band_features(d, k=8)
    cands = D.lsh_canonical_pairs(feat, "doc_id", "sig", bands=1, rows=8)
    scored = D.jaccard_by_sets(cands, feat, "doc_id", "toks")
    return scored.filter(F.col("jaccard") >= NEARDUP_JACCARD).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


@register(
    "text_simhash_signatures",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        FROM documents
    ),
    votes AS (
        SELECT doc_id,
               list_transform(range(0, 32), j ->
                   list_aggregate(
                       list_transform(toks, t ->
                           (({hash32_sql('t')} >> j) & 1) * 2 - 1),
                       'sum')
               ) AS v
        FROM toks
    )
    SELECT doc_id,
           list_aggregate(
               list_transform(range(0, 32),
                              j -> CASE WHEN v[j + 1] > 0
                                        THEN (1::BIGINT << j) ELSE 0 END),
               'sum')::BIGINT AS simhash
    FROM votes
    """,
)
def text_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures: 32 sign-voted bits per doc, pure row expression
    (zero shuffle). Near-dup candidates = small Hamming distance; the
    pairing stage reuses LSH banding on signature prefixes at scale."""
    d = load_table_spread(spark, sf_dir, "documents", "doc_id")
    return d.select(
        "doc_id",
        D.simhash_signature(D.tokens_col(F.col("text")), bits=32).alias("simhash"),
    )


_SIMHASH_CTE = f"""
    WITH toks AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        FROM documents
    ),
    votes AS (
        SELECT doc_id,
               list_transform(range(0, 32), j ->
                   list_aggregate(
                       list_transform(toks, t ->
                           (({hash32_sql('t')} >> j) & 1) * 2 - 1),
                       'sum')
               ) AS v
        FROM toks
    ),
    sigs AS (
        SELECT doc_id,
               list_aggregate(
                   list_transform(range(0, 32),
                                  j -> CASE WHEN v[j + 1] > 0
                                            THEN (1::BIGINT << j) ELSE 0 END),
                   'sum')::BIGINT AS simhash
        FROM votes
    )
"""


@register(
    "dedup_simhash_pairs",
    oracle=_SIMHASH_CTE
    + """
    , banded AS (
        SELECT doc_id, simhash, b AS band_idx,
               (simhash >> (b * 8)) & 255 AS band_key
        FROM sigs, (VALUES (0), (1), (2), (3)) bands(b)
    ),
    canon AS (
        SELECT band_idx, band_key, min(doc_id) AS id_a
        FROM banded GROUP BY band_idx, band_key
    ),
    cands AS (
        SELECT DISTINCT c.id_a, b.doc_id AS id_b
        FROM banded b
        JOIN canon c ON b.band_idx = c.band_idx AND b.band_key = c.band_key
                    AND b.doc_id != c.id_a
    )
    SELECT cd.id_a, cd.id_b,
           bit_count(xor(sa.simhash, sb.simhash))::INTEGER AS hamming
    FROM cands cd
    JOIN sigs sa ON sa.doc_id = cd.id_a
    JOIN sigs sb ON sb.doc_id = cd.id_b
    WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 6
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 4×8-bit bands of the 32-bit signature give
    candidates (standard SimHash blocking — a small-Hamming pair agrees on
    at least one byte-band with high probability); each doc pairs with its
    band-bucket canonical only (linear output — all-pairs was quadratic on
    this corpus's dense signature clusters); verify with exact Hamming via
    bit_count(xor)."""
    d = load_table_spread(spark, sf_dir, "documents", "doc_id")
    sigs = d.select(
        "doc_id",
        D.simhash_signature(D.tokens_col(F.col("text")), bits=32).alias("simhash"),
    )
    banded = sigs.select(
        "doc_id",
        "simhash",
        F.explode(F.array(*[F.lit(b) for b in range(4)])).alias("band_idx"),
    ).withColumn(
        # shift amount is a column, so use exact power-of-two arithmetic
        # (simhash < 2^32 ≪ 2^53) instead of shiftright (int-only bits)
        "band_key",
        (
            F.floor(F.col("simhash") / F.pow(F.lit(2.0), F.col("band_idx") * 8))
            .cast("long")
            % 256
        ),
    )
    # The canonical member's signature rides along via min_by, and the
    # candidate's own signature is already on the banded row — so no
    # join back to `sigs` at all. (Round 1 broadcast the full signature
    # relation twice here: an OOM at 100× corpus — VERDICT.md #4.)
    # canon's groupBy and the join below hash-partition the same `banded`
    # subtree on the same keys, so Catalyst reuses one exchange and the
    # md5 simhash expressions are computed once.
    canon = banded.groupBy("band_idx", "band_key").agg(
        F.min("doc_id").alias("id_a"),
        F.min_by("simhash", "doc_id").alias("sim_a"),
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        banded.join(canon, ["band_idx", "band_key"])
        .filter(F.col("doc_id") != F.col("id_a"))
        .select(
            "id_a",
            "sim_a",
            F.col("doc_id").alias("id_b"),
            F.col("simhash").alias("sim_b"),
        )
        # Hamming filter BEFORE the dedup exchange (r17, guide §2.3
        # "project/filter before the exchange"): the predicate is
        # row-deterministic, so filter∘distinct ≡ distinct∘filter, and
        # only surviving near-dup pairs pay the shuffle instead of
        # every (band, candidate) collision.
        .filter(hamming <= 6)
        .distinct()  # sim_a/sim_b are functions of the ids: safe under distinct
        .select("id_a", "id_b", hamming.cast("int").alias("hamming"))
    )


_SHINGLE_HASH_SQL = f"""
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len(th) - 2, 1) + 1),
                   i -> (th[i] * {D.SHINGLE_C[0]}
                         + coalesce(th[i + 1], 0) * {D.SHINGLE_C[1]}
                         + coalesce(th[i + 2], 0) * {D.SHINGLE_C[2]})
                        % {D.SHINGLE_MOD})) AS hset
        FROM (SELECT doc_id,
                     list_transform(string_split(text, ' '),
                                    t -> {hash32_sql('t')}) AS th
              FROM documents)
"""
_SHINGLE_SIG_SQL = ",\n               ".join(
    f"list_aggregate(list_transform(hset, x -> (x * {P} + {Q}) % "
    f"{D.SHINGLE_MOD}), 'min') AS h{i}"
    for i, (P, Q) in enumerate(D.MINHASH_INT_SEEDS)
)


@register(
    "dedup_shingle_minhash_pairs",
    oracle=f"""
    WITH sh AS ({_SHINGLE_HASH_SQL}),
    sigs AS (
        SELECT doc_id,
               {_SHINGLE_SIG_SQL}
        FROM sh
    ),
    banded AS (
        SELECT doc_id, band_idx,
               CASE band_idx WHEN 0 THEN h0::VARCHAR || '_' || h1::VARCHAR
                             ELSE h2::VARCHAR || '_' || h3::VARCHAR END AS band_key
        FROM sigs, (VALUES (0), (1)) bands(band_idx)
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    scored AS (
        SELECT c.id_a, c.id_b,
               len(list_intersect(sa.hset, sb.hset))::DOUBLE
                   / (len(sa.hset) + len(sb.hset)
                      - len(list_intersect(sa.hset, sb.hset)))
                   AS shingle_jaccard
        FROM cands c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b
    )
    SELECT id_a, id_b, round(shingle_jaccard, 6) AS shingle_jaccard
    FROM scored WHERE shingle_jaccard >= 0.2
    """,
)
def dedup_shingle_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram (3-token shingle) Jaccard near-dup: MinHash→LSH→verify over
    shingle sets (k=4, 2 bands) — shingles preserve local word order,
    catching reorder-invariant unigram false positives.

    Shingles are hashed ARITHMETICALLY (Rabin-Karp-style polynomial over
    the token hashes): after one md5 pass per token everything up to the
    band exchange is integer math. The corpus pass runs as one
    vectorized Arrow kernel (operators/dedup.py shingle_features_arrow,
    bit-identical to the JVM expression route it replaced). The MinHash
    seeds are affine maps (x·P+Q mod 2^32) mirrored exactly in the
    oracle."""
    d = load_table_spread(spark, sf_dir, "documents", "doc_id")
    # ONE eager localCheckpoint off ONE vectorized Arrow pass (r18,
    # guide §4.2; VERDICT r17 #4): the r17 shape computed the per-token
    # md5 inside an interpreted higher-order-function lambda and needed
    # two sequential pins (hset arrays, then compact sigs) — 2.3 s of
    # the 3.65 s entry at sf0.1. shingle_features_arrow hands whole
    # batches to hashlib/numpy and emits hset AND sig together, so the
    # corpus pass materializes once (measured 2.24 → 0.94 s for the
    # full entry, OPTIMIZATION_r18.md §2, outputs asserted identical; the
    # bit-exactness of the Python kernel vs the JVM expressions is
    # pinned by tests/test_shingle_arrow_kernel.py). Both legs project
    # from the checkpoint: the banding leg reads only (doc_id, sig),
    # the verify legs only (doc_id, hset).
    feats = D.shingle_features_arrow(d, k=4, w=3).transform(
        D.truncate_lineage
    )
    hsets = feats.select("doc_id", "hset")
    sigs = feats.select("doc_id", "sig")
    cands = D.lsh_candidate_pairs(sigs, "doc_id", "sig", bands=2, rows=2)
    scored = D.jaccard_by_sets(cands, hsets, "doc_id", "hset")
    return scored.filter(F.col("jaccard") >= 0.2).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("shingle_jaccard")
    )


_SIMHASH_EDGES_SQL = """
    , banded AS (
        SELECT doc_id, simhash, b AS band_idx,
               (simhash >> (b * 8)) & 255 AS band_key
        FROM sigs, (VALUES (0), (1), (2), (3)) bands(b)
    ),
    canon AS (
        SELECT band_idx, band_key, min(doc_id) AS id_a
        FROM banded GROUP BY band_idx, band_key
    ),
    cands AS (
        SELECT DISTINCT c.id_a, b.doc_id AS id_b
        FROM banded b
        JOIN canon c ON b.band_idx = c.band_idx AND b.band_key = c.band_key
                    AND b.doc_id != c.id_a
    ),
    edges AS (
        SELECT cd.id_a, cd.id_b
        FROM cands cd
        JOIN sigs sa ON sa.doc_id = cd.id_a
        JOIN sigs sb ON sb.doc_id = cd.id_b
        WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 6
    )
"""


@register(
    "dedup_cluster_components",
    oracle=_SIMHASH_CTE.replace("WITH toks", "WITH RECURSIVE toks", 1)
    + _SIMHASH_EDGES_SQL
    + """
    , sym AS (
        SELECT id_a AS a, id_b AS b FROM edges
        UNION
        SELECT id_b AS a, id_a AS b FROM edges
    ),
    reach AS (
        SELECT a AS id, a AS lbl FROM sym
        UNION
        SELECT e.b AS id, r.lbl AS lbl
        FROM reach r JOIN sym e ON e.a = r.id
    )
    SELECT id AS doc_id, min(lbl)::BIGINT AS component
    FROM reach GROUP BY id
    """,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution ([north-star] dedup final stage): the
    SimHash near-dup pairs become edges of an undirected graph; connected
    components assign every clustered doc its canonical (min-id) survivor.
    Spark side is operators.dedup.connected_components: union-find on
    the driver while the edge graph is within the broadcast bound T,
    BSP min-label propagation with pointer doubling above it. Both give
    min-id components, the fixpoint the oracle's DuckDB recursive CTE
    computes, so the differential harness checks either path exactly."""
    edges = dedup_simhash_pairs(spark, sf_dir).select("id_a", "id_b")
    comp = D.connected_components(edges)
    return comp.select(F.col("id").alias("doc_id"), "component")


@register(
    "dedup_incremental_batch",
    oracle=f"""
    WITH sigs AS ({_minhash_sig_sql(8)}),
    banded AS (
        SELECT doc_id,
               h0::VARCHAR || '_' || h1::VARCHAR || '_' || h2::VARCHAR || '_'
               || h3::VARCHAR || '_' || h4::VARCHAR || '_' || h5::VARCHAR
               || '_' || h6::VARCHAR || '_' || h7::VARCHAR AS band_key
        FROM sigs
    ),
    -- the "index": one canonical (min doc_id) per band bucket — in
    -- production this tiny relation is precomputed and stored
    idx AS (
        SELECT band_key, min(doc_id) AS canon FROM banded GROUP BY band_key
    ),
    toksets AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   list_distinct(string_split(text, ' ')),
                   t -> {{hash32}})) AS toks
        FROM documents
    ),
    batch AS (
        SELECT b.doc_id, i.canon
        FROM banded b JOIN idx i ON b.band_key = i.band_key
        WHERE b.doc_id % 5 = 0
    ),
    scored AS (
        SELECT bt.doc_id, bt.canon,
               CASE WHEN bt.canon < bt.doc_id THEN
                   len(list_intersect(ta.toks, tb.toks))::DOUBLE
                   / (len(ta.toks) + len(tb.toks)
                      - len(list_intersect(ta.toks, tb.toks)))
               ELSE NULL END AS jaccard
        FROM batch bt
        JOIN toksets ta ON ta.doc_id = bt.doc_id
        JOIN toksets tb ON tb.doc_id = bt.canon
    )
    SELECT doc_id,
           CASE WHEN jaccard >= {NEARDUP_JACCARD} THEN 'duplicate' ELSE 'new' END
               AS verdict,
           CASE WHEN jaccard >= {NEARDUP_JACCARD} THEN canon ELSE NULL END AS dup_of,
           CASE WHEN jaccard >= {NEARDUP_JACCARD} THEN round(jaccard, 6)
                ELSE NULL END AS jaccard
    FROM scored
    """.replace("{hash32}", hash32_sql("t")),
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: an incoming batch (doc_id % 5 == 0 as a
    deterministic 20% "new" slice) is checked against the corpus via the
    per-bucket canonical INDEX, never against the whole corpus. The index
    (band_key → min doc_id) is the tiny precomputed relation a production
    pipeline maintains across snapshots; candidates are batch × index on
    band_key (broadcast — index is ≤ #buckets rows), verified with exact
    Jaccard against the canonical only. 100 TB shape: new×index work per
    ingest, not corpus×corpus; the index update (min merge) is itself
    re-aggregable. Emits one verdict row per batch doc
    (new / duplicate-of)."""
    d = load_table_spread(spark, sf_dir, "documents", "doc_id")
    # Shared featurization (operators/dedup.py minhash_band_features):
    # the streaming sink uses the same function, so k/tokenizer/hash
    # cannot drift between the batch and streaming verdicts.
    feat = D.minhash_band_features(d, k=8)
    banded = feat.select(
        "doc_id", D.single_band_key(F.col("sig"), k=8).alias("band_key")
    )
    idx = banded.groupBy("band_key").agg(F.min("doc_id").alias("canon"))
    batch = (
        banded.filter(F.col("doc_id") % 5 == 0)
        .join(F.broadcast(idx), "band_key")
        .select("doc_id", "canon")
    )
    toks = feat.select("doc_id", "toks")
    scored = (
        batch.join(
            toks.select(F.col("doc_id").alias("doc_id"), F.col("toks").alias("__ta")),
            "doc_id",
        )
        .join(
            toks.select(F.col("doc_id").alias("canon"), F.col("toks").alias("__tb")),
            "canon",
        )
        .withColumn(
            "jaccard",
            F.when(
                F.col("canon") < F.col("doc_id"),
                F.size(F.array_intersect("__ta", "__tb")).cast("double")
                / (
                    F.size("__ta")
                    + F.size("__tb")
                    - F.size(F.array_intersect("__ta", "__tb"))
                ),
            ),
        )
    )
    dup = F.col("jaccard") >= NEARDUP_JACCARD
    return scored.select(
        "doc_id",
        F.when(dup, F.lit("duplicate")).otherwise(F.lit("new")).alias(
            "verdict"
        ),
        F.when(dup, F.col("canon")).alias("dup_of"),
        F.when(dup, F.round("jaccard", 6)).alias("jaccard"),
    )
