"""Training-data quality gates, round 3: Gopher-style repetition
filters and PII pattern redaction over `documents`.

The Gopher/C4 cleaning rules (Rae et al. 2021 §A1.1; Raffel et al.
2020) are threshold predicates over per-document token statistics:
repetition fractions, length bounds, stopword presence. Everything here
is ONE tokenize pass + ONE (doc_id, term) hash aggregate — the same
scale shape as `text_token_accounting`; verdict flags are pure integer
comparisons (`k*top_count <= n_tokens`) so no float threshold can
diverge across engines.

PII note: the synthetic corpus is lowercase words only, so the
redaction query embeds deterministic contact strings (email + long
digit run derived from doc_id) into the text first, then counts and
redacts them — nonzero matches that exercise the regex machinery
end-to-end while staying oracle-checkable. Patterns avoid
backreferences/lookaround so Java regex (Spark) and RE2 (DuckDB) agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from numalogic_prometheus_spark.plans import register
from numalogic_prometheus_spark.sources.tables import load_table, load_table_spread


def _toks(spark_df: DataFrame) -> DataFrame:
    return spark_df.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda x: x != F.lit("")).alias("toks"),
    )


_REP_ORACLE = """
    WITH base AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents
    ),
    uni AS (
        SELECT doc_id, term, count(*)::BIGINT AS c
        FROM (SELECT doc_id, unnest(toks) AS term FROM base)
        GROUP BY doc_id, term
    ),
    uagg AS (
        SELECT doc_id, sum(c)::BIGINT AS n_tokens, max(c) AS top_count,
               count(*)::BIGINT AS n_distinct,
               max(c * length(term))::BIGINT AS top_token_chars
        FROM uni GROUP BY doc_id
    ),
    bi AS (
        SELECT doc_id, gram, count(*)::BIGINT AS c
        FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks)),
                                         i -> toks[i] || ' ' || toks[i + 1])) AS gram
            FROM base WHERE len(toks) >= 2
        )
        GROUP BY doc_id, gram
    ),
    bagg AS (
        SELECT doc_id,
               max(c * (length(gram) - 1))::BIGINT AS top_bigram_chars
        FROM bi GROUP BY doc_id
    )
    SELECT u.doc_id, u.n_tokens, u.n_distinct, u.top_count,
           1 - u.n_distinct / (u.n_tokens::DOUBLE) AS dup_token_frac,
           u.top_count / (u.n_tokens::DOUBLE) AS top_token_frac,
           u.top_token_chars
               / (d.n_chars - u.n_tokens + 1)::DOUBLE AS top_token_char_frac,
           coalesce(b.top_bigram_chars, 0)
               / (d.n_chars - u.n_tokens + 1)::DOUBLE AS top_bigram_char_frac
    FROM uagg u
    JOIN documents d USING (doc_id)
    LEFT JOIN bagg b USING (doc_id)
"""


@register("quality_repetition_stats", oracle=_REP_ORACLE)
def quality_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition signals per doc: duplicate-token fraction,
    most-common-token fraction, and character fractions covered by the
    top unigram / top word-bigram. Char denominators use the exact
    non-space character count (`n_chars - n_tokens + 1` for
    single-space-joined text); bigram char counts exclude the joiner
    space. All numerators/denominators integer until one final exact
    division."""
    # r18 (guide §2.3/§4.2): every output here is a PER-DOC aggregate,
    # yet the old form exploded the corpus twice (unigrams + bigrams),
    # paid groupBy(doc_id, term)+groupBy(doc_id) exchanges on each leg
    # (~1 M exploded rows at sf0.1) and stitched three relations back
    # with joins. One Arrow pass computes the same exact-integer
    # numerators/denominators and the same IEEE division sequence
    # inside the row: zero exchanges, zero joins (plan pinned by
    # test_repetition_stats_is_exchange_free). Bit-exact on the full
    # corpus incl. doubles (OPTIMIZATION_r18.md §10: 1.32 → 0.46 s
    # min-of-4);
    # edge semantics (NULL text, empty/whitespace text, single-token
    # docs) pinned against the old form's explode/join behavior in
    # tests/test_repetition_kernel.py. At 100 TB this is a map-only
    # stage over the documents scan — the explode form's exchanges
    # shuffled ~200× the corpus row count.
    return quality_repetition_kernel(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "n_chars"
        )
    )


def quality_repetition_kernel(docs: DataFrame) -> DataFrame:
    """(doc_id, text, n_chars) → the repetition-stats relation in one
    mapInArrow pass. Token lengths use Python ``len`` (code points) —
    identical to JVM ``length`` and DuckDB ``length`` on the BMP text
    this corpus carries; docs whose token array is NULL or empty drop,
    mirroring the explode form (explode of NULL/[] emits nothing, and
    the final join was inner on the unigram leg). A NULL ``n_chars``, or
    one that leaves no characters (``n_chars - n_tokens + 1 == 0``),
    gives NULL ``top_token_char_frac`` / ``top_bigram_char_frac`` for
    that doc."""

    def _kernel(batch_iter):
        from collections import Counter

        import pyarrow as pa

        for batch in batch_iter:
            doc_ids = batch.column("doc_id").to_pylist()
            texts = batch.column("text").to_pylist()
            ncs = batch.column("n_chars").to_pylist()
            out: dict = {
                "doc_id": [], "n_tokens": [], "n_distinct": [],
                "top_count": [], "dup_token_frac": [], "top_token_frac": [],
                "top_token_char_frac": [], "top_bigram_char_frac": [],
            }
            for did, t, nc in zip(doc_ids, texts, ncs):
                if t is None:
                    continue
                toks = [x for x in t.split(" ") if x != ""]
                if not toks:
                    continue
                uni = Counter(toks)
                n_tokens = len(toks)
                n_distinct = len(uni)
                top_count = max(uni.values())
                top_token_chars = max(c * len(term) for term, c in uni.items())
                if n_tokens >= 2:
                    bi = Counter(zip(toks, toks[1:]))
                    # top bigram chars exclude the joiner space:
                    # c · (len(a) + len(b)) == the old c · (length(gram) − 1)
                    top_bigram_chars = max(
                        c * (len(a) + len(b)) for (a, b), c in bi.items()
                    )
                else:
                    top_bigram_chars = 0
                # NULL or zero-width char counts give NULL char fractions,
                # as Spark's division did, rather than failing the task
                chars = None if nc is None else float(nc - n_tokens + 1)
                out["doc_id"].append(did)
                out["n_tokens"].append(n_tokens)
                out["n_distinct"].append(n_distinct)
                out["top_count"].append(top_count)
                out["dup_token_frac"].append(1 - n_distinct / float(n_tokens))
                out["top_token_frac"].append(top_count / float(n_tokens))
                out["top_token_char_frac"].append(
                    top_token_chars / chars if chars else None
                )
                out["top_bigram_char_frac"].append(
                    top_bigram_chars / chars if chars else None
                )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out["doc_id"], type=pa.int64()),
                    pa.array(out["n_tokens"], type=pa.int64()),
                    pa.array(out["n_distinct"], type=pa.int64()),
                    pa.array(out["top_count"], type=pa.int64()),
                    pa.array(out["dup_token_frac"], type=pa.float64()),
                    pa.array(out["top_token_frac"], type=pa.float64()),
                    pa.array(out["top_token_char_frac"], type=pa.float64()),
                    pa.array(out["top_bigram_char_frac"], type=pa.float64()),
                ],
                names=[
                    "doc_id", "n_tokens", "n_distinct", "top_count",
                    "dup_token_frac", "top_token_frac",
                    "top_token_char_frac", "top_bigram_char_frac",
                ],
            )

    return docs.mapInArrow(
        _kernel,
        "doc_id long, n_tokens long, n_distinct long, top_count long, "
        "dup_token_frac double, top_token_frac double, "
        "top_token_char_frac double, top_bigram_char_frac double",
    )


_VERDICT_ORACLE = """
    WITH base AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents
    ),
    uni AS (
        SELECT doc_id, term, count(*)::BIGINT AS c
        FROM (SELECT doc_id, unnest(toks) AS term FROM base)
        GROUP BY doc_id, term
    ),
    agg AS (
        SELECT doc_id, sum(c)::BIGINT AS n_tokens, max(c) AS top_count,
               max(CASE WHEN term IN ('the', 'a') THEN 1 ELSE 0
                   END)::BIGINT AS has_stop
        FROM uni GROUP BY doc_id
    )
    SELECT doc_id,
           (n_tokens >= 20 AND n_tokens <= 5000) AS len_ok,
           (8 * top_count <= n_tokens) AS rep_ok,
           (has_stop = 1) AS stop_ok,
           (n_tokens >= 20 AND n_tokens <= 5000
            AND 8 * top_count <= n_tokens AND has_stop = 1) AS keep
    FROM agg
"""


@register("quality_gopher_verdict", oracle=_VERDICT_ORACLE)
def quality_gopher_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed keep/drop gate (Gopher §A1.1 shape): token-count bounds,
    top-token repetition cap (`8*top <= n`, i.e. ≤12.5%), stopword
    presence — integer/boolean logic only, one (doc_id, term)
    aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    uni = (
        _toks(docs)
        .select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = uni.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.max("c").alias("top_count"),
        F.max(
            F.when(F.col("term").isin("the", "a"), F.lit(1)).otherwise(F.lit(0))
        ).alias("has_stop"),
    )
    len_ok = (F.col("n_tokens") >= 20) & (F.col("n_tokens") <= 5000)
    rep_ok = 8 * F.col("top_count") <= F.col("n_tokens")
    stop_ok = F.col("has_stop") == 1
    return agg.select(
        "doc_id",
        len_ok.alias("len_ok"),
        rep_ok.alias("rep_ok"),
        stop_ok.alias("stop_ok"),
        (len_ok & rep_ok & stop_ok).alias("keep"),
    )


# Regex patterns shared verbatim by both engines: character classes and
# bounded repetition only (no backrefs, no lookaround) — the Java/RE2
# common subset.
_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.]+[.][a-z]+"
_LONGNUM_RE = "[0-9]{7,}"

_PII_ORACLE = (
    """
    WITH synth AS (
        SELECT doc_id,
               'reach ' || source || '.user' || doc_id::VARCHAR
               || '@mail' || (doc_id % 7)::VARCHAR || '.example.com or call '
               || (1000000 + doc_id * 37)::VARCHAR || ' now ' || text AS body
        FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(body, '"""
    + _EMAIL_RE
    + """'))::BIGINT AS n_emails,
           len(regexp_extract_all(body, '"""
    + _LONGNUM_RE
    + """'))::BIGINT AS n_longnums,
           regexp_replace(regexp_replace(body, '"""
    + _EMAIL_RE
    + """', '<EMAIL>', 'g'), '"""
    + _LONGNUM_RE
    + """', '<NUM>', 'g') AS redacted
    FROM synth
"""
)


@register("quality_pii_redaction", oracle=_PII_ORACLE)
def quality_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: count and redact emails + long digit runs.
    Map-only (zero shuffles) — the 100 TB shape of every
    regex-scrubbing stage. Spark `regexp_replace` is global by default;
    the oracle passes the 'g' flag for the same semantics."""
    docs = load_table(spark, sf_dir, "documents")
    body = F.concat(
        F.lit("reach "),
        F.col("source"),
        F.lit(".user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com or call "),
        (F.lit(1000000) + F.col("doc_id") * 37).cast("string"),
        F.lit(" now "),
        F.col("text"),
    )
    synth = docs.select("doc_id", body.alias("body"))
    return synth.select(
        "doc_id",
        F.regexp_count("body", F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count("body", F.lit(_LONGNUM_RE)).cast("long").alias("n_longnums"),
        F.regexp_replace(
            F.regexp_replace("body", _EMAIL_RE, "<EMAIL>"),
            _LONGNUM_RE,
            "<NUM>",
        ).alias("redacted"),
    )


# ---------------------------------------------------------------------------
# Dataset constraint checks (Deequ-style "unit tests for data"): declared
# expectations evaluated in ONE aggregate pass, emitted as one verdict row
# per check. Pass/fail compares INTEGER counts (numer == n), never the
# float metric, so no rounding boundary can flip a verdict across engines.
# ---------------------------------------------------------------------------

_CONSTRAINT_ORACLE = """
    WITH m AS (
        SELECT count(*)::BIGINT AS n,
               count(DISTINCT o_orderkey)::BIGINT AS c_unique,
               count(o_custkey)::BIGINT AS c_complete,
               count(*) FILTER (o_totalprice > 0)::BIGINT AS c_positive,
               count(*) FILTER (o_orderstatus IN ('O', 'F', 'P'))::BIGINT
                   AS c_domain,
               count(*) FILTER (o_orderdate >= TIMESTAMP '1995-01-01'
                                AND o_orderdate < TIMESTAMP '2000-01-01')
                   ::BIGINT AS c_daterange
        FROM orders
    ),
    checks AS (
        SELECT 'orderkey_unique' AS check_name, c_unique AS numer, n FROM m
        UNION ALL SELECT 'custkey_complete', c_complete, n FROM m
        UNION ALL SELECT 'totalprice_positive', c_positive, n FROM m
        UNION ALL SELECT 'status_in_domain', c_domain, n FROM m
        UNION ALL SELECT 'orderdate_in_range', c_daterange, n FROM m
    )
    SELECT check_name, numer / n::DOUBLE AS metric,
           (CASE WHEN numer = n THEN 1 ELSE 0 END)::BIGINT AS passed
    FROM checks
"""


@register("quality_constraint_checks", oracle=_CONSTRAINT_ORACLE)
def quality_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate over `orders`: key uniqueness,
    completeness, positivity, categorical domain, and date-range
    freshness — all measured in a single partial+final aggregate scan
    (the uniqueness check is the only exchange-bearing term), then
    unpivoted to one verdict row per check. `orderdate_in_range`
    deliberately FAILS on the fixture (dates run past 2000-01-01), so
    the harness proves verdicts go both ways."""
    o = load_table(spark, sf_dir, "orders")
    m = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("o_orderkey").alias("c_unique"),
        F.count("o_custkey").alias("c_complete"),
        F.count(F.when(F.col("o_totalprice") > 0, 1)).alias("c_positive"),
        F.count(
            F.when(F.col("o_orderstatus").isin("O", "F", "P"), 1)
        ).alias("c_domain"),
        F.count(
            F.when(
                (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp")),
                1,
            )
        ).alias("c_daterange"),
    )
    checks = m.select(
        "n",
        F.expr(
            "stack(5,"
            " 'orderkey_unique', c_unique,"
            " 'custkey_complete', c_complete,"
            " 'totalprice_positive', c_positive,"
            " 'status_in_domain', c_domain,"
            " 'orderdate_in_range', c_daterange"
            ") AS (check_name, numer)"
        ),
    )
    return checks.select(
        "check_name",
        (F.col("numer") / F.col("n").cast("double")).alias("metric"),
        F.when(F.col("numer") == F.col("n"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("passed"),
    )


# ---------------------------------------------------------------------------
# Unigram LM scoring (KenLM-proxy): corpus unigram stats -> per-token
# log-probability -> per-doc mean log-prob. Float-sum order would differ
# across engines, so token log-probs are FIXED-POINT integers
# (round(ln(p) * 1e6)): the per-doc accumulation is an exact BIGINT sum
# under any aggregation order, and the single final division is the only
# float op. Fixture margin to the nearest rounding boundary is >= 0.03
# (checked at sf0.001/sf0.01) — ~1e10 ULPs of slack, so libm last-bit
# differences between Java StrictMath and DuckDB cannot flip a verdict.
# ---------------------------------------------------------------------------

_UNIGRAM_ORACLE = """
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents
    ),
    c AS (SELECT tk, count(*)::BIGINT AS n FROM tok GROUP BY tk),
    t AS (SELECT sum(n)::BIGINT AS total FROM c),
    lp AS (
        SELECT tk, round(ln(n / total::DOUBLE) * 1000000)::BIGINT AS lp_fp
        FROM c, t
    )
    SELECT doc_id, count(*)::BIGINT AS n_toks,
           sum(lp_fp)::BIGINT / (count(*) * 1000000.0) AS mean_logprob
    FROM tok JOIN lp USING (tk)
    GROUP BY doc_id
"""


@register("text_unigram_logprob", oracle=_UNIGRAM_ORACLE)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean unigram log-probability under the corpus's own
    unigram model — the cheap stand-in for KenLM perplexity filtering
    (low mean log-prob = rare-token-heavy / malformed text). Two
    passes, like any IDF-family statistic: a token-count aggregate
    (map-side combined), then the scoring explode joined to the
    (broadcast) log-prob table — vocab is tiny relative to any corpus,
    so the scoring pass is map-side."""
    d = load_table_spread(spark, sf_dir, "documents", "doc_id")
    tok = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tk")
    )
    c = tok.groupBy("tk").agg(F.count(F.lit(1)).alias("n"))
    total = c.agg(F.sum("n").alias("total"))
    lp = c.crossJoin(F.broadcast(total)).select(
        "tk",
        F.round(F.log(F.col("n") / F.col("total").cast("double")) * 1000000)
        .cast("long")
        .alias("lp_fp"),
    )
    return (
        tok.join(F.broadcast(lp), "tk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            # Unrounded (r9): exact BIGINT sum over exact integer count —
            # one IEEE division, bit-identical cross-engine; the outer
            # round(·,6) was the tie-class liability (SCALE.md round-8).
            (F.sum("lp_fp") / (F.count(F.lit(1)) * 1000000.0)).alias(
                "mean_logprob"
            ),
        )
    )
