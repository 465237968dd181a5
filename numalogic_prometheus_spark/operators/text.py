"""Text-analysis operators ([north-star]: language-ID heuristic, quality
scoring, token counting, document fingerprinting) over the `documents`
fixture — all pure array/string expressions (map-only at scale; the only
shuffles are the final aggregations a query adds on top).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from numalogic_prometheus_spark.functions.hashing import hash32
from numalogic_prometheus_spark.operators.dedup import tokens_col

# Tiny deterministic English stopword list shared with the oracle SQL.
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")
STOPWORDS_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

# Fingerprint modulus: keeps the bag-of-words hash sum in a stable range.
FP_MOD = 2_147_483_647  # 2^31 - 1

# Contamination split: ids divisible by EVAL_MOD stand in for "the
# benchmark set" and the rest for the training corpus, in every
# contamination check (n-gram, chunk and embedding grain, batch and
# streaming).
EVAL_MOD = 11


# SQL-string fast paths (r16 build-cost pass, the functions/vectors.py
# discipline): pass the text COLUMN NAME and the whole expression is
# generated as one SQL string parsed JVM-side in a single py4j round
# trip — identical Catalyst expressions (same lambdas, same operand
# order, bit-identical outputs), ~7x cheaper to construct than
# composing the tree py4j-object-by-object. Column inputs keep the
# original composed form.


def _toks_sql(col: str) -> str:
    return f"split({col}, ' ')"


def _avg_token_len_sql(col: str) -> str:
    t = _toks_sql(col)
    return (
        f"CAST(aggregate(transform({t}, t -> CAST(length(t) AS BIGINT)), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc + x) AS DOUBLE) / size({t})"
    )


def _stopword_ratio_sql(col: str) -> str:
    t = _toks_sql(col)
    return (
        f"CAST(size(filter({t}, t -> t IN ({STOPWORDS_SQL}))) AS DOUBLE)"
        f" / size({t})"
    )


def token_count(text: Column | str) -> Column:
    if isinstance(text, str):
        return F.expr(f"CAST(size({_toks_sql(text)}) AS BIGINT)")
    return F.size(tokens_col(text)).cast("long")


def distinct_token_count(text: Column | str) -> Column:
    if isinstance(text, str):
        return F.expr(
            f"CAST(size(array_distinct({_toks_sql(text)})) AS BIGINT)"
        )
    return F.size(F.array_distinct(tokens_col(text))).cast("long")


def avg_token_len(text: Column | str) -> Column:
    if isinstance(text, str):
        return F.expr(_avg_token_len_sql(text))
    toks = tokens_col(text)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return total.cast("double") / F.size(toks)


def stopword_ratio(text: Column | str) -> Column:
    if isinstance(text, str):
        return F.expr(_stopword_ratio_sql(text))
    toks = tokens_col(text)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return n_stop.cast("double") / F.size(toks)


def quality_score(text: Column | str) -> Column:
    """Deterministic quality heuristic in [0,1]: rewards mid-length docs,
    token diversity, and a natural-language-ish stopword rate. The exact
    formula is the contract (oracle-replicated), not a claim about
    linguistics — it is the *shape* of a production quality scorer with
    every stage a built-in expression."""
    if isinstance(text, str):
        t = _toks_sql(text)
        return F.expr(
            f"(CAST(size(array_distinct({t})) AS DOUBLE)"
            f" / CAST(size({t}) AS DOUBLE)"
            f" + least(CAST(size({t}) AS DOUBLE) / 100.0D, 1.0D)"
            f" + least(({_stopword_ratio_sql(text)}) * 5, 1.0D)) / 3.0D"
        )
    toks = tokens_col(text)
    n = F.size(toks).cast("double")
    diversity = F.size(F.array_distinct(toks)).cast("double") / n
    length_term = F.least(n / F.lit(100.0), F.lit(1.0))
    stop_term = F.least(stopword_ratio(text) * 5, F.lit(1.0))
    # unrounded: every term is an exact-integer ratio evaluated in the
    # same operand order as the DuckDB oracle copy, so the composite is
    # bit-identical cross-engine; an in-query round(x, 6) here would be
    # the only divergence source (.5e-6 ties — the class the round-8
    # sf0.1 sweep caught in promql_avg_over_time)
    return (diversity + length_term + stop_term) / 3.0


def langid_heuristic(text: Column | str) -> Column:
    """Deterministic language-ID stand-in: stopword-ratio + token-shape
    n-gram heuristic (real n-gram models plug into the same column
    contract). Thresholds mirror the oracle SQL exactly."""
    if isinstance(text, str):
        return F.expr(
            f"CASE WHEN ({_stopword_ratio_sql(text)}) >= 0.08D THEN 'en' "
            f"WHEN ({_avg_token_len_sql(text)}) >= 5.5D THEN 'de' "
            f"ELSE 'xx' END"
        )
    sw = stopword_ratio(text)
    avg_len = avg_token_len(text)
    return (
        F.when(sw >= 0.08, F.lit("en"))
        .when(avg_len >= 5.5, F.lit("de"))
        .otherwise(F.lit("xx"))
    )


def doc_fingerprint(text: Column | str) -> Column:
    """Bag-of-words fingerprint: Σ hash32(distinct token) mod (2^31−1).

    Order-independent (so any engine computes the same integer), cheap,
    and collision-safe enough for candidate bucketing at scale."""
    if isinstance(text, str):
        return F.expr(
            f"aggregate(transform(array_distinct({_toks_sql(text)}), "
            "t -> CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT)), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x) "
            f"% {FP_MOD}"
        )
    toks = F.array_distinct(tokens_col(text))
    total = F.aggregate(
        F.transform(toks, hash32),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return total % F.lit(FP_MOD)
