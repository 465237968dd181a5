"""Bit-exactness of the one-pass repetition-stats Arrow kernel
(plans/quality.quality_repetition_kernel, r18) against the explode/
join form it replaced (two explode legs, groupBy(doc_id, term) +
groupBy(doc_id) per leg, inner+left join reassembly).

Parity is asserted on the full sf0.001 corpus (bit-identical doubles —
the kernel replays the same IEEE division sequence over the same exact
integers) and on synthetic edge rows the corpus cannot cover: NULL
text and empty/whitespace-only text (explode emits nothing → the doc
drops), a single-token doc (bigram leg filtered → coalesce-0), and
repeated-token/bigram-dominance shapes with hand-computed values."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from numalogic_prometheus_spark.plans.quality import (
    _toks,
    quality_repetition_kernel,
)


def _jvm_form(docs):
    """The pre-r18 explode/join construction, verbatim."""
    base = _toks(docs)
    uni = (
        base.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    uagg = uni.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.max("c").alias("top_count"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max(F.col("c") * F.length("term")).alias("top_token_chars"),
    )
    n = F.size("toks")
    grams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat(
            F.element_at("toks", i), F.lit(" "), F.element_at("toks", i + 1)
        ),
    )
    bi = (
        base.filter(n >= 2)
        .select("doc_id", F.explode(grams).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bagg = bi.groupBy("doc_id").agg(
        F.max(F.col("c") * (F.length("gram") - 1)).alias("top_bigram_chars")
    )
    chars = (F.col("n_chars") - F.col("n_tokens") + 1).cast("double")
    return (
        uagg.join(docs.select("doc_id", "n_chars"), "doc_id")
        .join(bagg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            "top_count",
            (1 - F.col("n_distinct") / F.col("n_tokens").cast("double"))
            .alias("dup_token_frac"),
            (F.col("top_count") / F.col("n_tokens").cast("double"))
            .alias("top_token_frac"),
            (F.col("top_token_chars") / chars).alias("top_token_char_frac"),
            (
                F.coalesce(F.col("top_bigram_chars"), F.lit(0)) / chars
            ).alias("top_bigram_char_frac"),
        )
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_kernel_matches_explode_form_on_corpus(spark, sf_dir):
    from numalogic_prometheus_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    assert docs.count() > 0
    ref = _rows(_jvm_form(docs))
    got = _rows(quality_repetition_kernel(docs))
    # tuple equality covers the doubles bit-exactly
    assert ref == got


def test_kernel_edge_rows(spark):
    def n_chars(t):
        # fixture convention: single-space-joined text
        return len(t.replace(" ", "")) + len([x for x in t.split(" ") if x]) - 1

    rows = [
        (1, None, 0),                    # NULL text -> doc drops
        (2, "", 0),                      # no tokens -> doc drops
        (3, "   ", 0),                   # whitespace-only -> doc drops
        (4, "hello", n_chars("hello")),  # single token: bigram leg empty
        (5, "a a a a", n_chars("a a a a")),       # one token repeated
        (6, "ab cd ab cd ab", n_chars("ab cd ab cd ab")),  # bigram dominance
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, n_chars long")
    got = {r[0]: r for r in quality_repetition_kernel(docs).collect()}
    ref = {r[0]: r for r in _jvm_form(docs).collect()}
    assert set(got) == {4, 5, 6} and set(ref) == {4, 5, 6}
    for did in (4, 5, 6):
        assert tuple(got[did]) == tuple(ref[did]), (did, got[did], ref[did])
    # hand-computed pins (independent of both implementations)
    d4 = got[4]
    assert (d4["n_tokens"], d4["n_distinct"], d4["top_count"]) == (1, 1, 1)
    assert d4["dup_token_frac"] == 0.0 and d4["top_bigram_char_frac"] == 0.0
    assert d4["top_token_char_frac"] == 5 / 5.0
    d5 = got[5]
    assert (d5["n_tokens"], d5["n_distinct"], d5["top_count"]) == (4, 1, 4)
    assert d5["dup_token_frac"] == 1 - 1 / 4.0
    assert d5["top_token_char_frac"] == 4 * 1 / float(4 + 3 - 4 + 1)
    d6 = got[6]
    # "ab cd": 2 occurrences, 4 chars -> 8; top token "ab": 3 * 2 = 6
    assert (d6["n_tokens"], d6["n_distinct"], d6["top_count"]) == (5, 2, 3)
    chars6 = float(10 + 4 - 5 + 1)
    assert math.isclose(d6["top_token_char_frac"], 6 / chars6, rel_tol=0)
    assert math.isclose(d6["top_bigram_char_frac"], 8 / chars6, rel_tol=0)


def test_kernel_null_or_zero_width_chars_give_null_fracs(spark):
    """A NULL n_chars, or one that leaves no characters once the joiner
    spaces are taken out (n_chars - n_tokens + 1 == 0), yields NULL
    char fractions for that doc instead of failing the task; the token
    statistics and the other docs are unaffected."""
    rows = [
        (1, "ab cd ab", None),   # NULL n_chars
        (2, "ab cd ab", 2),      # chars = 2 - 3 + 1 = 0
        (3, "ab cd ab", 8),      # well-formed control
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, n_chars long")
    got = {r["doc_id"]: r for r in quality_repetition_kernel(docs).collect()}
    assert set(got) == {1, 2, 3}
    for did in (1, 2):
        r = got[did]
        assert r["top_token_char_frac"] is None, did
        assert r["top_bigram_char_frac"] is None, did
        assert (r["n_tokens"], r["n_distinct"], r["top_count"]) == (3, 2, 2)
        assert r["top_token_frac"] == 2 / 3.0
    # "ab" twice: 4 chars over 8 - 3 + 1 = 6; each bigram once: 4 chars
    assert got[3]["top_token_char_frac"] == 4 / 6.0
    assert got[3]["top_bigram_char_frac"] == 4 / 6.0
    # the Spark plan the kernel replaced: NULL n_chars -> NULL fractions
    # (a zero divisor there is NULL only with ANSI off; under ANSI it
    # raises DIVIDE_BY_ZERO, so the comparison leaves doc 2 out)
    ref = {
        r["doc_id"]: r
        for r in _jvm_form(docs.filter(F.col("doc_id") != 2)).collect()
    }
    assert tuple(ref[1]) == tuple(got[1])
    assert tuple(ref[3]) == tuple(got[3])
