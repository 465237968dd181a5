"""Property-based tests (SURVEY.md §5.2 item 3, hypothesis) for the
pure-Python-checkable invariants of the engine's operators, evaluated
through Spark on small generated frames."""

from __future__ import annotations

import math

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from numalogic_prometheus_spark.operators import metrics as M
from tests.test_storage_layout import _conf

_value = st.floats(
    min_value=0.0, max_value=100.0, allow_nan=False, allow_infinity=False
)

_settings = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(values=st.lists(_value, min_size=1, max_size=30))
@_settings
def test_histogram_bucket_count_consistency(spark, values):
    # Σ per-bucket increments == _count, +Inf bucket == total, cumulative
    # monotone — the pinned-dep histogram contract (metrics.py:173-177).
    df = spark.createDataFrame([("k", float(v)) for v in values],
                               "key string, value double")
    out = {r["le"]: r["cum_count"] for r in
           M.histogram_buckets(df, ["key"]).collect()}
    les = sorted(out)
    assert out[float("inf")] == len(values)
    assert all(out[a] <= out[b] for a, b in zip(les, les[1:]))


@given(
    static=st.dictionaries(st.sampled_from("abcd"), st.text("xy", max_size=2),
                           max_size=3),
    dynamic=st.dictionaries(st.sampled_from("abcd"), st.text("xy", max_size=2),
                            max_size=3),
)
@_settings
def test_label_merge_right_bias_property(spark, static, dynamic):
    # merged == {**static, **dynamic} exactly (metrics.py:65-67)
    def to_map(d):
        if not d:
            return F.create_map().cast("map<string,string>")
        pairs = []
        for k, v in d.items():
            pairs += [F.lit(k), F.lit(v)]
        return F.create_map(*pairs)

    row = (
        spark.range(1)
        .select(M.merge_labels(to_map(static), to_map(dynamic)).alias("m"))
        .collect()[0]
    )
    assert (row["m"] or {}) == {**static, **dynamic}


@given(values=st.lists(_value, min_size=2, max_size=20))
@_settings
def test_gauge_is_last_by_ts_not_max_value(spark, values):
    rows = [("k", i, float(v)) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "key string, ts long, value double")
    out = M.gauge_latest(df, ["key"]).collect()[0]
    assert math.isclose(out["gauge_value"], values[-1])
    assert out["last_ts"] == len(values) - 1


_doc = st.text(alphabet="ab cd", min_size=5, max_size=40)


@given(docs=st.lists(_doc, min_size=2, max_size=8))
@_settings
def test_ngram_jaccard_bounds_and_symmetry(spark, docs):
    # Jaccard ∈ [0,1]; containment ∈ [0,1]; id_a < id_b canonical order;
    # and a doc paired with an identical copy scores jaccard 1.
    from numalogic_prometheus_spark.plans.text2 import _bigrams

    rows = [(i, d) for i, d in enumerate([*docs, docs[0]])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    g = df.select("doc_id", _bigrams(F.col("text")).alias("grams")).filter(
        F.size("grams") > 0
    )
    a = g.select(F.col("doc_id").alias("ia"), F.col("grams").alias("ga"))
    b = g.select(F.col("doc_id").alias("ib"), F.col("grams").alias("gb"))
    inter = F.size(F.array_intersect("ga", "gb"))
    union = (F.size("ga") + F.size("gb") - inter).cast("double")
    pairs = (
        a.crossJoin(b)
        .filter(F.col("ia") < F.col("ib"))
        .select("ia", "ib", (inter / union).alias("j"))
        .collect()
    )
    for r in pairs:
        assert 0.0 <= r["j"] <= 1.0
    dup = [r for r in pairs if r["ia"] == 0 and r["ib"] == len(docs)]
    if dup:  # identical copy pair survives the non-empty-grams filter
        assert dup[0]["j"] == 1.0


@given(
    vecs=st.lists(
        st.lists(
            st.floats(min_value=-1, max_value=1, allow_nan=False, width=32),
            min_size=4, max_size=4,
        ),
        min_size=3, max_size=10,
    )
)
@_settings
def test_ivf_assignment_is_argmin(spark, vecs):
    # Every vector's assigned cell must be the true argmin-distance
    # centroid (ties by centroid id) — checked brute-force in Python.
    import math as m

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    # centroids: every 2nd vector; skip degenerate zero-norm vectors
    rows = [(i, v) for i, v in rows if m.sqrt(sum(x * x for x in v)) > 1e-9]
    if len(rows) < 2:
        return
    cents = rows[::2]

    def key(v, c, cid):
        dot = sum(a * b for a, b in zip(v, c))
        nv = m.sqrt(sum(a * a for a in v))
        nc = m.sqrt(sum(a * a for a in c))
        d = 1 - dot / (nv * nc)
        # mirror the engine's integer composite key (round half-up)
        return int(m.floor(d * 1000000 + 0.5)) * 100000 + cid

    expect = {
        i: min((key(v, c, cid), cid) for cid, c in cents)[1] for i, v in rows
    }

    # The engine's own assignment (operators/ivf.py), the code every
    # IVF entry runs: featurize → quantizer rows → N×C keys → min_by.
    from numalogic_prometheus_spark.operators import ivf

    b = ivf.featurize(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    )
    cdf = ivf.featurize(
        spark.createDataFrame(cents, "vec_id long, embedding array<double>")
    ).select(
        F.col("vec_id").alias("cent_id"),
        F.col("v").alias("cv"),
        F.col("nv").alias("nc"),
    )
    got = {
        r["vec_id"]: r["cell"] for r in ivf.assign_cells(b, cdf).collect()
    }
    assert got == expect


@given(
    doc_id=st.integers(min_value=0, max_value=5000),
    every=st.integers(min_value=1, max_value=4),
)
@_settings
def test_frame_sample_matches_full_decode(doc_id, every):
    # Sampled decode (round 14: real containers, decode skipped for
    # unsampled frames) must agree frame-for-frame with the full
    # decoder at indexes 0, every, 2*every, … — for BOTH container
    # families and any cadence. Kernel-level property (no Spark
    # session needed: the mapInPandas wrapper is pinned elsewhere).
    import numpy as np

    from numalogic_prometheus_spark.operators import multimodal as MM

    if doc_id % 2 == 0:
        payload = MM.synthesize_apng(doc_id)
        w, h, full = MM.decode_apng(payload)
        ws, hs, sampled = MM.decode_apng_sampled(payload, every)
        assert (ws, hs) == (w, h)
        assert [t for t, _d, _p in sampled] == list(
            range(0, len(full), every)
        )
        for t, dnum, pix in sampled:
            assert dnum == full[t][0]
            assert np.array_equal(pix, full[t][1])
    else:
        payload = MM.synthesize_avi(doc_id)
        w, h, full = MM.decode_avi_mjpeg(payload)
        ws, hs, sampled = MM.decode_avi_mjpeg_sampled(payload, every)
        assert (ws, hs) == (w, h)
        assert [t for t, _b in sampled] == list(range(0, len(full), every))
        for t, blocks in sampled:
            assert set(blocks) == set(full[t])
            for k in blocks:
                assert np.array_equal(blocks[k], full[t][k])


@given(
    head=st.text(alphabet="qrs tuv", min_size=1, max_size=30),
    body=st.text(alphabet="ab cd e", min_size=300, max_size=600),
)
@_settings
@example(
    head='q',
    body='bdedc e added  acac cbbebdb   b  d b bebabccadbece  acd eabedd'
         'dbbdc eceaebacaeacb  cbb cdabdaadeaeaac  dedce dd eca db db e'
         'dddadabaecbe db ba d bccceaa  cceaccbaec e e dd a acedaedae b'
         'be a adddddcae cebecaccaa d ed aedcdea bb c edacdaaceaddcab e'
         'eaec add     abcdabbadccecb e edacddbdabdbeed ecdc dcdedebdcc'
         'ecdbeceedddeeaeced',
).via('discovered failure')
def test_cdc_boundary_stability(head, body):
    # THE content-defined-chunking property: inserting a head only
    # perturbs chunks near the edit — every chunk starting at/after the
    # first preserved content boundary is identical, which fixed-size
    # chunking can never achieve (every offset shifts).
    from numalogic_prometheus_spark.operators.cdc import _MAX, chunk_text

    base = chunk_text(body)
    edited = chunk_text(head + body)
    body_len = len(body.encode("utf-8"))
    shift = len(head.encode("utf-8"))
    # Resync point: end of the first CONTENT cut in base (not a force
    # cut at _MAX, not the final remainder chunk, which is emitted
    # without a boundary).  The chunker's contract (cdc.py docstring)
    # guarantees every chunk starting at/after this offset is identical
    # in both chunkings; chunks BEFORE it (force cuts whose offsets
    # shifted) legitimately differ.  Degenerate bodies whose only cuts
    # are forced have no resync guarantee — nothing to assert.
    resync = next(
        (o + l for o, l, _ in base if l != _MAX and o + l < body_len),
        None,
    )
    if resync is None:
        return
    tail = [h for o, _, h in base if o >= resync]
    shifted = [h for o, _, h in edited if o >= resync + shift]
    assert shifted == tail
    assert tail  # the resync chunk itself always exists


def test_cdc_chunks_partition_the_input():
    from numalogic_prometheus_spark.operators.cdc import chunk_bytes

    data = ("lorem ipsum dolor " * 40).encode()
    chunks = chunk_bytes(data)
    assert sum(c[1] for c in chunks) == len(data)
    assert chunks[0][0] == 0
    for (off_a, len_a, _), (off_b, _, _) in zip(chunks, chunks[1:]):
        assert off_b == off_a + len_a
    assert all(c[1] <= 160 for c in chunks)


# ---------------------------------------------------------------------------
# Round-7 JVM EWMA (plans/timeseries.py): the closed-form window-expression
# scan must equal the sequential recurrence on ARBITRARY irregular series —
# random timestamps (duplicates allowed, multi-day, series-straddling),
# random values — not just the curated golden fixtures.
# ---------------------------------------------------------------------------

_ewma_sample = st.tuples(
    st.integers(min_value=0, max_value=5 * 86_400),  # offset seconds, 5 days
    st.floats(min_value=-50.0, max_value=50.0,
              allow_nan=False, allow_infinity=False),
)


@given(
    series=st.lists(
        st.lists(_ewma_sample, min_size=1, max_size=25),
        min_size=1,
        max_size=3,
    )
)
@_settings
def test_ewma_jvm_scan_matches_sequential(spark, series, tmp_path_factory):
    import math as m
    from datetime import datetime, timedelta

    from numalogic_prometheus_spark.plans.timeseries import (
        _EWMA_TAU_US,
        ts_ewma_irregular,
    )

    base = datetime(2024, 1, 1)
    rows = []
    for si, samples in enumerate(series):
        for j, (off, v) in enumerate(samples):
            rows.append(
                (f"s{si}", base + timedelta(seconds=off), si * 1000 + j, v)
            )
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, event_id long, value double"
    )
    path = tmp_path_factory.mktemp("ewma_prop")
    df.write.mode("overwrite").parquet(str(path / "events.parquet"))

    # sequential reference over (ts, event_id) order
    ref = {}
    for si, samples in enumerate(series):
        ordered = sorted(
            (base + timedelta(seconds=off), si * 1000 + j, v)
            for j, (off, v) in enumerate(samples)
        )
        s, prev_us = None, None
        for ts, eid, v in ordered:
            t_us = int(ts.timestamp() * 1e6)
            if s is None:
                s = v
            else:
                alpha = 1.0 - m.exp(-(t_us - prev_us) / _EWMA_TAU_US)
                s = alpha * v + (1.0 - alpha) * s
            prev_us = t_us
            ref[(f"s{si}", t_us, eid)] = s

    got = ts_ewma_irregular(spark, str(path)).collect()
    assert len(got) == len(rows)
    # output keys lack event_id; compare multisets per (series, ts)
    from collections import defaultdict

    want = defaultdict(list)
    for (et, t_us, _), s in ref.items():
        want[(et, t_us)].append(round(s, 6))
    have = defaultdict(list)
    for r in got:
        have[(r["event_type"], int(r["ts"].timestamp() * 1e6))].append(
            r["ewma"]
        )
    for k in want:
        a, b = sorted(want[k]), sorted(have[k])
        assert len(a) == len(b), k
        assert all(abs(x - y) < 2e-6 for x, y in zip(a, b)), (k, a, b)


_inc_doc = st.text(alphabet="xy zw", min_size=5, max_size=30)


@given(
    corpus=st.lists(_inc_doc, min_size=1, max_size=9),
    split=st.integers(min_value=0, max_value=3),
)
@_settings
def test_incremental_dedup_index_merge_is_reaggregable(spark, corpus, split):
    """The claim the streaming/batch incremental dedup designs rest on:
    the band index's min-merge is order-insensitive and idempotent, so
    per-snapshot merges compose to the same index as one global build —
    compaction across snapshots can never change verdicts."""
    from numalogic_prometheus_spark.streaming.incremental_dedup import (
        featurize_docs,
        merge_index,
    )

    rows = [(i, d) for i, d in enumerate(corpus)]
    k = min(split, len(rows))
    df_a = spark.createDataFrame(rows[:k], "doc_id bigint, text string")
    df_b = spark.createDataFrame(rows[k:], "doc_id bigint, text string")
    empty = spark.createDataFrame(
        [], "band_key string, canon bigint, toks array<int>"
    )
    fa, fb = featurize_docs(df_a), featurize_docs(df_b)
    fall = featurize_docs(
        spark.createDataFrame(rows, "doc_id bigint, text string")
    )

    def canon_set(idx):
        return {
            (r["band_key"], r["canon"], tuple(sorted(r["toks"])))
            for r in idx.collect()
        }

    global_build = canon_set(merge_index(empty, fall))
    a_then_b = canon_set(merge_index(merge_index(empty, fa), fb))
    b_then_a = canon_set(merge_index(merge_index(empty, fb), fa))
    assert a_then_b == global_build
    assert b_then_a == global_build
    # idempotence: re-merging a snapshot's own rows is a no-op
    once = merge_index(empty, fall)
    assert canon_set(merge_index(once, fall)) == global_build


# ---------------------------------------------------------------------------
# mad_over_time: the grouped-bucket window assembly + midpoint-median
# array expressions must equal a brute-force per-anchor reference on
# arbitrary series — guarding the bucket boundary (prev/cur join), the
# left-open (t-1h, t] range, duplicate timestamps, and both median
# parities.
# ---------------------------------------------------------------------------

_mad_sample = st.tuples(
    st.integers(min_value=0, max_value=3 * 3600),  # seconds offset
    st.integers(min_value=0, max_value=5000),  # integer cents
)


@given(
    series=st.lists(
        st.lists(_mad_sample, min_size=1, max_size=20),
        min_size=1,
        max_size=3,
    )
)
@_settings
def test_mad_over_time_matches_bruteforce(spark, series, tmp_path_factory):
    from datetime import datetime, timedelta, timezone

    from numalogic_prometheus_spark.plans.promql3 import (
        _LOOK_US,
        promql_mad_over_time,
    )

    base = datetime(2024, 1, 1)
    rows = []
    for si, samples in enumerate(series):
        for j, (off, cents) in enumerate(samples):
            rows.append(
                (
                    f"s{si}",
                    base + timedelta(seconds=off),
                    si * 1000 + j,
                    cents / 100.0,
                )
            )
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, event_id long, value double"
    )
    path = tmp_path_factory.mktemp("mad_prop")
    df.write.mode("overwrite").parquet(str(path / "events.parquet"))

    def median(sorted_vals):
        n = len(sorted_vals)
        return (sorted_vals[(n + 1) // 2 - 1] + sorted_vals[n // 2]) / 2.0

    def us(dt):
        return int(dt.replace(tzinfo=timezone.utc).timestamp() * 1e6)

    ref = {}
    for si, samples in enumerate(series):
        pts = [
            (us(base + timedelta(seconds=off)), si * 1000 + j, cents)
            for j, (off, cents) in enumerate(samples)
        ]
        for a_us, eid, _c in pts:
            window = sorted(
                c for b_us, _e, c in pts if a_us - _LOOK_US < b_us <= a_us
            )
            med = median(window)
            dev = sorted(abs(c - med) for c in window)
            ref[(f"s{si}", eid)] = median(dev) / 100.0

    got = {
        (r["event_type"], r["event_id"]): r["mad_1h"]
        for r in promql_mad_over_time(spark, str(path))
        .join(
            df.select("event_type", "event_id"), ["event_type", "event_id"]
        )
        .collect()
    }
    assert got.keys() == ref.keys()
    for k in ref:
        assert abs(got[k] - ref[k]) < 1e-9, (k, got[k], ref[k])


# ---------------------------------------------------------------------------
# profile_column_stats: the melt → two-level aggregation must equal a
# directly-computed per-column reference on arbitrary tables with NULLs,
# duplicate values, and sub-day timestamps (which collapse to dates).
# ---------------------------------------------------------------------------

_maybe_key = st.one_of(st.none(), st.integers(min_value=0, max_value=5))
_maybe_price = st.one_of(
    st.none(),
    st.floats(min_value=0.0, max_value=100.0, allow_nan=False, allow_infinity=False),
)
_maybe_status = st.one_of(st.none(), st.sampled_from(["F", "O", "P"]))


@given(
    rows=st.lists(
        st.tuples(_maybe_key, _maybe_price, _maybe_status,
                  st.integers(min_value=0, max_value=47)),  # half-days
        min_size=1,
        max_size=15,
    )
)
@_settings
def test_profile_matches_direct_computation(spark, rows, tmp_path_factory):
    from datetime import datetime, timedelta

    from numalogic_prometheus_spark.plans.profiling import (
        profile_column_stats,
    )

    base = datetime(2024, 1, 1)
    data = [
        (
            i,  # o_orderkey: unique non-null
            ck,
            stt,
            price,
            base + timedelta(hours=12 * half_days),
            None,  # o_orderpriority: all-NULL column edge
        )
        for i, (ck, price, stt, half_days) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, "
        "o_orderpriority string",
    )
    path = tmp_path_factory.mktemp("profile_prop")
    df.write.mode("overwrite").parquet(str(path / "orders.parquet"))

    got = {
        r["column_name"]: r.asDict()
        for r in profile_column_stats(spark, str(path)).collect()
    }

    n = len(data)
    custkeys = [r[1] for r in data if r[1] is not None]
    prices = [r[3] for r in data if r[3] is not None]
    statuses = [r[2] for r in data if r[2] is not None]
    dates = sorted({r[4].date().isoformat() for r in data})

    assert all(v["n_rows"] == n for v in got.values())
    ck = got["o_custkey"]
    assert ck["n_null"] == n - len(custkeys)
    assert ck["n_distinct"] == len(set(custkeys))
    if custkeys:
        assert (ck["min_num"], ck["max_num"]) == (
            float(min(custkeys)),
            float(max(custkeys)),
        )
    else:
        assert ck["min_num"] is None and ck["max_num"] is None
    tp = got["o_totalprice"]
    assert tp["n_null"] == n - len(prices)
    assert tp["n_distinct"] == len(set(prices))
    stc = got["o_orderstatus"]
    assert stc["n_distinct"] == len(set(statuses))
    assert stc["min_str"] == (min(statuses) if statuses else None)
    dt = got["o_orderdate"]
    assert dt["n_distinct"] == len(dates)  # sub-day timestamps collapse
    assert (dt["min_str"], dt["max_str"]) == (dates[0], dates[-1])
    pr = got["o_orderpriority"]
    assert (pr["n_null"], pr["n_distinct"]) == (n, 0)
    assert pr["min_str"] is None and pr["max_str"] is None


# ---------------------------------------------------------------------------
# quantile_over_time sliding: the shared grouped-bucket window assembly
# (_windowed_cents) + R-7 interpolation expressions must equal a
# brute-force per-anchor reference on arbitrary series — guarding the
# prev/cur bucket join, the left-open (t-1h, t] range, duplicate
# timestamps, and the interpolation index arithmetic at every n.
# ---------------------------------------------------------------------------


@given(
    series=st.lists(
        st.lists(_mad_sample, min_size=1, max_size=20),
        min_size=1,
        max_size=3,
    )
)
@_settings
def test_quantile_sliding_matches_bruteforce(spark, series, tmp_path_factory):
    import math
    from datetime import datetime, timedelta, timezone

    from numalogic_prometheus_spark.plans.promql3 import (
        _LOOK_US,
        promql_quantile_over_time_sliding,
    )

    base = datetime(2024, 1, 1)
    rows = []
    for si, samples in enumerate(series):
        for j, (off, cents) in enumerate(samples):
            rows.append(
                (
                    f"s{si}",
                    base + timedelta(seconds=off),
                    si * 1000 + j,
                    cents / 100.0,
                )
            )
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, event_id long, value double"
    )
    path = tmp_path_factory.mktemp("qot_prop")
    df.write.mode("overwrite").parquet(str(path / "events.parquet"))

    def us(dt):
        return int(dt.replace(tzinfo=timezone.utc).timestamp() * 1e6)

    def q(sorted_vals, phi):
        rank = phi * (len(sorted_vals) - 1)
        lo = math.floor(rank)
        hi = min(len(sorted_vals) - 1, lo + 1)
        return sorted_vals[lo] + (sorted_vals[hi] - sorted_vals[lo]) * (
            rank - lo
        )

    ref = {}
    for si, samples in enumerate(series):
        pts = [
            (us(base + timedelta(seconds=off)), si * 1000 + j, cents)
            for j, (off, cents) in enumerate(samples)
        ]
        for a_us, eid, _c in pts:
            window = sorted(
                c for b_us, _e, c in pts if a_us - _LOOK_US < b_us <= a_us
            )
            ref[(f"s{si}", eid)] = (
                round(q(window, 0.95) / 100.0, 6),
                round(q(window, 0.50) / 100.0, 6),
            )

    got = {
        (r["event_type"], r["event_id"]): (r["q95_1h"], r["q50_1h"])
        for r in promql_quantile_over_time_sliding(spark, str(path))
        .join(
            df.select("event_type", "event_id"), ["event_type", "event_id"]
        )
        .collect()
    }
    assert got.keys() == ref.keys()
    for k in ref:
        for g, r in zip(got[k], ref[k]):
            assert abs(g - r) < 1e-6, (k, got[k], ref[k])


_phi = st.floats(min_value=0.05, max_value=0.95, allow_nan=False)
_incr = st.lists(
    st.integers(min_value=1, max_value=50), min_size=4, max_size=4
)


@given(incr=_incr, phi=_phi)
@_settings
def test_histogram_fraction_inverts_quantile_property(spark, incr, phi):
    """For any strictly-increasing cumulative bucket profile with no
    +Inf mass, the interpolated CDF evaluated at histogram_quantile(φ)
    equals φ·total — the two interpolations are inverses inside finite
    buckets (operators/promql.py)."""
    from numalogic_prometheus_spark.operators.promql import (
        histogram_fraction,
        histogram_quantile,
    )

    bounds = [1.0, 2.0, 4.0, 8.0]
    cum = []
    t = 0
    for d in incr:
        t += d
        cum.append(t)
    rows = [("k", b, c) for b, c in zip(bounds, cum)]
    rows.append(("k", float("inf"), cum[-1]))  # no +Inf mass
    buckets = spark.createDataFrame(
        rows, "key string, le double, cum_count long"
    )
    total = cum[-1]
    v = histogram_quantile(buckets, ["key"], phi).collect()[0][
        "quantile_value"
    ]
    lower = 0.5  # strictly inside the first bucket (lower bound 0)
    if v <= lower:  # quantile landed below the probe point: skip
        return
    frac = histogram_fraction(buckets, ["key"], lower, v).collect()[0][
        "fraction"
    ]
    cdf_lower = cum[0] * (lower - 0.0) / (bounds[0] - 0.0)
    assert frac * total == __import__("pytest").approx(
        phi * total - cdf_lower, abs=1e-6
    )


def test_histogram_fraction_clamps_out_of_range_endpoints(spark):
    """ADVICE r9: endpoints outside the bucket ladder must CLAMP, not
    silently drop the series — lower = 0 (exactly the ladder start) is
    CDF 0, an upper above the last bound is CDF total, and a series is
    never erased from the output by an endpoint choice."""
    from numalogic_prometheus_spark.operators.promql import histogram_fraction

    # two series; no +Inf row at all (the sparse caller shape)
    rows = [
        ("a", 1.0, 10), ("a", 2.0, 30), ("a", 4.0, 40),
        ("b", 1.0, 4), ("b", 2.0, 4), ("b", 4.0, 8),
    ]
    buckets = spark.createDataFrame(
        rows, "key string, le double, cum_count long"
    )
    # (0, 100]: whole ladder → fraction exactly 1 for every series
    out = {
        r["key"]: r["fraction"]
        for r in histogram_fraction(buckets, ["key"], 0.0, 100.0).collect()
    }
    assert out == {"a": 1.0, "b": 1.0}
    # (-5, 2]: negative lower clamps to CDF 0 → fraction = cum(2)/total
    out = {
        r["key"]: r["fraction"]
        for r in histogram_fraction(buckets, ["key"], -5.0, 2.0).collect()
    }
    assert out == {"a": 30 / 40, "b": 4 / 8}
    # (2, 100]: upper clamps to total → 1 − cum(2)/total
    out = {
        r["key"]: r["fraction"]
        for r in histogram_fraction(buckets, ["key"], 2.0, 100.0).collect()
    }
    assert out == {"a": 10 / 40, "b": 4 / 8}


def test_histogram_fraction_inf_row_matches_clamp(spark):
    """ADVICE r10: a finite endpoint above the last FINITE bound must
    give the same CDF whether or not the relation materializes a
    le = +Inf row. Without the +Inf short-circuit, x = 100 matched the
    +Inf bucket and interpolated to the last finite cumulative count
    (prev_n + 0/inf), while the no-+Inf shape clamped to total — two
    CDFs for one endpoint. Also pins +Inf mass handling: the +Inf row's
    count IS the total, so above-ladder mass lands in the fraction."""
    from numalogic_prometheus_spark.operators.promql import histogram_fraction

    finite = [("a", 1.0, 10), ("a", 2.0, 30), ("a", 4.0, 40)]
    with_inf = finite + [("a", float("inf"), 40)]  # no +Inf mass
    with_mass = finite + [("a", float("inf"), 50)]  # 10 obs above 4.0
    schema = "key string, le double, cum_count long"

    def frac(rows, lo, hi):
        b = spark.createDataFrame(rows, schema)
        return histogram_fraction(b, ["key"], lo, hi).collect()[0]["fraction"]

    # finite upper above the ladder: identical with and without +Inf row
    assert frac(finite, 2.0, 100.0) == frac(with_inf, 2.0, 100.0) == 10 / 40
    # same for the lower endpoint landing in the +Inf bucket: (100, 200]
    # is empty mass either way
    assert frac(finite, 100.0, 200.0) == frac(with_inf, 100.0, 200.0) == 0.0
    # with real +Inf mass, an above-ladder upper captures it (CDF total
    # = 50), so (2, 100] = (50 - 30)/50
    assert frac(with_mass, 2.0, 100.0) == 20 / 50


_shift_value = st.floats(
    min_value=0.0, max_value=100.0, allow_nan=False, allow_infinity=False
)


@given(
    series=st.lists(
        st.lists(_shift_value, min_size=1, max_size=40),
        min_size=1,
        max_size=2,
    )
)
@_settings
def test_level_shift_prefix_sum_matches_direct_windows(
    spark, series, tmp_path_factory
):
    """The prefix-sum rewrite (plans/timeseries.py
    ts_level_shift_detect) must equal the definition it rewrites: the
    mean of the next w samples minus the mean of the previous w,
    computed DIRECTLY from slices of the ordered series — catching any
    lag/lead off-by-one in the running-sum differences, including the
    full-window edge conditions (series shorter than 2w emit nothing)."""
    from datetime import datetime, timedelta

    from numalogic_prometheus_spark.plans.timeseries import (
        _SHIFT_W,
        ts_level_shift_detect,
    )

    base = datetime(2024, 1, 1)
    rows = []
    for si, samples in enumerate(series):
        for j, v in enumerate(samples):
            rows.append((f"s{si}", base + timedelta(minutes=j), float(v)))
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    path = tmp_path_factory.mktemp("shift_prop")
    df.write.mode("overwrite").parquet(str(path / "events.parquet"))

    w = _SHIFT_W
    want = {}
    for si, samples in enumerate(series):
        cents = [round(v * 100) for v in samples]
        # full two-sided windows only: position i (0-based) needs w
        # samples strictly before it and w from i onward
        for i in range(w, len(cents) - (w - 1)):
            left = sum(cents[i - w:i]) / float(w)
            right = sum(cents[i:i + w]) / float(w)
            t_us = int((base + timedelta(minutes=i)).timestamp() * 1e6)
            want[(f"s{si}", t_us)] = (right - left) / 100.0

    got = {
        (r["event_type"], int(r["ts"].timestamp() * 1e6)): r["shift_value"]
        for r in ts_level_shift_detect(spark, str(path)).collect()
    }
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-9, (k, got[k], v)


_cents = st.integers(min_value=-600_000, max_value=600_000)


@given(
    cents=st.lists(_cents, min_size=1, max_size=25),
)
@_settings
def test_native_stddev_moment_equals_direct(spark, cents, tmp_path_factory):
    """The exact-integer moment form of promql_native_histogram_stddev
    equals the direct functions.go bucket loop (geometric mids, zero
    bucket, overflow clamp) on random series spanning all regimes —
    the algebra the entry docstring claims, checked numerically."""
    from datetime import datetime

    from numalogic_prometheus_spark.operators.native_histogram import (
        BOUNDS,
        HI,
        LO,
    )
    from numalogic_prometheus_spark.plans.promql7 import (
        promql_native_histogram_stddev,
    )

    tmp = tmp_path_factory.mktemp("nhsd")
    t = datetime(2024, 1, 1)
    rows = [
        (i + 1, t, 1, "a", c / 100.0, "{}") for i, c in enumerate(cents)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp / "events.parquet"))

    def mid(v: float) -> float:
        if v == 0:
            return 0.0
        sign = 1.0 if v > 0 else -1.0
        idx = LO + sum(1 for b in BOUNDS if b < abs(v))
        if idx > HI:
            return sign * 2.0 ** HI  # bounded-resolution clamp
        return sign * math.sqrt(2.0 ** (idx - 1) * 2.0 ** idx)

    n = len(cents)
    mean = sum(cents) / n / 100.0
    ref_var = sum((mid(c / 100.0) - mean) ** 2 for c in cents) / n

    out = promql_native_histogram_stddev(spark, str(tmp)).collect()
    assert len(out) == 1 and out[0]["n_obs"] == n
    got = out[0]["stdvar_value"]
    # moment-form cancellation noise scales with mean^2 * n
    tol = 1e-7 * max(1.0, mean * mean * n)
    assert abs(got - ref_var) <= tol
    if ref_var > tol:
        assert abs(out[0]["stddev_value"] - math.sqrt(ref_var)) <= math.sqrt(
            tol
        )


_chunk_text = st.text(
    alphabet="abc XY.\n\té中", min_size=0, max_size=400
)


@given(texts=st.lists(_chunk_text, min_size=1, max_size=10))
@_settings
def test_chunk_ladder_property(spark, texts, tmp_path_factory):
    """text_chunk_overlap emits exactly the 128/96 ladder of every doc
    — including empty docs (no chunks), non-ASCII (char-grain
    boundaries, byte-grain md5), and the fully-overlapped-tail edge —
    and the DuckDB twin agrees on the same random fixture."""
    import hashlib

    from numalogic_prometheus_spark.plans.text5 import (
        _CHUNK,
        _STRIDE,
        text_chunk_overlap,
    )
    from tests.oracle_harness import compare_crafted

    tmp = tmp_path_factory.mktemp("chunks")
    spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    ).write.mode("overwrite").parquet(str(tmp / "documents.parquet"))

    expected = []
    for doc_id, text in enumerate(texts):
        for i, s in enumerate(range(0, len(text), _STRIDE)):
            body = text[s : s + _CHUNK]
            expected.append(
                (
                    doc_id,
                    i,
                    s,
                    len(body),
                    hashlib.md5(body.encode("utf-8")).hexdigest(),
                )
            )

    got = sorted(
        (
            r["doc_id"],
            r["chunk_idx"],
            r["chunk_start"],
            r["chunk_len"],
            r["chunk_md5"],
        )
        for r in text_chunk_overlap(spark, str(tmp)).collect()
    )
    assert got == sorted(expected)
    compare_crafted(spark, tmp, "text_chunk_overlap")


@given(
    samples=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),       # minute offset
            st.integers(min_value=-500, max_value=500),   # cents
        ),
        min_size=1,
        max_size=30,
    )
)
@_settings
def test_ts_of_over_time_matches_go_scan(spark, samples, tmp_path_factory):
    """promql_ts_of_over_time equals Prometheus's reference algorithm —
    an ascending scan updating on >= (max) / <= (min), so value ties
    resolve to the LATEST timestamp — on random series including
    duplicate values and duplicate timestamps."""
    from datetime import datetime, timedelta

    from numalogic_prometheus_spark.plans.promql8 import (
        promql_ts_of_over_time,
    )

    tmp = tmp_path_factory.mktemp("tsof")
    t0 = datetime(2024, 1, 1)
    rows = [
        (i + 1, t0 + timedelta(minutes=m), 1, "a", c / 100.0, "{}")
        for i, (m, c) in enumerate(samples)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp / "events.parquet"))

    # reference: Go functions.go ascending scan (ties -> latest ts)
    ordered = sorted(samples, key=lambda p: p[0])
    max_c = min_c = None
    ts_max = ts_min = None
    for m, c in ordered:
        if max_c is None or c >= max_c:
            max_c, ts_max = c, m
        if min_c is None or c <= min_c:
            min_c, ts_min = c, m
    us = lambda m: int((t0 + timedelta(minutes=m)).timestamp() * 1_000_000)  # noqa: E731

    (row,) = promql_ts_of_over_time(spark, str(tmp)).collect()
    assert row["ts_of_max"] == us(ts_max)
    assert row["ts_of_min"] == us(ts_min)
    assert row["ts_of_last"] == us(ordered[-1][0])
    assert row["max_v"] == max_c / 100.0
    assert row["min_v"] == min_c / 100.0


@given(
    st.lists(
        st.binary(min_size=0, max_size=600), min_size=1, max_size=8
    )
)
@settings(max_examples=60, deadline=None)
def test_cdc_sql_formulation_matches_chunker(blobs):
    """The round-12 CDC oracle's two identities, pinned as a property
    over arbitrary byte-strings (the SQL itself only ever sees the
    ASCII fixture; this covers the full byte domain):

      1. h % 64 == 63 (rolling Rabin-Karp, base 257, modulus 2^31)
         equals sum(trailing 16 bytes) % 64 == 63, because 257 ≡ 1
         (mod 64) and 64 | 2^31;
      2. content boundaries are absolute, so max-length force cuts are
         the stepped expansion a+160, a+320, … within each consecutive
         content-cut gap — no recurrence.

    The gap-expansion reconstruction below is the exact algorithm the
    DuckDB oracle runs; it must reproduce chunk_bytes verbatim
    (offsets, lengths, hashes)."""
    import hashlib

    from numalogic_prometheus_spark.operators.cdc import (
        _DIV,
        _MAX,
        _WIN,
        chunk_bytes,
    )

    for data in blobs:
        n = len(data)
        ccuts = [
            i + 1
            for i in range(n)
            if i >= _WIN - 1
            and sum(data[i - _WIN + 1 : i + 1]) % _DIV == _DIV - 1
        ]
        anchors = sorted({0, n, *ccuts})
        ends = []
        for a, b in zip(anchors, anchors[1:]):
            e = a + _MAX
            while e < b:
                ends.append(e)
                e += _MAX
            ends.append(b)
        out, s = [], 0
        for e in ends:
            out.append((s, e - s, hashlib.md5(data[s:e]).hexdigest()[:16]))
            s = e
        assert chunk_bytes(data) == out


# ---------------------------------------------------------------------------
# connected_components: the driver path (edge graph within the broadcast
# bound) and the BSP path (broadcasts off) against a pure-Python
# union-find. Paths take their ids in random order, so a component's
# minimum usually sits inside the path, not at an end; self-loops,
# duplicate and reversed edges ride along.

_cc_id = st.integers(min_value=0, max_value=200)
_cc_settings = settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@st.composite
def _cc_edges(draw, nulls: bool = False):
    edges = []
    for path in draw(
        st.lists(st.lists(_cc_id, min_size=2, max_size=16, unique=True),
                 max_size=3)
    ):
        edges += list(zip(path, path[1:]))
    edges += draw(st.lists(st.tuples(_cc_id, _cc_id), max_size=8))
    edges += [(x, x) for x in draw(st.lists(_cc_id, max_size=2))]
    if edges:
        for a, b in draw(st.lists(st.sampled_from(edges), max_size=4)):
            edges.append((b, a) if draw(st.booleans()) else (a, b))
    if nulls:
        for x in draw(st.lists(st.none() | _cc_id, min_size=1, max_size=3)):
            edges.append((None, x) if draw(st.booleans()) else (x, None))
    return draw(st.permutations(edges))


def _uf_components(edges):
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _cc_rows(spark, edges, broadcast: bool):
    from numalogic_prometheus_spark.operators.dedup import connected_components

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    threshold = "10MB" if broadcast else "-1"
    with _conf(spark, "spark.sql.autoBroadcastJoinThreshold", threshold):
        rows = connected_components(df, max_iter=64).collect()
    return sorted(
        (tuple(r) for r in rows), key=lambda r: (r[0] is None, r[0] or 0)
    )


@given(edges=_cc_edges())
@_cc_settings
def test_connected_components_paths_match_union_find(spark, edges):
    want = _uf_components(edges)
    for broadcast in (True, False):
        got = _cc_rows(spark, edges, broadcast)
        assert len(got) == len({r[0] for r in got})
        assert dict(got) == want, broadcast


@given(edges=_cc_edges(nulls=True))
@example(edges=[(1, 2), (3, None), (None, 5), (None, None), (7, 7), (2, 9)])
@example(edges=[(None, None)])
@_cc_settings
def test_connected_components_null_endpoints_match_bsp(spark, edges):
    # NULL joins nothing: the non-NULL nodes keep their union-find
    # components, and both paths leave one NULL-id row labelled with the
    # component of its smallest non-NULL partner
    driver = _cc_rows(spark, edges, broadcast=True)
    assert driver == _cc_rows(spark, edges, broadcast=False)
    want = _uf_components([e for e in edges if None not in e])
    partners = [x for e in edges if None in e for x in e if x is not None]
    for x in partners:
        want.setdefault(x, x)
    assert dict(driver[:-1]) == want
    assert driver[-1] == (None, want[min(partners)] if partners else None)
