"""Golden pins for plans/promql7.py on crafted fixtures.

The shipped testdata is all-positive and never lands exactly on a
power of two, so it can't exercise the native-histogram edges that
define the operator: a sample exactly ON a bucket boundary (must go to
the LOWER bucket — (lower, upper] semantics), negative and zero
observations, the overflow collapse above 2^HI, and the bounded-
resolution collapse below 2^LO. The info() fixture forces the as-of
edges: a sample before any info row (drops), an info row exactly AT
the sample ts (applies — <= semantics), equal-ts duplicate info rows
(event_id tiebreak), and a label change between samples. Every case is
pinned against a hand computation AND the DuckDB twin on the same
crafted table (compare_crafted)."""

from __future__ import annotations

from datetime import datetime, timedelta

from tests.oracle_harness import compare_crafted

_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _write_events(spark, tmp_path, rows) -> None:
    spark.createDataFrame(rows, _SCHEMA).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )


def test_native_buckets_boundary_zero_negative_overflow(spark, tmp_path):
    from numalogic_prometheus_spark.plans.promql7 import (
        promql_native_histogram_buckets,
    )

    t = datetime(2024, 3, 1)
    rows = [
        # exactly ON the boundary: 8.0 belongs to idx 3 = (4, 8]
        (1, t, 1, "a", 8.0, "{}"),
        # just above: 8.000001 -> idx 4 = (8, 16]
        (2, t, 1, "a", 8.000001, "{}"),
        # zero bucket
        (3, t, 1, "a", 0.0, "{}"),
        # negative mirror: -5 -> kind neg, idx 3 (|v| in (4, 8])
        (4, t, 1, "a", -5.0, "{}"),
        # overflow: above 2^12 -> idx 13, upper = +Inf
        (5, t, 1, "a", 5000.0, "{}"),
        # bounded-resolution collapse: below 2^-10 still lands in the
        # lowest ladder bucket idx = -10
        (6, t, 1, "a", 1e-5, "{}"),
    ]
    _write_events(spark, tmp_path, rows)

    got = {
        (r["kind"], r["idx"]): (r["n"], r["lower"], r["upper"])
        for r in promql_native_histogram_buckets(
            spark, str(tmp_path)
        ).collect()
    }
    assert got[("pos", 3)] == (1, 4.0, 8.0)
    assert got[("pos", 4)] == (1, 8.0, 16.0)
    assert got[("zero", None)] == (1, 0.0, 0.0)
    assert got[("neg", 3)] == (1, -8.0, -4.0)
    assert got[("pos", 13)] == (1, 4096.0, float("inf"))
    assert got[("pos", -10)] == (1, 2.0 ** -11, 2.0 ** -10)
    assert len(got) == 6
    compare_crafted(spark, tmp_path, "promql_native_histogram_buckets")

    # plan shape: bucket assignment is a map-side array filter — no
    # explode (Generate) and no join anywhere in the plan
    plan = promql_native_histogram_buckets(
        spark, str(tmp_path)
    )._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan and "Join" not in plan


def test_bucket_index_matches_oracle_at_every_boundary(spark):
    """bucket_index against the oracles' DuckDB list_filter fragment at
    every ladder boundary 2^k, one ulp either side of each, below 2^LO
    and above 2^HI, for both magnitude forms the entries use (value
    and abs(value) of its negation). Both engines must give the unique
    idx with 2^(idx−1) < v ≤ 2^idx, clamped to [LO, HI + 1]."""
    import math

    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from numalogic_prometheus_spark.operators.native_histogram import (
        BOUNDS,
        HI,
        LO,
        bucket_index,
        bucket_index_sql,
    )

    values = [2.0 ** (LO - 1), 2.0 ** (HI + 1)]
    for b in BOUNDS:
        values += [math.nextafter(b, 0.0), b, math.nextafter(b, math.inf)]

    def expect(v: float) -> int:
        m, e = math.frexp(v)  # v = m·2^e, 0.5 <= m < 1
        idx = e - 1 if m == 0.5 else e
        return min(max(idx, LO), HI + 1)

    # the fragment checked here is the one every native-histogram
    # oracle spells (whitespace aside)
    from numalogic_prometheus_spark.plans import all_oracles

    def norm(sql: str) -> str:
        return " ".join(sql.split())

    forms = [norm(bucket_index_sql(m)) for m in ("value", "abs(value)")]
    nh = [o for n, o in all_oracles().items() if "native_histogram" in n]
    assert len(nh) == 8
    assert all(any(f in norm(o) for f in forms) for o in nh)

    want = [expect(v) for v in values]
    assert want.count(LO) > 1 and want.count(HI + 1) > 1  # both clamps hit

    rows = [(i, v, -v) for i, v in enumerate(values)]
    sdf = spark.createDataFrame(rows, "i int, value double, neg double")
    spark_idx = sdf.select(
        "i",
        bucket_index(F.col("value")).alias("pos"),
        bucket_index(F.abs(F.col("neg"))).alias("neg"),
    ).collect()
    con = duckdb.connect()
    con.register("vals", pd.DataFrame(rows, columns=["i", "value", "neg"]))
    duck_idx = con.execute(
        f"SELECT i, {bucket_index_sql('value')} AS pos,"
        f" {bucket_index_sql('abs(neg)')} AS neg FROM vals ORDER BY i"
    ).fetchall()
    con.close()

    assert sorted((r["i"], r["pos"], r["neg"]) for r in spark_idx) == [
        (i, w, w) for i, w in enumerate(want)
    ]
    assert duck_idx == [(i, w, w) for i, w in enumerate(want)]


def test_native_quantile_exponential_interpolation(spark, tmp_path):
    from numalogic_prometheus_spark.plans.promql7 import (
        promql_native_histogram_quantile,
    )

    t = datetime(2024, 3, 1)
    # 10 observations in idx=3 (4,8], 10 in idx=4 (8,16]: total 20,
    # rank 0.9*20 = 18 lands in idx=4 with prev_cum=10 -> frac = 8/10;
    # exponential rule: 8 * 2^0.8  (NOT the linear 8 + 0.8*8)
    rows = []
    for i in range(10):
        rows.append((i + 1, t, 1, "a", 5.0, "{}"))
        rows.append((i + 11, t, 1, "a", 9.0, "{}"))
    # negative + zero samples must be EXCLUDED from the positive-branch
    # quantile, not silently bucketed
    rows.append((21, t, 1, "a", -100.0, "{}"))
    rows.append((22, t, 1, "a", 0.0, "{}"))
    _write_events(spark, tmp_path, rows)

    out = promql_native_histogram_quantile(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_obs"] == 20
    assert r["quantile_value"] == 8.0 * 2.0 ** ((18.0 - 10.0) / 10.0)
    assert r["quantile_value"] != 8.0 + 0.8 * 8.0  # not linear
    compare_crafted(spark, tmp_path, "promql_native_histogram_quantile")


def test_info_enrich_asof_edges(spark, tmp_path):
    from numalogic_prometheus_spark.plans.promql7 import promql_info_enrich

    t = datetime(2024, 3, 1)
    rows = [
        # user 1: purchase BEFORE any signup info -> drops
        (1, t, 1, "purchase", 10.0, "{}"),
        # user 1: info row exactly AT the next purchase ts -> applies
        (2, t + timedelta(hours=1), 1, "signup", 0.0, '{"k": 7}'),
        (3, t + timedelta(hours=1), 1, "purchase", 20.0, "{}"),
        # user 1: label change, later purchase sees the NEW label
        (4, t + timedelta(hours=2), 1, "signup", 0.0, '{"k": 9}'),
        (5, t + timedelta(hours=3), 1, "purchase", 30.0, "{}"),
        # user 2: equal-ts duplicate info rows -> event_id 7 wins
        (6, t, 2, "signup", 0.0, '{"k": 1}'),
        (7, t, 2, "signup", 0.0, '{"k": 2}'),
        (8, t + timedelta(hours=1), 2, "purchase", 40.0, "{}"),
    ]
    _write_events(spark, tmp_path, rows)

    got = {
        r["event_id"]: (r["purchase_value"], r["info_k"])
        for r in promql_info_enrich(spark, str(tmp_path)).collect()
    }
    assert 1 not in got  # no info in effect yet
    assert got[3] == (20.0, 7)  # <= tie: info at sample ts applies
    assert got[5] == (30.0, 9)  # sees the updated label
    assert got[8] == (40.0, 2)  # event_id tiebreak on equal-ts infos
    assert len(got) == 3
    compare_crafted(spark, tmp_path, "promql_info_enrich")


def test_native_stddev_moment_form_matches_go_semantics(spark, tmp_path):
    import math

    from numalogic_prometheus_spark.plans.promql7 import (
        promql_native_histogram_stddev,
    )

    t = datetime(2024, 3, 1)
    # one sample per edge regime: pos idx3, pos idx4, zero bucket,
    # negative mirror, overflow clamp
    rows = [
        (1, t, 1, "a", 5.0, "{}"),
        (2, t, 1, "a", 9.0, "{}"),
        (3, t, 1, "a", 0.0, "{}"),
        (4, t, 1, "a", -5.0, "{}"),
        (5, t, 1, "a", 5000.0, "{}"),
        # a second series: both samples in one bucket -> variance is
        # just (geomid - mean)^2, strictly positive
        (6, t, 1, "b", 5.0, "{}"),
        (7, t, 1, "b", 5.0, "{}"),
    ]
    _write_events(spark, tmp_path, rows)

    # independent per-bucket reference, the direct functions.go form:
    # val = sign * sqrt(lower*upper), 0 for the zero bucket, clamped
    # to +-2^12 in the overflow bucket (our bounded-resolution rule)
    mids_a = [
        math.sqrt(4 * 8),      # 5.0   -> (4, 8]
        math.sqrt(8 * 16),     # 9.0   -> (8, 16]
        0.0,                   # 0.0   -> zero bucket
        -math.sqrt(4 * 8),     # -5.0  -> neg (4, 8] mirror
        4096.0,                # 5000  -> overflow, clamped
    ]
    mean_a = (5.0 + 9.0 + 0.0 - 5.0 + 5000.0) / 5
    ref_var_a = sum((v - mean_a) ** 2 for v in mids_a) / 5

    mid_b = math.sqrt(4 * 8)
    ref_var_b = (mid_b - 5.0) ** 2  # mean_b = 5.0

    got = {
        r["event_type"]: (r["n_obs"], r["stdvar_value"], r["stddev_value"])
        for r in promql_native_histogram_stddev(spark, str(tmp_path)).collect()
    }
    n_a, var_a, dev_a = got["a"]
    assert n_a == 5
    assert abs(var_a - ref_var_a) <= 1e-9 * ref_var_a
    assert dev_a == math.sqrt(var_a)
    n_b, var_b, dev_b = got["b"]
    assert n_b == 2
    assert var_b > 0  # geometric mid != arithmetic sample mean
    assert abs(var_b - ref_var_b) <= 1e-9 * ref_var_b
    compare_crafted(spark, tmp_path, "promql_native_histogram_stddev")


def test_timestamp_function_reads_sample_time(spark, tmp_path):
    from datetime import timezone

    from numalogic_prometheus_spark.plans.promql7 import (
        promql_timestamp_function,
    )

    t = datetime(2024, 3, 1)
    rows = [
        # series (a, 1): two samples -> the LATER sample's ts is the
        # value (not evaluation time, not the earlier sample)
        (1, t, 1, "a", 10.0, "{}"),
        (2, t + timedelta(hours=2), 1, "a", 20.0, "{}"),
        # series (a, 2): single sample
        (3, t + timedelta(minutes=30), 2, "a", 30.0, "{}"),
    ]
    _write_events(spark, tmp_path, rows)

    def micros(dt) -> int:
        return int(dt.replace(tzinfo=timezone.utc).timestamp() * 1_000_000)

    got = {
        r["user_id"]: (r["ts_micros"], r["ts_value"])
        for r in promql_timestamp_function(spark, str(tmp_path)).collect()
    }
    m1 = micros(t + timedelta(hours=2))
    m2 = micros(t + timedelta(minutes=30))
    assert got[1] == (m1, m1 / 1_000_000.0)
    assert got[2] == (m2, m2 / 1_000_000.0)
    compare_crafted(spark, tmp_path, "promql_timestamp_function")
