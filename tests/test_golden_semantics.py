"""Golden-semantics unit tests (SURVEY.md §5.2 item 2): tiny inline
DataFrames with hand-computed expectations for the pinned-dep edge cases
of the five disciplines (reference numaprom/monitoring/metrics.py and
prometheus-client 0.18 semantics)."""

from __future__ import annotations

import math
from datetime import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from numalogic_prometheus_spark.operators import metrics as M
from numalogic_prometheus_spark.operators import ml as ML
from numalogic_prometheus_spark.operators.promql import (
    histogram_quantile,
    increase_with_resets,
)
from numalogic_prometheus_spark.operators.relational import asof_join
from tests.test_storage_layout import _conf


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


@pytest.fixture()
def samples(spark):
    rows = [
        Row(name="m", ts=_ts("2024-01-01T00:00:00"), key="a", value=1.0),
        Row(name="m", ts=_ts("2024-01-01T00:01:00"), key="a", value=2.0),
        Row(name="m", ts=_ts("2024-01-01T00:02:00"), key="a", value=4.0),
        Row(name="m", ts=_ts("2024-01-01T00:00:30"), key="b", value=10.0),
    ]
    return spark.createDataFrame(rows)


def test_counter_discipline_sum(samples):
    # reference metrics.py:64-68 — commutative sum per child series
    out = {r["key"]: r for r in M.counter(samples, ["key"]).collect()}
    assert out["a"]["total"] == 7.0 and out["a"]["n_samples"] == 3
    assert out["b"]["total"] == 10.0


def test_gauge_discipline_last_write_wins(samples):
    # reference metrics.py:144-152 — last write wins, by ts not by value
    out = {r["key"]: r for r in M.gauge_latest(samples, ["key"]).collect()}
    assert out["a"]["gauge_value"] == 4.0
    assert out["a"]["last_ts"] == _ts("2024-01-01T00:02:00")


def test_counter_guarded_rejects_negative_nan_null(spark):
    # reference metrics.py:64-68 + pinned prometheus-client: inc(amount<0)
    # raises ValueError; relationally the invalid samples divert to a
    # dead-letter side relation. NaN must be caught explicitly — Spark
    # orders NaN above every number, so `value >= 0` alone accepts it.
    rows = [
        Row(key="a", value=1.0),
        Row(key="a", value=-2.0),       # negative increment → rejected
        Row(key="a", value=float("nan")),  # NaN → rejected
        Row(key="a", value=None),       # null → rejected
        Row(key="a", value=3.0),
        Row(key="b", value=0.0),        # zero increment is legal
    ]
    df = spark.createDataFrame(rows, "key string, value double")
    accepted, rejected = M.counter_guarded(df, ["key"])
    acc = {r["key"]: r for r in accepted.collect()}
    assert acc["a"]["n_samples"] == 2 and acc["a"]["total"] == 4.0
    assert acc["b"]["n_samples"] == 1 and acc["b"]["total"] == 0.0
    rej = rejected.collect()
    assert len(rej) == 3 and all(r["key"] == "a" for r in rej)


def test_gauge_latest_tiebreak_on_ts_collision(spark):
    # two samples at the SAME max ts: the event_id tiebreak must pin the
    # pick (without it max_by is free to return either value)
    rows = [
        Row(key="a", ts=_ts("2024-01-01T00:01:00"), event_id=1, value=5.0),
        Row(key="a", ts=_ts("2024-01-01T00:02:00"), event_id=2, value=7.0),
        Row(key="a", ts=_ts("2024-01-01T00:02:00"), event_id=3, value=9.0),
    ]
    df = spark.createDataFrame(rows)
    out = M.gauge_latest(df, ["key"], tiebreak="event_id").collect()[0]
    assert out["gauge_value"] == 9.0  # highest (ts, event_id)
    assert out["last_ts"] == _ts("2024-01-01T00:02:00")


def test_summary_discipline_count_sum(samples):
    out = {r["key"]: r for r in M.summary(samples, ["key"], quantiles=[0.5]).collect()}
    assert out["a"]["obs_count"] == 3 and out["a"]["obs_sum"] == 7.0
    assert out["a"]["q50"] == 2.0  # exact median


def test_histogram_cumulative_buckets(spark):
    # hand-computed: values 0.004, 0.05, 0.3, 20 → le counts must be
    # cumulative and +Inf must equal total count (pinned-dep semantics)
    df = spark.createDataFrame(
        [("k", v) for v in (0.004, 0.05, 0.3, 20.0)], "key string, value double"
    )
    out = {r["le"]: r["cum_count"] for r in M.histogram_buckets(df, ["key"]).collect()}
    assert out[0.005] == 1
    assert out[0.05] == 2
    assert out[0.5] == 3
    assert out[10.0] == 3
    assert out[float("inf")] == 4
    # monotone cumulative
    les = sorted(out)
    assert all(out[a] <= out[b] for a, b in zip(les, les[1:]))


def test_label_merge_right_biased_and_none(spark):
    # reference metrics.py:65-67 — per-call labels override static
    # defaults; None per-call labels coerce to {}
    static = F.create_map(F.lit("env"), F.lit("prod"), F.lit("region"), F.lit("eu"))
    dynamic_typed = F.lit(None).cast("map<string,string>")
    df = spark.range(1).select(
        M.merge_labels(static, F.create_map(F.lit("region"), F.lit("us"))).alias("m1"),
        M.merge_labels(static, dynamic_typed).alias("m2"),
    )
    r = df.collect()[0]
    assert r["m1"] == {"env": "prod", "region": "us"}
    assert r["m2"] == {"env": "prod", "region": "eu"}


def test_exposition_line_format(spark):
    df = spark.createDataFrame([("error", 3)], "event_type string, n long")
    line = M.exposition_lines(df, "events_total", ["event_type"], "n").collect()[0][0]
    assert line == 'events_total{event_type="error"} 3'


def test_nan_inf_cleaning(spark):
    # B4 (CHANGELOG.md:420): NaN and ±Inf → 0.0
    df = spark.createDataFrame(
        [(float("nan"),), (float("inf",),), (float("-inf"),), (5.0,)], "v double"
    )
    vals = [r["v"] for r in ML.clean_nan_inf(df, ["v"]).collect()]
    assert vals == [0.0, 0.0, 0.0, 5.0]


def test_increase_counter_reset(spark):
    # counter 5 → 8 → 2 (reset) → 3: increases are 3, 2(post-reset), 1
    df = spark.createDataFrame(
        [("k", i, c) for i, c in enumerate([5, 8, 2, 3])],
        "key string, seq int, c long",
    )
    out = increase_with_resets(df, ["key"], "c", order=["seq"]).orderBy("seq")
    assert [r["increase"] for r in out.collect()] == [3, 2, 1]


def test_histogram_quantile_interpolation(spark):
    # one series, buckets (le=1: 10, le=2: 20, inf: 20); q=0.5 → rank 10
    # falls exactly at the first bucket boundary → 1.0; q=0.75 → rank 15,
    # interpolated inside (1,2]: 1 + (15-10)/(20-10) = 1.5
    df = spark.createDataFrame(
        [("k", 1.0, 10), ("k", 2.0, 20), ("k", float("inf"), 20)],
        "key string, le double, cum_count long",
    )
    q50 = histogram_quantile(df, ["key"], 0.5).collect()[0]["quantile_value"]
    q75 = histogram_quantile(df, ["key"], 0.75).collect()[0]["quantile_value"]
    assert math.isclose(q50, 1.0)
    assert math.isclose(q75, 1.5)
    # quantile landing in +Inf returns the largest finite bound
    q100 = histogram_quantile(df, ["key"], 1.0).collect()[0]["quantile_value"]
    assert math.isclose(q100, 2.0)


def test_dedup_idempotence(spark):
    # B3 (CHANGELOG.md:189): duplicate (key, ts) payloads drop to one
    df = spark.createDataFrame(
        [("k", 1, 10.0), ("k", 1, 10.0), ("k", 2, 11.0)],
        "key string, ts int, value double",
    )
    once = df.dropDuplicates(["key", "ts"])
    twice = once.dropDuplicates(["key", "ts"])
    assert once.count() == 2 and twice.count() == 2


def test_asof_join_takes_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [("k", 10, "q1"), ("k", 20, "q2"), ("k", 5, "q0")],
        "key string, ts int, tag string",
    )
    right = spark.createDataFrame(
        [("k", 8, 1.0), ("k", 10, 2.0), ("k", 15, 3.0)],
        "key string, ts int, val double",
    )
    out = {
        r["tag"]: r["val"]
        for r in asof_join(left, right, on=["key"], value_cols=["val"]).collect()
    }
    assert out["q0"] is None  # nothing at or before ts=5
    assert out["q1"] == 2.0  # ties take the right row (>= semantics)
    assert out["q2"] == 3.0


def test_connected_components_chain_and_clusters(spark):
    # chain 1-2-3-4 (propagation must cross >1 hop), pair {10,11},
    # and an isolated pair {20,21}; component = min member id
    from numalogic_prometheus_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (21, 20)],
        "id_a long, id_b long",
    )
    out = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_kmv_sketch_estimates_track_exact_counts(spark, sf_dir):
    """Mergeable-sketch accuracy (KMV, k=128): below k distinct the
    sketch is exact (5% bound trivially holds at sf0.001); at sf0.01 the
    daily cardinalities straddle k so the (k−1)·2^48/h_(k) order-statistic
    branch is exercised — bound 3σ ≈ 27%, observed ≤ 1.8%."""
    from pyspark.sql import functions as F

    from numalogic_prometheus_spark import plans
    from numalogic_prometheus_spark.sources.tables import load_table

    # Derive the sibling sf0.01 dir from the fixture (ADVICE r6: a
    # hardcoded /root/testdata path errors on hosts without it).
    import os

    sibling = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    dirs = [(sf_dir, 0.05)]
    if os.path.isdir(sibling):
        # order-statistic branch only exercised where cardinality > k
        dirs.append((sibling, 0.27))
    for dir_, tol in dirs:
        est_rows = plans.all_queries()["agg_hll_mergeable_daily"](
            spark, dir_
        ).collect()
        ev = load_table(spark, dir_, "events")
        exact_daily = {
            r["day"]: r["n"]
            for r in ev.groupBy(F.date_trunc("day", "ts").alias("day"))
            .agg(F.countDistinct("user_id").alias("n"))
            .collect()
        }
        exact_total = ev.select("user_id").distinct().count()
        assert est_rows
        for r in est_rows:
            exact = exact_total if r["day"] is None else exact_daily[r["day"]]
            assert abs(r["est_users"] - exact) <= max(2, tol * exact), (
                f"{dir_} day={r['day']}: est {r['est_users']} vs {exact}"
            )


def test_ewma_irregular_time_constant(spark, tmp_path):
    """Golden EWMA check (ADVICE r2, medium): two samples 1h apart with
    τ = 1h must mix with α = 1 − e^(−1) ≈ 0.632121 — the ns-vs-µs bug
    made α ≈ 1 for any gap over a few seconds, which this pins down."""
    import math

    from numalogic_prometheus_spark.plans.timeseries import ts_ewma_irregular

    rows = [
        ("e", _ts("2024-01-01T00:00:00"), 1, 10.0),
        ("e", _ts("2024-01-01T01:00:00"), 2, 20.0),
    ]
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, event_id long, value double"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {
        r["ts"]: r["ewma"]
        for r in ts_ewma_irregular(spark, str(tmp_path)).collect()
    }
    assert out[_ts("2024-01-01T00:00:00")] == 10.0
    alpha = 1.0 - math.exp(-1.0)
    expect = alpha * 20.0 + (1.0 - alpha) * 10.0  # ≈ 16.321206
    assert abs(out[_ts("2024-01-01T01:00:00")] - expect) < 1e-6


_CHAIN_5 = [(1, 2), (2, 3), (3, 4), (4, 5)]


def test_connected_components_warns_on_nonconvergence(spark):
    import warnings as W_

    from numalogic_prometheus_spark.operators.dedup import connected_components

    # chain 1-2-3-4-5: min-label needs >1 round; max_iter=1 truncates.
    # Broadcasts off forces the BSP path, the one that has rounds.
    edges = spark.createDataFrame(_CHAIN_5, "id_a long, id_b long")
    with _conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
        with W_.catch_warnings(record=True) as caught:
            W_.simplefilter("always")
            connected_components(edges, max_iter=1).collect()
    assert any("did not converge" in str(w.message) for w in caught)


def test_connected_components_driver_path_ignores_max_iter(spark):
    """Under the default broadcast threshold the 4-edge chain is
    finished on the driver: fully merged even with max_iter=1, and no
    non-convergence warning."""
    import warnings as W_

    from numalogic_prometheus_spark.operators.dedup import (
        connected_components,
        driver_edge_bound,
    )

    assert driver_edge_bound(spark) >= len(_CHAIN_5)
    edges = spark.createDataFrame(_CHAIN_5, "id_a long, id_b long")
    with W_.catch_warnings(record=True) as caught:
        W_.simplefilter("always")
        out = {
            r["id"]: r["component"]
            for r in connected_components(edges, max_iter=1).collect()
        }
    assert out == {n: 1 for n in range(1, 6)}
    assert not any("did not converge" in str(w.message) for w in caught)


def test_driver_edge_bound_reads_broadcast_threshold(spark):
    from numalogic_prometheus_spark.operators.dedup import driver_edge_bound

    key = "spark.sql.autoBroadcastJoinThreshold"
    for value, bound in [
        ("-1", -1), ("0", 0), ("160", 10), ("10MB", 655360),
        ("10485760b", 655360), ("1k", 64),
    ]:
        with _conf(spark, key, value):
            assert driver_edge_bound(spark) == bound, value


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """The `reliable` switch must produce identical labels through
    df.checkpoint() (DFS-backed, executor-loss-survivable), on the
    driver path and on the BSP path."""
    from numalogic_prometheus_spark.operators.dedup import connected_components

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    for value in (threshold, "-1"):
        with _conf(spark, "spark.sql.autoBroadcastJoinThreshold", value):
            out = {
                r["id"]: r["component"]
                for r in connected_components(edges, reliable=True).collect()
            }
        assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}, value


def _seq_ewma(rows, tau_us=3_600_000_000):
    """Sequential reference for the segmented EWMA (round-6 re-key)."""
    import math

    out = {}
    by_series: dict = {}
    for et, ts, eid, v in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        by_series.setdefault(et, []).append((ts, eid, v))
    for et, samples in by_series.items():
        state = samples[0][2]
        prev_us = int(samples[0][0].timestamp() * 1e6)
        for ts, eid, v in samples:
            t_us = int(ts.timestamp() * 1e6)
            a = 1.0 - math.exp(-(t_us - prev_us) / tau_us)
            state = a * v + (1.0 - a) * state
            out[(et, t_us)] = state
            prev_us = t_us
    return out


def _seq_hw(rows):
    """Sequential reference for the segmented Holt-Winters."""
    by_series: dict = {}
    for et, ts, eid, v in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        by_series.setdefault(et, []).append(v)
    out = {}
    for et, v in by_series.items():
        if len(v) < 2:
            lvl, trend = (v[0] if v else 0.0), 0.0
        else:
            lvl, trend = v[0], v[1] - v[0]
            for x in v[1:]:
                p = lvl
                lvl = 0.3 * x + 0.7 * (lvl + trend)
                trend = 0.1 * (lvl - p) + 0.9 * trend
        out[et] = (len(v), round(lvl, 6), round(trend, 6))
    return out


def _recurrence_fixture(spark, tmp_path):
    """Multi-day fixture exercising every segmentation edge: a dense
    series chained across 3 days, a series whose head day holds a single
    sample (init straddles the segment boundary), and a single-sample
    series."""
    rows = []
    # dense: 3 days, irregular gaps
    for d in range(1, 4):
        for k in range(8):
            rows.append(
                ("dense", _ts(f"2024-01-0{d}T{2 * k:02d}:17:00"),
                 d * 100 + k, float((d * 7 + k * 3) % 11) + 0.25)
            )
    # straddle: day 1 has exactly ONE sample, day 2 has the rest
    rows.append(("straddle", _ts("2024-01-01T23:50:00"), 1, 5.0))
    for k in range(5):
        rows.append(
            ("straddle", _ts(f"2024-01-02T0{k}:10:00"), 10 + k, 3.0 + k)
        )
    # lone: one sample total
    rows.append(("lone", _ts("2024-01-03T12:00:00"), 99, 42.5))
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, event_id long, value double"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    return rows


def test_ewma_segmented_matches_sequential(spark, tmp_path):
    from numalogic_prometheus_spark.plans.timeseries import ts_ewma_irregular

    rows = _recurrence_fixture(spark, tmp_path)
    ref = _seq_ewma(rows)
    got = ts_ewma_irregular(spark, str(tmp_path)).collect()
    assert len(got) == len(rows)
    for r in got:
        t_us = int(r["ts"].timestamp() * 1e6)
        assert abs(r["ewma"] - round(ref[(r["event_type"], t_us)], 6)) < 1e-6, (
            r["event_type"], r["ts"])


def test_holt_winters_segmented_matches_sequential(spark, tmp_path):
    from numalogic_prometheus_spark.plans.timeseries import (
        ts_holt_winters_level_trend,
    )

    rows = _recurrence_fixture(spark, tmp_path)
    ref = _seq_hw(rows)
    got = ts_holt_winters_level_trend(spark, str(tmp_path)).collect()
    assert {r["event_type"] for r in got} == set(ref)
    for r in got:
        n, lvl, trend = ref[r["event_type"]]
        assert r["n_samples"] == n
        assert abs(r["level"] - lvl) < 1e-5, r["event_type"]
        assert abs(r["trend"] - trend) < 1e-5, r["event_type"]


# ---------------------------------------------------------------------------
# Extrapolated rate vs an INDEPENDENT mirror of promql/functions.go
# (ADVICE r6 medium: oracle and impl shared the first-sample phantom-reset
# bug, so hash parity alone could not catch it — this mirror is written
# from the Go source, not from the SQL).
# ---------------------------------------------------------------------------


def _go_extrapolated_rate(samples, range_start_us, range_end_us):
    """(t_us, c) pairs, ascending → counter rate/sec per functions.go."""
    if len(samples) < 2:
        return None
    delta = 0.0
    for (_, prev), (_, cur) in zip(samples, samples[1:]):
        delta += cur - prev if cur >= prev else cur  # reset → level
    first_t, first_c = samples[0]
    last_t = samples[-1][0]
    sampled = float(last_t - first_t)
    avg_d = sampled / (len(samples) - 1)
    dur_start = float(first_t - range_start_us)
    dur_end = float(range_end_us - last_t)
    thr = avg_d * 1.1
    if dur_start >= thr:
        dur_start = avg_d / 2.0
    if delta > 0 and first_c >= 0:
        dur_zero = sampled * (first_c / delta)
        if dur_zero < dur_start:
            dur_start = dur_zero
    if dur_end >= thr:
        dur_end = avg_d / 2.0
    extrap = sampled + dur_start + dur_end
    return delta * (extrap / sampled) / (range_end_us - range_start_us) * 1e6


def test_extrapolated_rate_matches_go_mirror(spark, tmp_path):
    from numalogic_prometheus_spark.plans.promql2 import (
        promql_rate_extrapolated,
    )

    # Three hour-windows on one series; the synthetic counter is
    # cumsum(round(value*100)) % 1000 over (ts, event_id).
    #  h0: first sample's level (500) must NOT count as a reset; one real
    #      reset (-200) inside the window.
    #  h1: edge gaps >= 1.1x avg spacing -> half-avg substitution.
    #  h2: ds0 >= thr AND avg_d/2 < durationToZero < thr — the exact case
    #      where clamp-before-substitution (the old order) diverges.
    rows = [
        ("e", _ts("2024-01-01T00:10:00"), 1, 5.00),   # c=500
        ("e", _ts("2024-01-01T00:20:00"), 2, 1.00),   # c=600
        ("e", _ts("2024-01-01T00:30:00"), 3, -2.00),  # c=400 (reset)
        ("e", _ts("2024-01-01T00:50:00"), 4, 0.50),   # c=450
        ("e", _ts("2024-01-01T01:40:00"), 5, 0.10),   # c=460
        ("e", _ts("2024-01-01T01:45:00"), 6, 0.40),   # c=500
        ("e", _ts("2024-01-01T01:50:00"), 7, 0.60),   # c=560
        ("e", _ts("2024-01-01T02:30:00"), 8, -5.50),  # c=10
        ("e", _ts("2024-01-01T02:40:00"), 9, 0.15),   # c=25
        ("e", _ts("2024-01-01T02:50:00"), 10, 0.15),  # c=40
    ]
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, event_id long, value double"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {
        r["hour"]: r
        for r in promql_rate_extrapolated(spark, str(tmp_path)).collect()
    }
    assert len(got) == 3

    # independent mirror over the same synthetic counter, cents scale
    cum, c_by_id = 0, {}
    for _, _, eid, v in rows:
        cum += round(v * 100)
        c_by_id[eid] = cum % 1000
    by_hour = {}
    for _, ts, eid, _ in rows:
        h = ts.replace(minute=0, second=0)
        by_hour.setdefault(h, []).append(
            (int(ts.timestamp() * 1e6), c_by_id[eid])
        )
    import math as _m

    for h, samples in by_hour.items():
        start = int(h.timestamp() * 1e6)
        rate_cents = _go_extrapolated_rate(samples, start, start + 3_600_000_000)
        expect_micro = _m.floor(rate_cents / 100.0 * 1e6 + 0.5)
        assert got[h]["rate_per_sec_micro"] == expect_micro, h

    # and the hand-computed pins (catch a mirror bug too)
    hours = sorted(got)
    # h2 under the OLD clamp-before-substitution order would be 153
    # (ds_eff=min(ds0,dz)=4e8 < thr); functions.go order gives 146.
    assert [got[h]["rate_per_sec_micro"] for h in hours] == [2292, 417, 146]
    assert [got[h]["delta_cents"] for h in hours] == [550, 100, 30]


def test_ewma_survives_multi_month_series_gap(spark, tmp_path):
    """ADVICE r6: a cross-segment gap > ~709·τ (~29.5 days at τ=1h) made
    exp(+Δt_0/τ) overflow inside the prefix-product division and emitted
    inf/NaN. The decay now enters once, never inverted: after a 90-day
    silence the state is fully decayed and the new sample dominates."""
    import math

    from numalogic_prometheus_spark.plans.timeseries import ts_ewma_irregular

    rows = [
        ("g", _ts("2024-01-01T00:00:00"), 1, 100.0),
        ("g", _ts("2024-01-01T06:00:00"), 2, 50.0),
        # 90-day gap — far beyond the exp overflow threshold
        ("g", _ts("2024-04-01T00:00:00"), 3, 7.0),
        ("g", _ts("2024-04-01T01:00:00"), 4, 9.0),
    ]
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, event_id long, value double"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {
        r["ts"]: r["ewma"]
        for r in ts_ewma_irregular(spark, str(tmp_path)).collect()
    }
    assert all(math.isfinite(v) for v in out.values()), out
    # exp(-90d/1h) underflows to exactly 0 -> state resets to the sample
    assert out[_ts("2024-04-01T00:00:00")] == 7.0
    alpha = 1.0 - math.exp(-1.0)
    expect = alpha * 9.0 + (1.0 - alpha) * 7.0
    assert abs(out[_ts("2024-04-01T01:00:00")] - expect) < 1e-6


def test_holt_winters_tail_truncation_exact(spark, tmp_path):
    """Round-7 JVM tail-truncation (keep last 1024 rows per segment):
    a 1100-sample day exercises the truncated interior path — the result
    must still match the full sequential recurrence because the dropped
    prefix's influence (0.7^512) underflows to exactly 0.0."""
    from datetime import timedelta

    rows = []
    t0 = _ts("2024-01-01T00:00:00")
    for i in range(1100):  # > _HW_KEEP, all inside one day
        rows.append(
            ("big", t0 + timedelta(seconds=60 * i), i, float((i * 7) % 23))
        )
    t1 = _ts("2024-01-02T00:00:00")
    for i in range(50):  # second segment chains off the truncated one
        rows.append(
            ("big", t1 + timedelta(seconds=60 * i), 2000 + i, float(i % 5))
        )
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, event_id long, value double"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    from numalogic_prometheus_spark.plans.timeseries import (
        ts_holt_winters_level_trend,
    )

    got = ts_holt_winters_level_trend(spark, str(tmp_path)).collect()
    assert len(got) == 1
    n, lvl, trend = _seq_hw(rows)["big"]
    assert got[0]["n_samples"] == n == 1150
    assert abs(got[0]["level"] - lvl) < 1e-6
    assert abs(got[0]["trend"] - trend) < 1e-6


def test_alert_firing_for_duration_hand_computed(spark, tmp_path):
    """Independent pin for promql_alert_firing's for-duration semantics
    (its DuckDB oracle uses the same gaps-and-islands idiom, so parity
    alone cannot catch a shared off-by-one): hourly firing pattern
    1,1,0,1,1,1,1,0,1,1 — only the 4-hour run (hours 3-6) reaches the
    `for: 3h` threshold; it turns firing at its 3rd hour (hour 5)."""
    from datetime import timedelta

    from numalogic_prometheus_spark.plans.promql2 import promql_alert_firing

    # condition: mean value > 0.40 per (event_type, hour)
    pattern = [1, 1, 0, 1, 1, 1, 1, 0, 1, 1]
    rows = []
    t0 = _ts("2024-01-01T00:00:00")
    eid = 0
    for h, firing in enumerate(pattern):
        for k in range(3):  # 3 samples per hour
            eid += 1
            rows.append(
                (
                    "svc",
                    t0 + timedelta(hours=h, minutes=10 * k),
                    eid,
                    0.9 if firing else 0.1,
                )
            )
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, event_id long, value double"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = promql_alert_firing(spark, str(tmp_path)).collect()
    assert len(got) == 1  # the 2-hour runs never fire
    r = got[0]
    assert r["pending_since"] == t0 + timedelta(hours=3)
    assert r["fired_at"] == t0 + timedelta(hours=5)  # 3rd consecutive hour
    assert r["last_eval"] == t0 + timedelta(hours=6)
    assert r["held_for"] == 4


def test_incremental_dedup_verdicts_hand_computed(spark, tmp_path):
    """Independent pin for dedup_incremental_batch (oracle shares the
    band-index idiom): a crafted corpus where doc 5 is a verbatim copy
    of doc 1 (same MinHash band -> duplicate-of-1, jaccard 1.0), doc 10
    shares no tokens with anything (its band bucket is its own -> it IS
    the canonical, no candidate row with canon < doc_id), and doc 15
    near-duplicates doc 3 below the 0.7 Jaccard bar -> 'new' verdict if
    banded together, or no row at all if the signatures differ."""
    from numalogic_prometheus_spark.plans.text import dedup_incremental_batch

    docs = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (3, "pack my box with five dozen liquor jugs right now"),
        (5, "the quick brown fox jumps over the lazy dog tonight"),
        (10, "entirely unrelated content about spark physical plans"),
        (15, "pack my crate with nine dozen cider jugs right here"),
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "test", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        r["doc_id"]: r
        for r in dedup_incremental_batch(spark, str(tmp_path)).collect()
    }
    # batch slice = doc_id % 5 == 0 -> docs 5, 10, 15
    assert out[5]["verdict"] == "duplicate"
    assert out[5]["dup_of"] == 1
    assert out[5]["jaccard"] == 1.0
    # doc 10 is its own band canonical: jaccard NULL (canon == doc_id)
    # -> 'new' with no dup_of
    assert out[10]["verdict"] == "new"
    assert out[10]["dup_of"] is None
    # doc 15: if its band matched doc 3, similarity is far below 0.7 ->
    # 'new'; if not banded with 3 its bucket is its own -> also 'new'
    assert out[15]["verdict"] == "new"
    assert out[15]["dup_of"] is None


def test_extrapolated_rate_zero_delta_and_zero_span_survive_ansi(
    spark, tmp_path
):
    """Flat counters (delta_cents = 0) and windows whose n>=2 samples all
    share one timestamp (si = 0) are legal inputs; under the driver's
    ANSI-mode session a plain division would raise DIVIDE_BY_ZERO on
    either. try_divide must yield NULL (matching the DuckDB oracle's
    x/0) instead of crashing, and ordinary windows must be unaffected."""
    from numalogic_prometheus_spark.plans.promql2 import (
        promql_rate_extrapolated,
    )

    rows = [
        # h0: flat counter — every delta 0 -> delta_cents = 0
        ("e", _ts("2024-01-01T00:10:00"), 1, 1.00),
        ("e", _ts("2024-01-01T00:30:00"), 2, 0.00),
        ("e", _ts("2024-01-01T00:50:00"), 3, 0.00),
        # h1: two samples at the SAME timestamp -> si = 0
        ("e", _ts("2024-01-01T01:30:00"), 4, 1.00),
        ("e", _ts("2024-01-01T01:30:00"), 5, 1.00),
        # h2: a normal window for contrast
        ("e", _ts("2024-01-01T02:10:00"), 6, 1.00),
        ("e", _ts("2024-01-01T02:50:00"), 7, 2.00),
    ]
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, event_id long, value double"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {
        r["hour"].hour: r
        for r in promql_rate_extrapolated(spark, str(tmp_path)).collect()
    }
    assert set(got) == {0, 1, 2}
    # flat counter: rate 0 (delta 0, extrapolation finite)
    assert got[0]["delta_cents"] == 0
    assert got[0]["rate_per_sec_micro"] == 0
    # zero-span window: NULL rate, not a crash
    assert got[1]["rate_per_sec_micro"] is None
    # the ordinary window still rates normally (synthetic counter is the
    # running cumsum of cents, so value 2.00 adds a 200-cent delta)
    assert got[2]["delta_cents"] == 200
    assert got[2]["rate_per_sec_micro"] is not None
    assert got[2]["rate_per_sec_micro"] > 0

    # and the DuckDB oracle agrees on the crafted edges too (NULLIF in
    # the oracle must mirror try_divide for any DuckDB x/0 behavior)
    from numalogic_prometheus_spark import plans
    from tests.oracle_harness import compare, run_oracle

    compare(
        promql_rate_extrapolated(spark, str(tmp_path)),
        run_oracle(
            str(tmp_path), plans.all_oracles()["promql_rate_extrapolated"]
        ),
        "rate_extrapolated_zero_edges",
    )
