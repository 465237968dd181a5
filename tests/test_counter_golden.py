"""Golden pins for the PromQL counter family (operators/counter.py) on
crafted events.

The shipped testdata holds only non-negative values and many samples
per series, so it cannot reach the counter's edge cases: negative
cents, a running sum that changes sign, same-ts samples ordered by
event_id, and a series with a single sample (no delta at all). Each
batch entry is pinned against a hand computation and its DuckDB oracle
(compare_crafted)."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from tests.oracle_harness import compare_crafted

_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)

_T = datetime(2024, 3, 1)


def _m(k: int) -> datetime:
    return _T + timedelta(minutes=k)


# Series "a" in cents: 600, 600, -700, 450 (same ts as -700, later
# event_id), 200, -200, 999. Running sums 600, 1200, 500, 950, 1150,
# 950, 1949, so c = 600, 200, 500, 950, 150, 950, 949 and the increases
# are 200 (reset), 300, 450, 150 (reset), 800, 949 (reset).
# Series "b" is a single sample. Series "c" stays negative: c = -100,
# -600, -400, increases -600 (reset) and 200.
_ROWS = [
    (1, _m(10), 1, "a", 6.00, "{}"),
    (2, _m(20), 1, "a", 6.00, "{}"),
    (3, _m(30), 1, "a", -7.00, "{}"),
    (4, _m(30), 1, "a", 4.50, "{}"),
    (5, _m(55), 1, "a", 2.00, "{}"),
    (6, _m(65), 1, "a", -2.00, "{}"),
    (7, _m(112), 1, "a", 9.99, "{}"),
    (8, _m(40), 2, "b", 3.00, "{}"),
    (9, _m(5), 3, "c", -1.00, "{}"),
    (10, _m(50), 3, "c", -5.00, "{}"),
    (11, _m(70), 3, "c", 2.00, "{}"),
]


@pytest.fixture(scope="module")
def counter_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("counter_golden")
    spark.createDataFrame(_ROWS, _SCHEMA).write.mode("overwrite").parquet(
        str(d / "events.parquet")
    )
    return str(d)


def test_increases_and_resets_by_hand(spark, counter_dir):
    from numalogic_prometheus_spark.plans.promql import promql_increase_total
    from numalogic_prometheus_spark.plans.promql2 import promql_resets_per_series
    from numalogic_prometheus_spark.plans.windows import win_lag_rate_reset

    inc = win_lag_rate_reset(spark, counter_dir).orderBy("event_id").collect()
    by_series = {
        s: [(r["counter_value"], r["increase"]) for r in inc if r["event_type"] == s]
        for s in "abc"
    }
    assert by_series == {
        "a": [(200, 200), (500, 300), (950, 450), (150, 150), (950, 800), (949, 949)],
        "b": [],
        "c": [(-600, -600), (-400, 200)],
    }
    total = {
        r["event_type"]: (r["total_increase"], r["n_deltas"])
        for r in promql_increase_total(spark, counter_dir).collect()
    }
    assert total == {"a": (2849, 6), "c": (-400, 2)}
    # resets() over one sample is 0, not absent
    resets = {
        r["event_type"]: r["resets"]
        for r in promql_resets_per_series(spark, counter_dir).collect()
    }
    assert resets == {"a": 3, "b": 0, "c": 1}


@pytest.mark.parametrize(
    "name",
    [
        "promql_increase_total",
        "promql_rate_per_hour",
        "promql_resets_changes",
        "promql_resets_per_series",
        "promql_rate_extrapolated",
        "promql_burn_rate_multiwindow",
        "win_lag_rate_reset",
    ],
)
def test_batch_counter_entries_match_oracle(spark, counter_dir, name):
    compare_crafted(spark, counter_dir, name)
