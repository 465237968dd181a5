"""Unit pins for the native-histogram series kernel
(operators/native_histogram.series_kernel) — the one applyInPandas pass
that evaluates the telescoped window-delta substrate.

The full-relation equivalence against the r17 join-web form was gated
row-exact by a one-off probe (OPTIMIZATION_r18.md) and the entry semantics
stay pinned by the golden reset fixtures
(tests/test_native_histogram_rate_golden.py) and the DuckDB oracles.
This test pins the kernel's own edge machinery on a hand-computed
series, pure pandas (no Spark):

* a FLAGGED epoch boundary (some bucket's count at the boundary scrape
  below its prev-epoch total → DetectReset, no correction term);
* an UNFLAGGED boundary strictly inside an hour window → the
  prev-epoch total is subtracted (ctot) for every bucket;
* an unflagged boundary AT the window's first scrape → excluded
  (steps start after first_m);
* buckets absent at a boundary scrape count as 0 (the join web's
  coalesce(cnt, 0));
* hours with a single scrape drop (n >= 2), while their counts still
  feed epoch totals;
* the full (kept-hour × bucket) grid is emitted including zero-delta
  rows, and the output is input-row-order independent.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from numalogic_prometheus_spark.operators.native_histogram import (
    series_kernel,
    window_deltas,
)
from numalogic_prometheus_spark.sources.tables import load_table

_MIN = 60_000_000  # one minute in µs


def _m(hhmm: str) -> np.datetime64:
    h, m = hhmm.split(":")
    return np.datetime64("2024-01-01T00:00:00", "us") + np.timedelta64(
        (int(h) * 60 + int(m)) * _MIN, "us"
    )


def _fixture() -> pd.DataFrame:
    # 90-min epochs → boundaries at 00:00, 01:30, 03:00, 04:30.
    rows = [
        # hour 00: single scrape (dropped, n=1) — still feeds epoch-0
        # totals (idx1 → 5, idx2 → 2)
        ("00:50", 1, 5), ("00:50", 2, 2),
        # hour 01: boundary 01:20→01:40 crosses 01:30; at(01:40, idx1)=1
        # < tot(idx1, e0)=10 → FLAGGED (reset): no correction
        ("01:10", 1, 3), ("01:10", 2, 1),
        ("01:20", 1, 2),                      # idx2 absent → counts as 0
        ("01:40", 1, 1), ("01:40", 2, 1),
        ("01:50", 1, 4),
        # hour 02: single scrape (dropped) — feeds epoch-1 totals
        ("02:10", 1, 2),
        # hour 03: boundary 02:10→03:05 crosses 03:00, UNFLAGGED
        # (at(03:05) ≥ epoch-1 totals: idx1 9≥7, idx2 1≥1) but 03:05 is
        # the window's FIRST scrape → excluded from the correction
        ("03:05", 1, 9), ("03:05", 2, 1),
        ("03:25", 1, 1),
        # hour 04: boundary 04:10→04:40 crosses 04:30, UNFLAGGED
        # (at(04:40) ≥ epoch-2 totals: idx1 12≥12, idx2 1≥1) and
        # strictly inside the window → ctot subtracts the epoch-2 totals
        ("04:10", 1, 2),
        ("04:40", 1, 12), ("04:40", 2, 1),
        ("04:50", 1, 3),
        # hour 05: single scrape (dropped)
        ("05:30", 1, 7),
    ]
    return pd.DataFrame(
        {
            "event_type": "svc",
            "m": [_m(t) for t, _, _ in rows],
            "idx": [i for _, i, _ in rows],
            "cnt": [c for _, _, c in rows],
        }
    )


# hand-computed per (hour, idx): kept hours 01 (n=4), 03 (n=2), 04 (n=3)
_EXPECT = {
    # hour 01: hsum − fcnt − 0 (flagged boundary): idx1 10−3, idx2 2−1.
    # Cumulative view: idx1 resets 10 → 1 at 01:40; last−first+prev =
    # 5−8+10 = 7 (histogramRate's .Add(prev) correction).
    ("01:00", 1): (4, 40, 10, 10, 7),
    ("01:00", 2): (4, 40, 10, 10, 1),
    # hour 03: boundary at first_m excluded: idx1 10−9, idx2 1−1
    ("03:00", 1): (2, 20, 5, 35, 1),
    ("03:00", 2): (2, 20, 5, 35, 0),
    # hour 04: unflagged mid-window boundary: idx1 17−2−12, idx2 1−0−1
    ("04:00", 1): (3, 40, 10, 10, 3),
    ("04:00", 2): (3, 40, 10, 10, 0),
}


def _check(out: pd.DataFrame) -> None:
    assert len(out) == len(_EXPECT)  # full grid incl. zero-delta rows
    assert (out["event_type"] == "svc").all()
    got = {
        (str(r.hour)[11:16] + "", int(r.idx)): (
            int(r.n),
            int(r.si_us) // _MIN,
            int(r.ds0) // _MIN,
            int(r.de) // _MIN,
            int(r.delta_n),
        )
        for r in out.itertuples()
    }
    want = {(h[:5], i): v for (h, i), v in _EXPECT.items()}
    assert got == want, f"\ngot:  {got}\nwant: {want}"
    # exact dtypes the substrate schema declares
    assert out["ds0"].dtype == np.float64 and out["de"].dtype == np.float64
    assert out["delta_n"].dtype == np.int64 and out["si_us"].dtype == np.int64


def test_kernel_hand_computed_grid():
    _check(series_kernel(_fixture()))


def test_kernel_input_order_independent():
    pdf = _fixture().sample(frac=1.0, random_state=7).reset_index(drop=True)
    _check(series_kernel(pdf))


def test_kernel_nanosecond_input():
    # Spark→pandas hands datetime64[ns] on some Arrow paths; the kernel
    # converts via to_numpy("datetime64[us]") and must not truncate
    pdf = _fixture()
    pdf["m"] = pdf["m"].astype("datetime64[ns]")
    _check(series_kernel(pdf))


def test_substrate_refuses_non_utc_session(spark, sf_dir, monkeypatch):
    """The kernel reads naive Arrow timestamps as unix µs, which holds
    only under UTC: a session in another timezone must raise at build,
    before any (shifted) window is returned. load_table normally re-pins
    UTC, so the re-pin is switched off to reach the guard."""
    from numalogic_prometheus_spark.sources import tables

    key = "spark.sql.session.timeZone"
    monkeypatch.setattr(tables, "pin_session_invariants", lambda s: None)
    spark.conf.set(key, "America/New_York")
    try:
        with pytest.raises(RuntimeError, match="timeZone=UTC"):
            window_deltas(load_table(spark, sf_dir, "events"))
    finally:
        spark.conf.set(key, "UTC")
    per_bucket, _ = window_deltas(load_table(spark, sf_dir, "events"))
    assert per_bucket.columns[:2] == ["event_type", "hour"]
