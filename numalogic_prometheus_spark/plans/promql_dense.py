"""Dense-regime evaluators for the per-sample sliding order-statistic
range functions (round 9): `promql_quantile_sliding_dense` and
`promql_mad_sliding_dense` — the same exact semantics (and the same
DuckDB oracles) as `promql_quantile_over_time_sliding` /
`promql_mad_over_time` in plans/promql3.py, evaluated by a vectorized
Arrow-batched kernel instead of per-anchor JVM array expressions.

Why a second implementation exists (SCALE.md round-9 10× scaling): the
per-anchor cost of any exact sliding order statistic is Θ(w) in the
per-series sample density w, and the JVM form pays it as one
allocate+filter+sort of a fresh array per anchor. In the Prometheus
domain w is scrape-bounded and the JVM form is the right default (pure
whole-stage-codegen expressions, zero Python). When a series IS dense —
the 10×-density sf1 replica, high-frequency pushgateway feeds — the
constant matters: this kernel builds ONE padded (anchors × w) matrix
per (series, bucket) group and lets NumPy sort it row-wise in C,
measured 48.7 s → 12.6 s (3.9×) on the 1M-row dense replica with
bit-identical output. Same asymptotics, ~4× the constant, plus a hard
memory bound via anchor blocking.

Shape: each sample rides into its own 1h bucket's group and the next
one's (a 2× O(rows) shuffle — the union replaces promql3's
anchor↔bucket-array join); every (series, bucket) group evaluates its
own anchors against exactly the samples of buckets {b−1, b}, which by
construction cover every (t−1h, t] window. Parallelism is
series × buckets (no per-series ceiling); per-group peak memory is
ANCHOR_BLOCK × w doubles regardless of density. The kernel reproduces
the JVM forms' float64 arithmetic operand-for-operand (R-7 rank
interpolation in DuckDB's order; midpoint medians over integer cents;
deviations as |double(x) − med|), so all three implementations — this
one, the JVM form, and the DuckDB RANGE-frame oracle — agree
bit-for-bit; the shared oracle is the proof, and the suite pins
frame-equality against the JVM siblings at sf0.001.

This is a DECLARED Python seam (the dense-order-statistics kernel),
justified the same way as the ML/recurrence seams: the built-in
operator set cannot express "sort each anchor's ragged window once,
in-place, across a batch" without per-anchor array churn, and the
Arrow batch transfer amortizes to ~µs/row.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from numalogic_prometheus_spark.functions.timeutil import (
    epoch_us,
    epoch_us_sql,
)
from numalogic_prometheus_spark.operators.promql import cents
from numalogic_prometheus_spark.plans import register
from numalogic_prometheus_spark.plans.promql3 import (
    _LOOK_US,
    _MAD_ORACLE,
    _QOT_ORACLE,
)
from numalogic_prometheus_spark.sources.tables import load_table

# anchors evaluated per matrix block: peak per-group memory is
# ANCHOR_BLOCK × (max window samples) float64s (≈ 8 MB at w = 1000),
# independent of how dense a series gets
_ANCHOR_BLOCK = 1024

# r17 optimization (guide §4.1/§4.5): applyInPandas pays a fixed
# per-GROUP cost (one Arrow batch + one pandas frame + one Python call
# per group), and the natural (series, hour-bucket) grain produced
# ~3.6 k groups of ~55 rows at sf0.1 — measured 2.9 s with a TRIVIAL
# kernel vs 0.16 s for the substrate, i.e. ~95% pure grouping overhead,
# the NumPy math itself is noise. Groups are therefore COARSENED
# (_COARSE hour-buckets per Python group) and the kernel evaluates all
# sub-buckets of a coarse group in one vectorized pass: sample times
# get a per-sub-bucket stride offset (_STRIDE_US ≫ any in-bucket span,
# so windows can never cross sub-buckets), which makes one global
# searchsorted/window-matrix call bit-identical to the per-group form.
# Parallelism stays series × buckets / _COARSE — thousands of groups at
# any real scale; per-group memory is still bounded by _ANCHOR_BLOCK.
_COARSE = 32
_STRIDE_US = 1 << 44  # 1.76e13 µs ≫ 2×_LOOK_US + cross-bucket drift


def _bucket_pair_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Samples duplicated into (own bucket, next bucket) groups: the
    union-based replacement for promql3._windowed_cents's
    anchor↔bucket-array join. Columns: event_type, grp, bkt, event_id,
    a_us, c."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        "event_id",
        epoch_us("ts").alias("a_us"),
        cents().alias("c"),
        F.expr(f"{epoch_us_sql('ts')} div {_LOOK_US}").alias("bkt"),
    )
    own = base.withColumn("grp", F.col("bkt"))
    nxt = base.withColumn("grp", F.col("bkt") + 1)
    # cgrp: the coarsened Python-group key (_COARSE buckets per group);
    # rows keep their exact `grp` for the in-kernel sub-bucket split
    return own.unionByName(nxt).withColumn(
        "cgrp", F.floor(F.col("grp") / _COARSE)
    )


def _window_matrix(us: np.ndarray, c: np.ndarray, t: np.ndarray):
    """For anchor timestamps `t` over time-sorted samples (us, c):
    per-anchor window index range [l, r] of the left-open (t−1h, t]
    frame (side='right' keeps same-µs peers, matching the oracle's
    RANGE-frame peer semantics), then the row-sorted padded value
    matrix. Returns (M, n) — M float64 (len(t) × max n), +inf padded;
    n int64 window sizes."""
    r = np.searchsorted(us, t, side="right") - 1
    l = np.searchsorted(us, t - _LOOK_US, side="right")
    n = r - l + 1
    wmax = int(n.max())
    idx = l[:, None] + np.arange(wmax)[None, :]
    pad = idx > r[:, None]
    idx = np.minimum(idx, r[:, None])
    M = c[idx].astype(np.float64)
    M[pad] = np.inf
    M.sort(axis=1)
    return M, n


def _sorted_group(pdf: pd.DataFrame):
    """Deterministic (grp, a_us, event_id) sample order + per-sub-bucket
    stride-adjusted times + anchor mask for one COARSE group (many
    (series, bucket) sub-groups — see _COARSE). The stride offset keeps
    every sub-bucket in its own disjoint time band, so one global
    searchsorted window pass equals the old per-group passes value-for-
    value (in-band differences are untouched and t−_LOOK_US cannot
    reach the previous band). Returns None when the group holds only
    next-bucket copies (no anchors of its own)."""
    grp_arr = pdf["grp"].to_numpy()
    us_raw = pdf["a_us"].to_numpy()
    eid_raw = pdf["event_id"].to_numpy()
    order = np.lexsort((eid_raw, us_raw, grp_arr))
    grp_s = grp_arr[order]
    # dense rank of the sub-bucket within this coarse group → stride
    _, inv = np.unique(grp_s, return_inverse=True)
    us = us_raw[order] + inv * _STRIDE_US
    c = pdf["c"].to_numpy()[order].astype(np.int64)
    anchor = pdf["bkt"].to_numpy()[order] == grp_s
    if not anchor.any():
        return None
    eid = eid_raw[order][anchor]
    return us, c, us[anchor], eid


def _midpoint(M: np.ndarray, n: np.ndarray, k1: np.ndarray,
              k2: np.ndarray) -> np.ndarray:
    """Exact midpoint median form (element_at twice, then /2.0) on
    0-based order-statistic indices k1, k2 — operand-identical to
    promql3's `med_of` expression."""
    a = np.take_along_axis(M, k1[:, None], axis=1)[:, 0]
    b = np.take_along_axis(M, k2[:, None], axis=1)[:, 0]
    return (a + b) / 2.0


@register("promql_quantile_sliding_dense", oracle=_QOT_ORACLE)
def promql_quantile_sliding_dense(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dense-regime twin of `promql_quantile_over_time_sliding` (module
    docstring): exact per-sample p95/p50 of the left-open (t−1h, t]
    window via the blocked NumPy window-matrix kernel. Shares the
    RANGE-frame DuckDB oracle with the JVM sibling — all three
    implementations agree bit-for-bit."""
    schema = "event_type string, event_id long, q95_c double, q50_c double"

    def eval_group(pdf: pd.DataFrame) -> pd.DataFrame:
        sg = _sorted_group(pdf)
        if sg is None:
            return pd.DataFrame(
                {"event_type": pd.Series(dtype=object),
                 "event_id": pd.Series(dtype="int64"),
                 "q95_c": pd.Series(dtype="float64"),
                 "q50_c": pd.Series(dtype="float64")}
            )
        us, c, t, eid = sg
        outs = []
        for s in range(0, len(t), _ANCHOR_BLOCK):
            tb = t[s : s + _ANCHOR_BLOCK]
            M, n = _window_matrix(us, c, tb)

            def q_of(phi: float) -> np.ndarray:
                # R-7 in DuckDB's operand order: rank = φ(n−1);
                # v_lo + (v_hi − v_lo)·(rank − floor(rank))
                rank = phi * (n - 1)
                lo = np.floor(rank)
                loi = lo.astype(np.int64)
                hii = np.minimum(n - 1, loi + 1)
                a_lo = np.take_along_axis(M, loi[:, None], axis=1)[:, 0]
                a_hi = np.take_along_axis(M, hii[:, None], axis=1)[:, 0]
                return a_lo + (a_hi - a_lo) * (rank - lo)

            outs.append((q_of(0.95), q_of(0.50)))
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"].iloc[0],
                "event_id": eid,
                "q95_c": np.concatenate([o[0] for o in outs]),
                "q50_c": np.concatenate([o[1] for o in outs]),
            }
        )

    out = _bucket_pair_groups(spark, sf_dir).groupBy(
        "event_type", "cgrp"
    ).applyInPandas(eval_group, schema)
    return out.select(
        "event_type",
        "event_id",
        F.round(F.col("q95_c") / 100.0, 6).alias("q95_1h"),
        F.round(F.col("q50_c") / 100.0, 6).alias("q50_1h"),
    )


@register("promql_mad_sliding_dense", oracle=_MAD_ORACLE)
def promql_mad_sliding_dense(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dense-regime twin of `promql_mad_over_time` (module docstring):
    per-sample trailing-1h median absolute deviation via the blocked
    window-matrix kernel — one row-sort for the window median, one for
    the deviation median, both midpoint-exact on the quarter-cent grid.
    Shares the native-mad() DuckDB oracle with the JVM sibling."""
    schema = "event_type string, event_id long, mad_c double"

    def eval_group(pdf: pd.DataFrame) -> pd.DataFrame:
        sg = _sorted_group(pdf)
        if sg is None:
            return pd.DataFrame(
                {"event_type": pd.Series(dtype=object),
                 "event_id": pd.Series(dtype="int64"),
                 "mad_c": pd.Series(dtype="float64")}
            )
        us, c, t, eid = sg
        outs = []
        for s in range(0, len(t), _ANCHOR_BLOCK):
            tb = t[s : s + _ANCHOR_BLOCK]
            M, n = _window_matrix(us, c, tb)
            # midpoint median: elements (n+1) div 2 and n div 2 + 1,
            # 1-based — identical to promql3's med_of expression
            k1 = (n + 1) // 2 - 1
            k2 = n // 2
            med = _midpoint(M, n, k1, k2)
            D = np.abs(M - med[:, None])  # |inf − med| = inf: pads stay
            D.sort(axis=1)
            outs.append(_midpoint(D, n, k1, k2))
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"].iloc[0],
                "event_id": eid,
                "mad_c": np.concatenate(outs),
            }
        )

    out = _bucket_pair_groups(spark, sf_dir).groupBy(
        "event_type", "cgrp"
    ).applyInPandas(eval_group, schema)
    return out.select(
        "event_type",
        "event_id",
        # unrounded single IEEE division of the quarter-cent-exact
        # deviation median (the round-8 tie-class rule)
        (F.col("mad_c") / 100.0).alias("mad_1h"),
    )
