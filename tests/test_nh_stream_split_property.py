"""Split-invariance property for the streaming native-histogram kernel
(streaming/nh_rate.py): for ANY event set and ANY micro-batch
boundaries — including boundaries inside scrape minutes and across the
90-min counter-epoch edge — driving `stateful_nh_bucket_cums`'s update
function batch-by-batch, then last-writer-wins-deduping the emissions,
must finalize to the batch entry's exact result. The crafted straddle
golden (tests/test_streaming_nh_rate.py) pins the two known-dangerous
boundaries; this generalizes to arbitrary ones."""

from __future__ import annotations

from datetime import datetime

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

_settings = settings(max_examples=8, deadline=None)


class _StubState:
    """Minimal GroupState: exists/get/update, like the real thing
    between micro-batches of one key."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def _drive(update_fn, batches):
    state = _StubState()
    out = []
    for pdf in batches:
        out.extend(update_fn(("svc",), iter([pdf]), state))
    return pd.concat(out, ignore_index=True) if out else pd.DataFrame()


# events: (minute-offset within a 3h span starting 05:00, value choice)
# — minute offsets cross the 06:00 epoch boundary (90-min epochs anchor
# at 00:00, so 06:00 is an edge); duplicate offsets create multi-event
# scrape minutes that boundaries can straddle
_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=170),
        st.sampled_from([1.5, 3.0, 40.0]),
    ),
    min_size=2,
    max_size=24,
)
_cuts = st.lists(
    st.integers(min_value=1, max_value=23), max_size=3, unique=True
)


@given(events=_events, cuts=_cuts)
@_settings
def test_random_splits_match_batch(spark, events, cuts):
    from pyspark.sql import functions as F

    from numalogic_prometheus_spark.plans import all_queries
    from numalogic_prometheus_spark.operators.native_histogram import (
        BOUNDS,
        LO,
        deltas_from_cum,
        rate_finalize,
    )
    from numalogic_prometheus_spark.streaming.nh_rate import (
        latest_emissions,
        stateful_nh_bucket_cums,
    )

    rows = [
        ("svc", datetime(2024, 1, 1, 5 + off // 60, off % 60), i + 1, v)
        for i, (off, v) in enumerate(sorted(events))
    ]
    # arbitrary batch boundaries over the in-order row list
    bounds = sorted({c for c in cuts if c < len(rows)})
    cuts_full = [0, *bounds, len(rows)]
    batches = []
    import numpy as np

    for a, b in zip(cuts_full, cuts_full[1:]):
        part = rows[a:b]
        if not part:
            continue
        batches.append(
            pd.DataFrame(
                {
                    "m": np.array(
                        [r[1].replace(second=0) for r in part],
                        dtype="datetime64[us]",
                    ),
                    "idx": [
                        LO + sum(bb < r[3] for bb in BOUNDS)
                        for r in part
                    ],
                }
            )
        )

    # reach the inner update function through the operator factory
    captured = {}

    class _Grab:
        def applyInPandasWithState(self, fn, **kw):
            captured["fn"] = fn
            return None

    stateful_nh_bucket_cums(_Grab())
    emitted = _drive(captured["fn"], batches)
    assert len(emitted) > 0

    cum = spark.createDataFrame(
        emitted,
        "event_type string, m timestamp, idx long, c long,"
        " prev_c long, reset integer, seq long",
    )
    got = sorted(
        tuple(r)
        for r in rate_finalize(
            deltas_from_cum(latest_emissions(cum))
        ).collect()
    )

    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows,
            "event_type string, ts timestamp, event_id long, value double",
        ).write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        want = sorted(
            tuple(r)
            for r in all_queries()["promql_native_histogram_rate"](
                spark, tmp
            ).collect()
        )
    assert got == want
