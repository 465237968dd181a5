"""PromQL alerting: the Google-SRE MULTIWINDOW BURN-RATE
alert — the production form of error-budget alerting (SRE Workbook ch.5
"Multiwindow, Multi-Burn-Rate Alerts"), composed from the engine's
counter-rate substrate. The reference delegates alert evaluation to the
Prometheus stack (reference CHANGELOG.md:10 #168); this engine owns the
semantics over the canonical samples relation, extending the
single-window `promql_alert_firing` (plans/promql2.py) with the
two-window AND that production SLO alerts actually ship:

    rate(errors[1h])  / budget >= factor   (long window: sustained)
AND rate(errors[10m]) / budget >= factor   (short window: still burning)

The long window keeps the alert from flapping on spikes; the short
window makes it RESOLVE promptly once the burn stops — firing requires
both. Windows are the fixture's scrape-grid analogs of the workbook's
1h/5m pair.

Exactness: increases are exact integers (the wraparound counter of
operators/counter.py); each burn rate is one integer divided by one
literal (3600.0 / 600.0) then by the literal budget — identical IEEE
operand sequences cross-engine, emitted UNROUNDED; the `>=` threshold
compares bit-identical doubles, so firing membership cannot flip (the
round-8 tie-class rule). The evaluation is shared with the streaming
twin (plans/streaming2.stream_burn_rate_alert), whose increases are
row-equal to the batch ones on any micro-batch split.

Scale (100 TB design): the per-sample increase relation is ONE window
pass per series (the counter substrate's single exchange); both burn
windows then come out of ONE conditional hash aggregation per
(series, hour) — the short window is a filtered partial sum inside the
same groupBy, NOT a second scan or a self-join. Evaluating k alert
rules over a fleet stays one aggregation with k conditional columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from numalogic_prometheus_spark.operators.counter import (
    BURN_BUDGET,
    BURN_FACTOR,
    BURN_SQL_SUFFIX,
    COUNTER_SQL,
    burn_rate_evaluate,
    counter_increases,
)
from numalogic_prometheus_spark.plans import register
from numalogic_prometheus_spark.sources.tables import load_table


@register(
    "promql_burn_rate_multiwindow",
    oracle=COUNTER_SQL + BURN_SQL_SUFFIX,
)
def promql_burn_rate_multiwindow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multiwindow burn-rate alert per (series, hour): the 1h-window
    burn rate AND the trailing-10-minute burn rate both at/over
    {factor}x the {budget}/s budget → firing (module docstring for the
    SRE semantics and the exactness/scale arguments)."""
    return burn_rate_evaluate(
        counter_increases(load_table(spark, sf_dir, "events"))
    )


promql_burn_rate_multiwindow.__doc__ = (
    promql_burn_rate_multiwindow.__doc__.format(
        factor=BURN_FACTOR, budget=BURN_BUDGET
    )
)
