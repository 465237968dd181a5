"""The engine session keeps the generated classes of repeated queries.

Spark caches the classes Janino compiles from Catalyst's generated code;
at its default bound of 100 a set of entries that generates more classes
than that evicts its own classes and recompiles them on every repeat
(numalogic_prometheus_spark/session.py). These three entries generate about
150 classes between them at sf0.001, so they fail at the default bound.

Each of them generates the same source on every run. Entries whose plans
run independent query stages at once do not: adaptive execution numbers
whole-stage-codegen stages in the order the stages finish, the number is
part of the generated source, and a new order compiles new classes whatever
the bound (``agg_hll_mergeable_daily`` does this).
"""

from __future__ import annotations

import gc

from numalogic_prometheus_spark import plans

# Classes each entry's first run compiles at sf0.001 on local[4]: 70, 49, 35.
_ENTRIES = ("ts_ewma_irregular", "exposition_all_families", "dedup_substring_spans")


def _janino_compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_entries(spark, sf_dir) -> int:
    """Runs every entry once, forced by a noop write, and returns the
    number of classes Janino compiled meanwhile."""
    queries = plans.all_queries()
    before = _janino_compiles(spark)
    for name in _ENTRIES:
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        gc.collect()
    return _janino_compiles(spark) - before


def test_repeated_entries_compile_no_generated_code(spark, sf_dir):
    _run_entries(spark, sf_dir)
    assert _run_entries(spark, sf_dir) == 0
