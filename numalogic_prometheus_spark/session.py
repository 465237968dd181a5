"""Session factory with the engine's pinned configs.

The engine has exactly one session-level invariant set (SURVEY.md §4.3):

- ``spark.sql.mapKeyDedupPolicy=LAST_WIN`` — the reference's right-biased
  label merge (``static | per_call``, reference numaprom/monitoring/
  metrics.py:65-67) maps to ``map_concat`` whose duplicate-key behavior
  must be last-wins;
- UTC session timezone — oracle (DuckDB) parity for timestamps;
- AQE on — runtime re-planning (skew join, partition coalescing) is the
  scale story for the 100 TB design point;
- Arrow on — the ML seam uses pandas UDFs.

``spark.sql.shuffle.partitions`` defaults to the local core count: at
cluster scale this knob is expected to be overridden (AQE coalescing makes
over-partitioning cheap, so production would set it high and let AQE trim).

``spark.sql.codegen.cache.maxEntries`` is 4096 (Spark's default is 100).
The cache holds the classes Janino compiled from Catalyst's generated code;
an evicted class is compiled again on its next use, and the JIT then
compiles the new bytecode from scratch. The registry's working set at
sf0.001 is 2,500 distinct classes over 263 entries (the ``promql``
benchmark workload alone: 120 over 7 entries), so at 100 every repeated
pass recompiled. Measured on ``local[4]`` (4 cores), a second
whole-registry pass compiled 3,486 classes and used 220 s of CPU (115 s
wall) at 100, against 51 classes and 183 s (93 s wall) at 4096; holding
the classes raised metaspace from 210 to 229 MB. 4096 holds the whole
registry with headroom. tests/test_session_posture.py pins that a repeated
run compiles nothing.

Static confs such as that one reach the JVM only when ``get_session``
creates the session: ``getOrCreate`` hands back any session that already
exists, with the confs it was built with.
``sweep_oracles.build_vanilla_session`` deliberately leaves the bound out:
that session is shaped like the plain one a caller of the entry contract
(``__spark_entry__``) builds, which sets none of these confs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Engine invariants that are runtime-settable. Pinned at session build by
# get_session AND re-pinned by sources.tables.load_table, because the
# driver's verify harness builds its own vanilla session: without LAST_WIN
# the label-merge operators throw DUPLICATED_MAP_KEY, without UTC the
# timestamp hashes diverge from the DuckDB oracle, and without
# nanosAsLong Spark 4 refuses the events table's ns timestamps outright.
RUNTIME_INVARIANTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # tz-naive parquet timestamps (isAdjustedToUTC=false) must surface as
    # TIMESTAMP, not TIMESTAMP_NTZ: the UTC session tz makes the two value-
    # identical, but NTZ breaks unix_micros() and withWatermark outright.
    # sources.tables.load_table carries a cast guard for sessions where
    # this conf is ignored (e.g. already-planned scans).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def pin_session_invariants(spark: SparkSession) -> None:
    for k, v in RUNTIME_INVARIANTS.items():
        spark.conf.set(k, v)


def get_session(
    app_name: str = "numalogic_prometheus_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[N]`` where N comes from
    ``$SPARK_GRAFT_CPUS`` (driver contract) or all cores.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    n_shuffle = cpus if cpus != "*" else str(os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", n_shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # events.ts is parquet TIMESTAMP(NANOS); Spark 4 rejects it unless
        # read as long — sources.tables normalizes it back to a (µs)
        # timestamp, matching DuckDB's ns→µs truncation.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # Holds the registry's generated classes; see the module docstring.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # Invariant for long-lived callers: run gc.collect() right after
        # each entry. An entry's localCheckpoint blocks stay pinned while
        # Python still holds py4j references to its DataFrames; the
        # ContextCleaner unpersists them only once those references are
        # collected, and a collection that comes late releases none.
        # Without it, repeated runs of checkpoint-pinning entries (dedup
        # shingles, cluster components) grow the pinned-block count by 2
        # per run. Bounding the SQL status store's execution retention
        # keeps the store itself from growing alongside.
        .config("spark.sql.ui.retainedExecutions", "50")
        .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
