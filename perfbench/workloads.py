"""The benchmark's workloads: which registered entries each one runs.

An entry is a name in ``numalogic_prometheus_spark.plans.all_queries()``.
Every entry here has an output check (``checks.py``): a DuckDB oracle from
``plans.all_oracles()`` or, where computing that oracle takes longer than
a run may, a stored DuckDB result (``oracles/``).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    entries: tuple[str, ...]
    # >0: events.parquet is a directory of this many part files split in
    # event-time order; a streaming entry takes one per micro-batch.
    stream_files: int = 0


WORKLOADS = {
    # Prometheus and anomaly-scoring entries over `events`, JVM only:
    # small queries whose cost is plan build, Catalyst and job
    # scheduling, and counter_hourly's aggregation run as a stream (one
    # micro-batch per part file: state store, WAL commits, per-batch
    # planning). No Python worker and no BSP loop runs here.
    "promql": Workload(
        "promql",
        (
            "counter_hourly",
            "gauge_latest_per_user",
            "histogram_cumulative",
            "promql_rate_extrapolated",
            "promql_histogram_quantile_p90",
            "pipeline_anomaly_scores",
            "stream_tumbling_counts",
        ),
        stream_files=2,
    ),
    # Entries whose work sits in the BSP connected-components loop with
    # its lineage pins, and in the Python seams (one of each seam kind:
    # applyInPandas, mapInArrow, mapInPandas).
    "curation": Workload(
        "curation",
        (
            "dedup_cluster_components",
            "promql_native_histogram_rate",
            "quality_repetition_stats",
            "multimodal_audio_wav_features",
        ),
    ),
}


def unknown_entries(registered) -> list[str]:
    """Entries named by some workload that the registry does not hold."""
    names = set(registered)
    return sorted(
        e for w in WORKLOADS.values() for e in w.entries if e not in names
    )
