"""The ``_SUCCESS`` snapshot protocol shared by every persistent index
and snapshot relation: Spark's parquet committer writes ``_SUCCESS``
last, so a directory without it is a missing or crashed write and is
never read. Versioned snapshots live side by side as ``{prefix}{id}``
children of one parent directory."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def _committed(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def read_committed(spark: SparkSession, path: str) -> DataFrame | None:
    """``path`` read as parquet, or None when it is not committed."""
    return spark.read.parquet(path) if _committed(path) else None


def committed_ids(parent: str, prefix: str) -> list[int]:
    """Ascending ids of the committed ``{prefix}{id}`` children of
    ``parent`` (none when ``parent`` does not exist)."""
    if not os.path.isdir(parent):
        return []
    return sorted(
        int(d[len(prefix):])
        for d in os.listdir(parent)
        if d.startswith(prefix) and _committed(os.path.join(parent, d))
    )


def latest_committed(
    parent: str, prefix: str, before: int | None = None
) -> str | None:
    """Path of the newest committed ``{prefix}{id}`` child, optionally
    with id < ``before``: a replayed batch passes its own id so it reads
    the snapshot its first delivery read, never its own output."""
    ids = [
        i for i in committed_ids(parent, prefix)
        if before is None or i < before
    ]
    return os.path.join(parent, f"{prefix}{ids[-1]}") if ids else None
