"""Output checks: every benchmarked entry against a DuckDB result.

The comparison is the project's own differential check
(``tests/oracle_harness.compare``): same columns, same row count, and the
same order-insensitive multiset of values canonicalised at 1e-6.

Most oracles run live in DuckDB over the run's own input directory. An
oracle too slow for every run (the recursive-CTE oracle of
``dedup_cluster_components``) is stored under ``oracles/`` as DuckDB
computed it on the benchmark's input (``inputs/``); ``python3
perfbench/oracles.py`` recomputes the stored files.
"""

from __future__ import annotations

import os

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
STORED_DIR = os.path.join(HERE, "oracles")


def stored_oracle_path(entry: str, scale: str) -> str:
    return os.path.join(STORED_DIR, f"{entry}.{scale}.csv")


def load_stored(entry: str, scale: str) -> pd.DataFrame | None:
    path = stored_oracle_path(entry, scale)
    if not os.path.exists(path):
        return None
    return pd.read_csv(path)


def oracle_frame(entry: str, in_dir: str, scale: str, oracles: dict) -> pd.DataFrame:
    """The DuckDB answer for ``entry`` on ``in_dir``: stored if a stored
    copy exists for this scale, else computed now."""
    from tests.oracle_harness import run_oracle

    stored = load_stored(entry, scale)
    if stored is not None:
        return stored
    if entry not in oracles:
        raise KeyError(f"{entry}: no oracle SQL and no stored oracle")
    return run_oracle(in_dir, oracles[entry])


def check(df, entry: str, in_dir: str, *, scale: str, oracles: dict) -> str | None:
    """Compare one entry's result with its oracle; return the mismatch
    message, or None when they agree."""
    from tests.oracle_harness import compare

    try:
        compare(df, oracle_frame(entry, in_dir, scale, oracles), entry)
    except AssertionError as exc:
        return str(exc)[:500]
    return None
