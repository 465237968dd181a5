"""Recompute the stored DuckDB oracles under ``oracles/``.

Some oracles take longer than a benchmark run may spend on checks (the
recursive-CTE oracle of ``dedup_cluster_components``). Their DuckDB
results on the benchmark's input (``inputs/``) are stored as CSV and read
by ``checks.py``. They are DuckDB's answers, never Spark's.

    python3 perfbench/oracles.py

``test_perfbench.py`` checks that the stored files are still DuckDB's
answer.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

from checks import stored_oracle_path  # noqa: E402
from data import SCALE, fixture_dir  # noqa: E402

STORED = ("dedup_cluster_components",)


def compute(entry: str):
    """DuckDB's answer for ``entry`` on the benchmark's input."""
    from numalogic_prometheus_spark import plans
    from tests.oracle_harness import run_oracle

    return run_oracle(fixture_dir(SCALE), plans.all_oracles()[entry])


def main() -> int:
    for entry in STORED:
        df = compute(entry)
        path = stored_oracle_path(entry, SCALE)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        df.sort_values(list(df.columns)).to_csv(path, index=False)
        print(f"{entry}: {len(df)} rows -> {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
