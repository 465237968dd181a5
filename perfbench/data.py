"""The benchmark's input tables.

``inputs/<scale>/`` holds byte-for-byte copies of the ``events``,
``documents`` and ``embeddings`` tables of the project's seed-42 fixtures
(TESTDATA.md, FIXTURES.md) at sf0.01 and sf0.001, the three tables the
benchmarked entries read. A run reads them in place, or, for a workload
that streams, from a copy in which ``events.parquet`` is split into part
files (``split_events``).
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
SCALE = "sf0.01"
SMOKE_SCALE = "sf0.001"


def fixture_dir(scale: str) -> str:
    return os.path.join(HERE, "inputs", scale)


def split_events(src_dir: str, out_dir: str, n_files: int) -> None:
    """Copy ``src_dir`` to ``out_dir`` with ``events.parquet`` split, in
    event-time order, into a directory of ``n_files`` part files.

    The engine's file stream source takes one file per micro-batch in
    modification-time order, so the part files get strictly increasing
    mtimes: batch k then holds the k-th slice of event time on every run.
    """
    os.makedirs(os.path.join(out_dir, "events.parquet"), exist_ok=True)
    events = pq.read_table(os.path.join(src_dir, "events.parquet")).sort_by("ts")
    step = -(-events.num_rows // n_files)
    base = 1_700_000_000
    for k in range(n_files):
        part = os.path.join(out_dir, "events.parquet", f"part-{k:05d}.parquet")
        pq.write_table(events.slice(k * step, step), part)
        os.utime(part, (base + k, base + k))
    for name in os.listdir(src_dir):
        if name != "events.parquet":
            dst = os.path.join(out_dir, name)
            if not os.path.exists(dst):
                os.link(os.path.join(src_dir, name), dst)
