"""Oracle parity sweep: registered entries against their DuckDB oracles
(tests/oracle_harness.py: row count, sorted columns, canonicalized value
multiset) in one Spark session, at any scale factor.

Usage (from the repository root):

    SPARK_GRAFT_SWEEP_SF_DIR=<testdata>/sf0.1 python sweep_oracles.py
    python sweep_oracles.py --window        # the contract's check window
    python sweep_oracles.py NAME [NAME ...] # named entries only

The full sweep runs every oracle-backed entry and writes
SWEEP_sf{sf}.log next to this file. ``--window`` runs the first 50
registered entries, the window the ``__spark_entry__`` contract is checked
on; named entries run just those. A selected entry without an oracle gets
the rows-only check. Selected runs print to stdout only: the committed logs record full
sweeps, and tests/test_bench_contract.py reads SWEEP_sf0.1.log.

``SPARK_GRAFT_SWEEP_VANILLA=1`` runs on a bare session
(``build_vanilla_session``) instead of the engine's, and its full sweep
covers every registered entry, rows-only ones included (collect, more than
0 rows), because the contract checks those too. Its log is
SWEEP_sf{sf}_vanilla.log.

At sf1: ``python make_bigsf.py``, then
``SPARK_GRAFT_SWEEP_SF_DIR=.testdata_sf1 python sweep_oracles.py [NAME ...]``.

Exits 1 on any mismatch or error, 2 on an unregistered name.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from numalogic_prometheus_spark import plans  # noqa: E402
from numalogic_prometheus_spark.session import get_session  # noqa: E402
from tests.oracle_harness import compare, run_oracle  # noqa: E402

# The contract's check window: the first WINDOW registered entries.
WINDOW = 50


def build_vanilla_session():
    """The driver-shaped session: master + shuffle partitions and nothing
    else: no Arrow, no AQE tweaks, no timezone/map-dedup/nanos confs.
    load_table re-pins the runtime invariants itself; anything an entry
    needs beyond that is a latent driver failure."""
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("sweep-vanilla")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    assert (
        spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "false"
    ), "vanilla sweep session unexpectedly has Arrow enabled"
    return spark


def log_path(sf: str, vanilla: bool, full: bool) -> str | None:
    """The committed log a sweep writes: only a full-registry sweep writes
    one; a window or named-entry run returns None (stdout only)."""
    if not full:
        return None
    return os.path.join(ROOT, f"SWEEP_sf{sf}{'_vanilla' if vanilla else ''}.log")


def check_entry(spark, sf_dir: str, name: str, query, oracle) -> str:
    """Run one entry; return its PASS detail or raise. Oracle-backed
    entries go through the DuckDB compare, the others must return rows."""
    if oracle is not None:
        compare(query(spark, sf_dir), run_oracle(sf_dir, oracle), name)
        return ""
    n = len(query(spark, sf_dir).collect())
    if n == 0:  # explicit raise: assert dies under -O
        raise ValueError(f"{name}: rows-only entry returned 0 rows")
    return f" (rows-only, {n} rows)"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--window", action="store_true",
                    help=f"the first {WINDOW} registered entries only")
    ap.add_argument("names", nargs="*", help="entries to run (default: all)")
    args = ap.parse_args(argv)
    if args.window and args.names:
        ap.error("--window and entry names are exclusive")

    queries, oracles = plans.all_queries(), plans.all_oracles()
    unknown = [n for n in args.names if n not in queries]
    if unknown:
        print(f"unregistered entries: {unknown}", file=sys.stderr)
        return 2
    vanilla = os.environ.get("SPARK_GRAFT_SWEEP_VANILLA") == "1"
    if args.window:
        names = list(queries)[:WINDOW]
    elif args.names:
        names = args.names
    else:
        names = sorted(queries) if vanilla else sorted(oracles)

    sf_dir = os.environ.get(
        "SPARK_GRAFT_SWEEP_SF_DIR", "/root/testdata/sf0.1"
    )
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    os.environ.setdefault("SPARK_DRIVER_MEM", "12g")
    spark = build_vanilla_session() if vanilla else get_session(
        app_name=f"sweep-sf{sf}")
    path = log_path(sf, vanilla, full=not (args.window or args.names))
    with open(path, "w") if path else contextlib.nullcontext() as log:

        def emit(line: str) -> None:
            print(line, flush=True)
            if log:
                log.write(line + "\n")
                log.flush()

        note = "vanilla driver-shaped session" if vanilla else "engine session"
        emit(f"# oracle parity sweep at {sf_dir} ({len(names)} entries, {note})")
        ok = bad = 0
        t_all = time.perf_counter()
        for name in names:
            t0 = time.perf_counter()
            try:
                detail = check_entry(
                    spark, sf_dir, name, queries[name], oracles.get(name))
                emit(f"PASS {name} {time.perf_counter() - t0:.1f}s{detail}")
                ok += 1
            except Exception as exc:  # noqa: BLE001
                traceback.print_exc()
                emit(f"FAIL {name} {time.perf_counter() - t0:.1f}s "
                     f"{type(exc).__name__}: {str(exc)[:300]}")
                bad += 1
            # Free the entry's py4j references now, so the JVM can drop
            # its localCheckpoint blocks (session.py).
            gc.collect()
        emit(f"# {ok}/{ok + bad} green, {bad} mismatches, "
             f"{time.perf_counter() - t_all:.0f}s total")
    return 1 if bad else 0

if __name__ == "__main__":
    sys.exit(main())
