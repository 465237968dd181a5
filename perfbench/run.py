"""Benchmark of the engine's registered queries, end to end and per layer.

Usage (from the repository root):

    python3 perfbench/run.py --workload promql --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

One run is one fresh process with one local Spark session. It imports the
query registry, prepares the inputs (``data.py``), starts the session,
runs two warm-up passes (the first also compares each entry's output with
DuckDB, ``checks.py``), then runs timed passes until ``--seconds`` have
been measured, two at least. A pass runs every entry once, in an order
drawn from the seed. Closed loop, one client. The timed passes are
measured in CPU time of the whole process tree (this process, the Spark
JVM, the Python workers) as well as wall time.

The last line of stdout is one JSON object: ``correct``, ``attempted``
and ``failed`` (entry runs) and ``metrics``, named and with the units
given in ``BENCHMARK.json``. A run in which an entry raised or an output
check failed reports no metrics and exits with code 1: a broken entry
must not read as a faster one. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics of
``layers.py`` and writes them per entry as rows
``(run, workload, entry, layer, metric, value)`` to
``.perfbench_out/trace-<workload>-s<seed>.parquet``.

``--smoke`` runs every entry of every workload once on the smallest
input and checks it: a renamed or broken entry fails within a minute.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402
from functools import partial  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import data  # noqa: E402
from data import SCALE, SMOKE_SCALE  # noqa: E402
from checks import check  # noqa: E402
from workloads import WORKLOADS, unknown_entries  # noqa: E402


# The engine's driver heap may grow to 16 GB (session.py); left to G1's
# adaptive sizing, the eden it touched ranged over 456-1318 MB from run to
# run and the JVM's resident peak over 1.7-3.5 GB. A fixed young
# generation and an initial heap that needs no growth make the resident
# peak follow what the program keeps (old generation, off-heap, Python).
# Nothing is pre-touched.
JVM_HEAP_OPTS = "-Xms2g -Xmn256m"


def metric_units(key: str) -> dict[str, str]:
    """Units of the ``end_to_end`` or ``per_layer`` metrics of
    ``BENCHMARK.json``, by name."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[key]}


def slots() -> int:
    """Task threads: 2, or 1 on a one-core host. In local mode the task
    threads share the cores with the driver, the JIT compiler, GC and the
    Python workers; on a 4-core host 2 task threads set up and ran passes
    as fast as 4, or faster, in interleaved runs (README.md)."""
    return min(2, len(os.sched_getaffinity(0)))


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def geomean(xs) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs)) if xs else 0.0


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> tuple[str, list[str]]:
    """(comm, fields after comm) of a ``/proc/.../stat`` file."""
    with open(path) as f:
        raw = f.read()
    head, tail = raw.rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def tree_cpu_s() -> float:
    """CPU seconds (user + system) spent so far by this process and every
    live process below it (the Spark launcher and JVM, the Python worker
    daemon and its workers), plus the children each of them has waited
    for; read from ``/proc/<pid>/stat`` (fields utime, stime, cutime,
    cstime). Time the host stole from the guest is not in it."""
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                _, f = _stat_fields(f"/proc/{name}/stat")
            except OSError:  # the process exited meanwhile
                continue
            parent[int(name)] = int(f[1])
            ticks[int(name)] = sum(int(x) for x in f[11:15])
    me, total = os.getpid(), 0
    for pid, t in ticks.items():
        p = pid
        while p not in (me, 0, 1):
            p = parent.get(p, 0)
        if p == me:
            total += t
    return total * _TICK_S


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time stolen from this guest between two
    reads of the ``cpu`` line of ``/proc/stat`` (``host_cpu_ticks``)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def host_cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def python_hwm_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def start_session(work: str, n_slots: int):
    """One local session with the engine's own settings plus
    ``JVM_HEAP_OPTS``; temporary files of the JVM and of Python workers go
    under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers are started by the JVM and inherit its environment:
    # they need the repository root to import the package.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # No hsperfdata files in the system temp directory, from either the
    # launcher JVM or the driver JVM.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(n_slots)
    from numalogic_prometheus_spark.session import get_session

    spark = get_session(
        app_name="perfbench",
        master=f"local[{n_slots}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JVM_HEAP_OPTS}",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Collected:
    """An entry's rows, collected once. The output check reads them with
    ``toPandas()``, as it would read a DataFrame, without running the
    query a second time."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


@dataclass
class Pass:
    """One pass over a workload's entries."""

    traced: bool
    wall_s: float = 0.0  # sum of the entries' timed regions
    cpu_s: float = 0.0  # CPU of the process tree over the whole pass
    jit_s: float = 0.0  # time the JVM's JIT compilers spent compiling
    steal: float = 0.0  # share of the host's CPU time stolen meanwhile
    latency: dict = field(default_factory=dict)  # entry -> timed region, s
    cpu: dict = field(default_factory=dict)  # entry -> CPU in its timed region, s
    layers: dict = field(default_factory=dict)  # entry -> layer metrics


class Bench:
    """Runs entries of one workload on one session and keeps the counts."""

    def __init__(self, spark, queries, in_dir: str, tracer=None):
        self.spark = spark
        jvm = spark._jvm
        self.jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
        self._jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        self.queries = queries
        self.in_dir = in_dir
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.check_s = 0.0

    def jit_s(self) -> float:
        """Time the JVM's JIT compiler threads have spent compiling, summed
        over the threads (``CompilationMXBean``)."""
        return self._jit.getTotalCompilationTime() / 1e3

    def run_entry(self, name: str, traced: bool, check=None):
        """Build the entry's DataFrame and force it with a noop write, or,
        when ``check`` is given, by collecting it to pandas.
        Returns (latency_s, cpu_s, layer metrics or None), or None if it
        raised. cpu_s is the CPU the process tree spent in the timed
        region. ``check(rows, name, in_dir)`` runs after the timed region
        on the collected rows and records a mismatch in ``self.errors``."""
        tracer = self.tracer if traced else None
        self.attempted += 1
        try:
            if tracer:
                tracer.phase(name, "build")
            cpu0 = tree_cpu_s()
            t0 = time.perf_counter()
            df = self.queries[name](self.spark, self.in_dir)
            t1 = time.perf_counter()
            catalyst_s = 0.0
            if tracer:
                df._jdf.queryExecution().executedPlan()
                catalyst_s = time.perf_counter() - t1
                tracer.phase(name, "exec")
            t2 = time.perf_counter()
            if check:
                rows = Collected(df.toPandas())
            else:
                df.write.mode("overwrite").format("noop").save()
            t3 = time.perf_counter()
            cpu_s = tree_cpu_s() - cpu0
            layers = None
            if tracer:
                layers = tracer.collect(name, t1 - t0, t3 - t2, catalyst_s)
            elif self.tracer:
                self.tracer.skip()
            if check:
                err = check(rows, name, self.in_dir)
                t4 = time.perf_counter()
                self.check_s += t4 - t3
                log(f"{name}: build {t1 - t0:.2f} s, action {t3 - t2:.2f} s, "
                    f"check {t4 - t3:.2f} s")
                if err:
                    self.errors.append(f"{name}: {err}")
                if self.tracer:
                    self.tracer.skip()
        except Exception:
            self.failed += 1
            self.errors.append(f"{name} raised:\n{traceback.format_exc()}")
            if self.tracer:
                self.tracer.clear()
            return None
        finally:
            df = None  # noqa: F841 - release pins before gc
        return (t1 - t0) + (t3 - t2), cpu_s, layers

    def run_pass(self, order, traced: bool = False, check=None) -> Pass:
        """One pass over ``order``. ``wall_s`` sums the entries' timed
        regions; checks, garbage collection and trace reads between
        entries stay outside them. ``cpu_s`` is the process tree's CPU
        from the start of the first entry to the end of the last, the
        collections between entries included (work the JIT compiler and
        the JVM's cleaner threads do there is the program's)."""
        p = Pass(traced)
        host0, jit0, cpu0 = host_cpu_ticks(), self.jit_s(), tree_cpu_s()
        for name in order:
            r = self.run_entry(name, traced, check)
            if r is not None:
                p.latency[name], p.cpu[name] = r[0], r[1]
                if r[2] is not None:
                    p.layers[name] = r[2]
            # localCheckpoint pins are freed only once their py4j
            # wrappers are collected (numalogic_prometheus_spark.session)
            gc.collect()
            if name in p.layers:
                self.tracer.cached(p.layers[name])
        p.cpu_s = tree_cpu_s() - cpu0
        p.jit_s = self.jit_s() - jit0
        p.steal = steal_share(host0, host_cpu_ticks())
        p.wall_s = sum(p.latency.values())
        return p


def write_rows(rows: list[tuple], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    cols = ("run", "workload", "entry", "layer", "metric", "value")
    table = pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)})
    pq.write_table(table, path)


def make_inputs(work: str, scale: str, stream_files: int) -> str:
    fixture = data.fixture_dir(scale)
    if not stream_files:
        return fixture
    split = os.path.join(work, "input", f"{scale}-split{stream_files}")
    data.split_events(fixture, split, stream_files)
    return split


def run_workload(args, work: str) -> dict:
    wl = WORKLOADS[args.workload]
    t = time.perf_counter()
    queries, oracles = registry()
    import_s = time.perf_counter() - t
    in_dir = make_inputs(work, SCALE, wl.stream_files)
    n_slots = slots()
    t = time.perf_counter()
    spark = start_session(work, n_slots)
    session_s = time.perf_counter() - t
    try:
        tracer = None
        if args.trace:
            from numalogic_prometheus_spark.operators import dedup
            from layers import Tracer

            tracer = Tracer(spark)
            tracer.wrap_connected_components(dedup)
        bench = Bench(spark, queries, in_dir, tracer)
        rng = random.Random(args.seed)

        def order():
            o = list(wl.entries)
            rng.shuffle(o)
            return o

        # Warm-up: two passes. The first collects every entry's rows and
        # checks them, outside its timed regions (the check time is left
        # out of setup_s). The pass after it costs 20-40 % more CPU than
        # the next ones, and more when the host is busy: the JIT compiler
        # is still working off what the first pass ran. So the second pass
        # is warm-up too.
        checker = partial(check, scale=SCALE, oracles=oracles)
        warm = bench.run_pass(order(), bool(args.trace), checker)
        settle = bench.run_pass(order())
        if tracer:
            tracer.batch_ms.clear()
        setup_s = time.perf_counter() - T0 - bench.check_s
        log(f"setup {setup_s:.2f} s (session {session_s:.2f} s, warm-up passes "
            f"{warm.wall_s:.2f} s and {settle.wall_s:.2f} s with {settle.cpu_s:.2f} s "
            f"CPU), checks {bench.check_s:.2f} s")

        passes: list[Pass] = []
        t_loop = time.perf_counter()
        while True:
            # The traced run alternates untraced and traced passes in
            # U T T U blocks, so that warming across passes cancels out of
            # trace.overhead_s.
            traced = bool(args.trace) and len(passes) % 4 in (1, 2)
            passes.append(bench.run_pass(order(), traced))
            p = passes[-1]
            log(f"pass {len(passes)}: {p.wall_s:.3f} s, cpu {p.cpu_s:.2f} s "
                f"(jit {p.jit_s:.2f} s), host steal {p.steal:.1%}")
            # At least two passes: over ten runs, the CPU of the first timed
            # pass spread by 12-14 %, the median of two by 9-11 %.
            if time.perf_counter() - t_loop >= args.seconds and len(passes) >= 2 and (
                    not args.trace or len(passes) % 4 == 0):
                break

        log(f"{len(passes)} timed passes in {time.perf_counter() - t_loop:.2f} s")
        log("entry medians (wall s / cpu s): " + " ".join(
            f"{e}={median([p.latency[e] for p in passes if e in p.latency]):.3f}/"
            f"{median([p.cpu[e] for p in passes if e in p.cpu]):.2f}" for e in wl.entries))
        jvm_mb, py_mb = vm_hwm_mb(bench.jvm_pid), python_hwm_mb()
        jvm_mem = tracer.memory() if tracer else {}
    finally:
        t = time.perf_counter()
        stop_session(spark)
        log(f"session stopped in {time.perf_counter() - t:.2f} s")
    for e in bench.errors:
        log(f"FAILED {e}")

    plain = [p for p in passes if not p.traced]
    if args.trace:
        return result(bench, "per_layer", lambda: layer_metrics(
            args, warm, passes, tracer, n_slots,
            {"session.start_s": session_s, "plans.import_s": import_s,
             "warmup.pass_s": warm.wall_s, "mem.jvm_hwm_mb": jvm_mb,
             "mem.python_hwm_mb": py_mb, **jvm_mem}))
    return result(bench, "end_to_end", lambda: {
        "setup_s": setup_s,
        "pass_cpu_s": median([p.cpu_s for p in plain]),
        "peak_rss_mb": jvm_mb + py_mb,
    })


def result(bench, key: str, metrics) -> dict:
    """The run's result line. ``metrics()`` is called only if no entry
    raised and every check passed: a run with a broken entry reports no
    metrics, so that it cannot read as a faster one."""
    units = metric_units(key)
    values = {} if bench.errors else metrics()
    if values and set(values) != set(units):
        raise SystemExit(f"metrics {sorted(set(values) ^ set(units))} are not "
                         "both measured and listed in BENCHMARK.json")
    return {
        "correct": not bench.errors,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
    }


def layer_metrics(args, warm: Pass, passes: list[Pass], tracer, n_slots, fixed: dict):
    """Per-layer metrics: each summed over a traced timed pass, then the
    median over those passes; per-entry rows, the warm-up pass's too, go
    to a parquet file. Python workers are reused across tasks, so their
    start time is paid in the warm-up pass: python.boot_s reports that
    pass."""
    from layers import LAYER_METRICS, LEVEL_METRICS

    traced = [p for p in passes if p.traced]
    plain = [p for p in passes if not p.traced]
    metrics = dict(fixed)
    for name in LAYER_METRICS:
        agg = max if name in LEVEL_METRICS else sum
        metrics[name] = median([agg(m[name] for m in p.layers.values()) for p in traced])
    metrics["exec.slot_busy"] = median([
        sum(m["exec.task_run_s"] for m in p.layers.values()) / (p.wall_s * n_slots)
        for p in traced if p.wall_s > 0])
    trigger_s = sum(m["stream.trigger_ms"] for p in traced for m in p.layers.values()) / 1e3
    rows_in = sum(m["stream.input_rows"] for p in traced for m in p.layers.values())
    metrics["stream.rows_per_s"] = rows_in / trigger_s if trigger_s else 0.0
    metrics["stream.batch_p50_ms"] = median(tracer.batch_ms)
    metrics["trace.overhead_s"] = (median([p.wall_s for p in traced])
                                   - median([p.wall_s for p in plain]))
    metrics["python.boot_s"] = sum(m["python.boot_s"] for m in warm.layers.values())
    # Wall time, per-entry CPU and JIT compilation, from the untraced
    # passes.
    entries = WORKLOADS[args.workload].entries
    metrics["wall.pass_s"] = median([p.wall_s for p in plain])
    metrics["wall.query_gmean_s"] = geomean(
        [median([p.latency[e] for p in plain]) for e in entries])
    metrics["cpu.query_gmean_s"] = geomean(
        [median([p.cpu[e] for p in plain]) for e in entries])
    metrics["jit.compile_s"] = median([p.jit_s for p in plain])

    rows = []
    runs = [("w", warm.layers)] + [(f"p{k}", p.layers) for k, p in enumerate(traced)]
    for k, layers in runs:
        for entry, m in layers.items():
            for name, v in m.items():
                rows.append((f"s{args.seed}{k}", args.workload, entry,
                             name.split(".")[0], name, float(v)))
    out = os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-s{args.seed}.parquet")
    write_rows(rows, out)
    log(f"{len(rows)} trace rows -> {out}")
    return metrics


def registry():
    """The engine's query registry and oracle SQL; exits with code 2 when
    an entry a workload names is not registered."""
    from numalogic_prometheus_spark import plans

    queries, oracles = plans.all_queries(), plans.all_oracles()
    missing = unknown_entries(queries)
    if missing:
        log(f"entries not in the registry: {missing}")
        raise SystemExit(2)
    return queries, oracles


def run_smoke(work: str) -> dict:
    """Every entry of every workload once on the smallest input, each
    output checked right away."""
    queries, oracles = registry()
    spark = start_session(work, slots())
    benches = []
    try:
        for wl in WORKLOADS.values():
            bench = Bench(spark, queries, make_inputs(work, SMOKE_SCALE, wl.stream_files))
            bench.run_pass(wl.entries, check=partial(check, scale=SMOKE_SCALE, oracles=oracles))
            benches.append(bench)
    finally:
        stop_session(spark)
    errors = [e for b in benches for e in b.errors]
    for e in errors:
        log(f"FAILED {e}")
    return {"correct": not errors and len(benches) == len(WORKLOADS),
            "attempted": sum(b.attempted for b in benches),
            "failed": sum(b.failed for b in benches), "metrics": {}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    if not args.smoke and not args.workload:
        ap.error("--workload is required unless --smoke")

    for rel in ("numalogic_prometheus_spark/plans/__init__.py", "tests/oracle_harness.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            log(f"{rel} is missing under {ROOT}")
            return 2

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cwd = os.getcwd()
    os.chdir(work)
    try:
        result = run_smoke(work) if args.smoke else run_workload(args, work)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
