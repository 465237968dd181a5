"""Per-layer tracing, measured from outside the engine.

Nothing in the engine is changed. The tracer

- tags the jobs of each entry with a Spark job group (``<entry>|build``
  while the registered function runs, ``<entry>|cc`` inside
  ``operators.dedup.connected_components``, ``<entry>|exec`` during the
  action), then reads jobs, stages and SQL executions back from the
  JVM's status stores (``AppStatusStore`` and ``SQLAppStatusStore``),
  serialised to JSON in one py4j call per store;
- listens to streaming progress with a ``StreamingQueryListener``;
- reads the RDDs that still hold cached blocks after each entry, and the
  JVM's memory pools after the timed passes.

Each read happens right after the entry, outside its timed region and
before ``spark.sql.ui.retainedExecutions`` can evict its executions.
"""

from __future__ import annotations

import json
import re
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
# Python seam nodes (MapInArrow, MapInPandas, FlatMapGroupsInPandas,
# ArrowEvalPython, ...). Spark 4.1 also gives the JVM's StateStoreSave
# node the Python worker metrics, so the metric names alone do not tell.
_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")
_NUM = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")

# SQL metric name -> per-layer metric, summed over the entry's executions.
_SQL_SUMS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
    "scan time": "sources.scan_s",
    "size of files read": "sources.bytes_read",
}

LAYER_METRICS = (
    "plans.build_s", "plans.build_jobs", "catalyst.plan_s",
    "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
    "exec.task_cpu_s", "exec.gc_s", "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes", "exec.spill_bytes",
    "sources.rows_read", "sources.bytes_read", "sources.scan_s",
    "dedup.cc_jobs", "dedup.cc_s",
    "python.boot_s", "python.init_s", "python.run_s", "python.bytes_sent",
    "python.bytes_received", "python.rows_received", "python.seam_nodes",
    "stream.batches", "stream.input_rows", "stream.trigger_ms",
    "stream.add_batch_ms", "stream.query_planning_ms", "stream.get_batch_ms",
    "stream.latest_offset_ms", "stream.wal_commit_ms", "stream.commit_offsets_ms",
    "stream.state_rows", "stream.state_bytes", "stream.harness_s",
    "trace.sql_executions", "mem.cached_rdds", "mem.cached_mb",
)
# Levels, not amounts: a pass reports the largest entry value, not the sum.
LEVEL_METRICS = ("mem.cached_rdds", "mem.cached_mb")

_STREAM_DURATIONS = {
    "addBatch": "stream.add_batch_ms",
    "queryPlanning": "stream.query_planning_ms",
    "getBatch": "stream.get_batch_ms",
    "latestOffset": "stream.latest_offset_ms",
    "walCommit": "stream.wal_commit_ms",
    "commitOffsets": "stream.commit_offsets_ms",
}


def parse_metric_value(text: str, metric_type: str) -> float:
    """Total of one SQL metric as the status store formats it: a plain
    count (``1,234``), or for size/timing metrics either ``12.3 KiB`` or
    ``total (min, med, max ...)\\n12.3 KiB (...)``. Sizes -> bytes,
    timings -> seconds."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.match(line.strip())
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    if metric_type in ("size", "timing", "nsTiming"):
        value *= _UNITS.get(m.group(2), 1.0)
    return value


class _ProgressListener(StreamingQueryListener):
    """Collects every streaming progress event; ``wait_idle`` blocks until
    each started query has reported its termination."""

    def __init__(self):
        self._lock = threading.Lock()
        self.progress: list[dict] = []
        self._started: set[str] = set()
        self._ended: set[str] = set()

    def onQueryStarted(self, event):
        with self._lock:
            self._started.add(str(event.id))

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._lock:
            self._ended.add(str(event.id))

    def wait_idle(self, timeout: float = 10.0) -> None:
        end = time.monotonic() + timeout
        while time.monotonic() < end:
            with self._lock:
                if self._started <= self._ended:
                    return
            time.sleep(0.01)

    def drain(self) -> list[dict]:
        with self._lock:
            out, self.progress = self.progress, []
        return out


class Tracer:
    """Per-entry layer metrics for one Spark session."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self._om = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._om.registerModule(scala_module.__getattr__("MODULE$"))
        self._store = self.sc._jsc.sc().statusStore()
        self._tracker = self.sc._jsc.sc().statusTracker()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._last_job = -1
        self._last_exec = -1
        self._new_executions()
        # trigger time of every micro-batch seen, in ms
        self.batch_ms: list[float] = []
        self.listener = _ProgressListener()
        spark.streams.addListener(self.listener)
        self._entry = None
        self._cc_s = 0.0

    # -- job-group tagging -------------------------------------------------
    # ``_entry`` is the entry being traced, None between traced entries:
    # untraced entries run with no job group and bypass the cc wrapper.
    def phase(self, entry: str, phase: str) -> None:
        self._entry = entry
        self.sc.setJobGroup(f"{entry}|{phase}", phase)

    def clear(self) -> None:
        self._entry = None
        self._cc_s = 0.0
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def wrap_connected_components(self, dedup_module) -> None:
        """Route operators.dedup.connected_components through a wrapper
        that, while an entry is traced, tags its jobs ``<entry>|cc`` and
        times the call, then restores the job group it found."""
        inner = dedup_module.connected_components
        tracer = self

        def traced(*args, **kwargs):
            entry = tracer._entry
            if entry is None:
                return inner(*args, **kwargs)
            sc = tracer.sc
            group = sc.getLocalProperty("spark.jobGroup.id")
            desc = sc.getLocalProperty("spark.job.description")
            tracer.phase(entry, "cc")
            t0 = time.perf_counter()
            try:
                return inner(*args, **kwargs)
            finally:
                tracer._cc_s += time.perf_counter() - t0
                sc.setLocalProperty("spark.jobGroup.id", group)
                sc.setLocalProperty("spark.job.description", desc)

        dedup_module.connected_components = traced

    # -- reads -------------------------------------------------------------
    # Each read serialises only the jobs, stages and executions the entry
    # added: listing the whole store after every entry churned the driver
    # heap enough to slow the next entry.
    def _json(self, obj):
        return json.loads(self._om.writeValueAsString(obj))

    def _new_executions(self) -> list:
        """Executions with ids above the last one read, oldest first; ids
        evicted from the store before this read are skipped."""
        n = self._sql.executionsCount()
        if n == 0:
            return []
        newest = self._json(self._sql.executionsList(n - 1, 1))[0]["executionId"]
        out = []
        for eid in range(self._last_exec + 1, newest + 1):
            e = self._json(self._sql.execution(eid))
            if e is not None:
                out.append(e)
        self._last_exec = max(self._last_exec, newest)
        return out

    def cached(self, m: dict) -> None:
        """RDDs that still hold cached blocks (localCheckpoint pins among
        them) and their in-memory size, read after the entry and a Python
        garbage collection."""
        infos = [i for i in self.sc._jsc.sc().getRDDStorageInfo()
                 if i.numCachedPartitions() > 0]
        m["mem.cached_rdds"] = len(infos)
        m["mem.cached_mb"] = sum(i.memSize() for i in infos) / 2**20

    def memory(self) -> dict[str, float]:
        """The JVM's peak used heap and non-heap (memory pools), read after
        the timed passes, and the heap still in use after a full
        collection."""
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        peak = {"HEAP": 0.0, "NON_HEAP": 0.0}
        for pool in mf.getMemoryPoolMXBeans():
            peak[str(pool.getType().name())] += pool.getPeakUsage().getUsed() / 2**20
        self.sc._jvm.java.lang.System.gc()
        live = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20
        return {"mem.jvm_heap_peak_mb": peak["HEAP"],
                "mem.jvm_nonheap_peak_mb": peak["NON_HEAP"],
                "mem.jvm_live_heap_mb": live}

    def skip(self) -> None:
        """Drop what an untraced entry or a check left in the listener and
        the SQL store (their jobs carry no group and are never read)."""
        self.listener.wait_idle()
        self.listener.drain()
        self._new_executions()

    def collect(self, entry: str, build_s: float, exec_s: float,
                catalyst_s: float) -> dict[str, float]:
        """Read back everything the entry ran; return its layer metrics."""
        self.listener.wait_idle()
        m = dict.fromkeys(LAYER_METRICS, 0.0)
        m["plans.build_s"] = build_s
        m["catalyst.plan_s"] = catalyst_s
        m["exec.s"] = exec_s
        m["dedup.cc_s"] = self._cc_s

        stage_ids = set()
        last_job = self._last_job
        for group in ("build", "cc", "exec"):
            ids = self._json(self._tracker.getJobIdsForGroup(f"{entry}|{group}"))
            for job_id in ids:
                if job_id <= self._last_job:
                    continue
                last_job = max(last_job, job_id)
                m["exec.jobs"] += 1
                if group != "exec":
                    m["plans.build_jobs"] += 1
                if group == "cc":
                    m["dedup.cc_jobs"] += 1
                stage_ids.update(self._json(self._store.job(job_id))["stageIds"])
        self._last_job = last_job
        for stage_id in stage_ids:
            for s in self._json(self._store.stageData(
                    stage_id, False, None, False, self._no_quantiles)):
                if s["status"] != "COMPLETE":
                    continue
                m["exec.stages"] += 1
                m["exec.tasks"] += s["numCompleteTasks"]
                m["exec.task_run_s"] += s["executorRunTime"] / 1e3
                m["exec.task_cpu_s"] += s["executorCpuTime"] / 1e9
                m["exec.gc_s"] += s["jvmGcTime"] / 1e3
                m["exec.shuffle_write_bytes"] += s["shuffleWriteBytes"]
                m["exec.shuffle_read_bytes"] += s["shuffleReadBytes"]
                m["exec.spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]

        for e in self._new_executions():
            m["trace.sql_executions"] += 1
            self._sql_metrics(e, m)

        progress = self.listener.drain()
        for p in progress:
            m["stream.batches"] += 1
            m["stream.input_rows"] += p.get("numInputRows", 0)
            d = p.get("durationMs", {})
            m["stream.trigger_ms"] += d.get("triggerExecution", 0)
            self.batch_ms.append(d.get("triggerExecution", 0))
            for key, name in _STREAM_DURATIONS.items():
                m[name] += d.get(key, 0)
        if progress:
            last = progress[-1].get("stateOperators", [])
            m["stream.state_rows"] = sum(o.get("numRowsTotal", 0) for o in last)
            m["stream.state_bytes"] = sum(o.get("memoryUsedBytes", 0) for o in last)
            m["stream.harness_s"] = build_s + exec_s - m["stream.trigger_ms"] / 1e3
        self.clear()
        return m

    def _sql_metrics(self, execution: dict, m: dict) -> None:
        """Sum the SQL metrics of one execution's plan nodes: file scans
        (nodes with a "number of files read" metric) and Python seams."""
        values = execution.get("metricValues") or {}
        nodes = self._json(self._sql.planGraph(execution["executionId"]).allNodes())
        for node in nodes:
            metrics = {x["name"]: x for x in node.get("metrics", [])}
            if _PYTHON_NODE.search(node["name"]):
                m["python.seam_nodes"] += 1
                rows_name = "python.rows_received"
            elif "number of files read" in metrics:
                rows_name = "sources.rows_read"
            else:
                continue
            for name, x in metrics.items():
                text = values.get(str(x["accumulatorId"]))
                if text is None:
                    continue
                if name in _SQL_SUMS:
                    m[_SQL_SUMS[name]] += parse_metric_value(text, x["metricType"])
                elif name == "number of output rows":
                    m[rows_name] += parse_metric_value(text, "sum")
