"""The benchmark's own tests: ``python3 -m pytest perfbench -q``.

They check that the output checks catch a wrong result, that the stored
oracle is still DuckDB's answer, that the stream split keeps event-time
order, and (``test_smoke``) that every benchmarked entry runs and passes
its check on the smallest input.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import data  # noqa: E402
import run  # noqa: E402
from checks import check, stored_oracle_path  # noqa: E402
from layers import parse_metric_value  # noqa: E402
from workloads import WORKLOADS, unknown_entries  # noqa: E402


class _Frame:
    """Stands in for a Spark DataFrame: the check only calls toPandas()."""

    def __init__(self, pdf: pd.DataFrame):
        self._pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self._pdf.copy()


@pytest.fixture(scope="module")
def small_input() -> str:
    return data.fixture_dir(data.SMOKE_SCALE)


@pytest.fixture(scope="module")
def oracles() -> dict:
    from numalogic_prometheus_spark import plans

    return plans.all_oracles()


def _oracle(entry, small_input, oracles) -> pd.DataFrame:
    from tests.oracle_harness import run_oracle

    return run_oracle(small_input, oracles[entry])


def _check(pdf, entry, small_input, oracles):
    return check(_Frame(pdf), entry, small_input, scale=data.SMOKE_SCALE, oracles=oracles)


def test_correct_result_passes(small_input, oracles):
    good = _oracle("counter_hourly", small_input, oracles)
    assert _check(good, "counter_hourly", small_input, oracles) is None


@pytest.mark.parametrize("perturb", ["value", "row", "column"])
def test_perturbed_result_fails(small_input, oracles, perturb):
    bad = _oracle("counter_hourly", small_input, oracles)
    if perturb == "value":
        col = bad.select_dtypes("number").columns[-1]
        bad.loc[0, col] = bad.loc[0, col] + 1
    elif perturb == "row":
        bad = bad.iloc[1:]
    else:
        bad = bad.rename(columns={bad.columns[0]: "renamed"})
    assert _check(bad, "counter_hourly", small_input, oracles) is not None


def test_stored_oracle_is_duckdbs_answer():
    import oracles as stored

    for entry in stored.STORED:
        want = stored.compute(entry)
        got = pd.read_csv(stored_oracle_path(entry, data.SCALE))
        cols = sorted(want.columns)
        assert sorted(got.columns) == cols
        key = lambda df: df[cols].sort_values(cols).reset_index(drop=True)  # noqa: E731
        assert key(got).equals(key(want).astype(got.dtypes)), entry


def test_every_entry_has_a_check(oracles):
    for wl in WORKLOADS.values():
        for entry in wl.entries:
            assert entry in oracles or os.path.exists(
                stored_oracle_path(entry, data.SCALE)), entry


def test_split_keeps_rows_in_event_time_order(small_input, tmp_path):
    out = tmp_path / "split"
    data.split_events(small_input, str(out), 3)
    parts = sorted((out / "events.parquet").iterdir())
    assert len(parts) == 3
    mtimes = [p.stat().st_mtime for p in parts]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3
    tables = [pq.read_table(p) for p in parts]
    whole = pq.read_table(os.path.join(small_input, "events.parquet"))
    assert sum(t.num_rows for t in tables) == whole.num_rows
    for early, late in zip(tables, tables[1:]):
        assert early["ts"].to_pylist()[-1] <= late["ts"].to_pylist()[0]
    assert (out / "documents.parquet").exists()


@pytest.mark.parametrize(
    "text, kind, want",
    [
        ("1,234", "sum", 1234.0),
        ("12.0 KiB", "size", 12288.0),
        ("total (min, med, max (stageId: taskId))\n1.5 s (0 ms, 1 ms, 2 ms (stage 1.0: task 2))",
         "timing", 1.5),
        ("total (min, med, max)\n250 ms (1 ms, 2 ms, 3 ms)", "timing", 0.25),
    ],
)
def test_parse_metric_value(text, kind, want):
    assert parse_metric_value(text, kind) == pytest.approx(want)


def test_unregistered_entry_fails_before_any_session(monkeypatch):
    assert unknown_entries(["counter_hourly"]) != []
    renamed = run.WORKLOADS["promql"].__class__(
        "promql", ("counter_hourly_renamed",) + run.WORKLOADS["promql"].entries[1:])
    monkeypatch.setitem(run.WORKLOADS, "promql", renamed)
    with pytest.raises(SystemExit) as exc:
        run.registry()
    assert exc.value.code == 2


class _Counts:
    def __init__(self, errors):
        self.errors, self.attempted, self.failed = errors, 4, len(errors)


def test_run_with_a_broken_entry_reports_no_metrics():
    def metrics():
        raise AssertionError("metrics of a broken run were computed")

    r = run.result(_Counts(["promql_rate_extrapolated raised"]), "end_to_end", metrics)
    assert r == {"correct": False, "attempted": 4, "failed": 1, "metrics": {}}


def test_result_has_every_listed_metric_with_its_unit():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = {m["name"]: m["unit"] for m in json.load(f)["end_to_end"]}
    r = run.result(_Counts([]), "end_to_end", lambda: dict.fromkeys(listed, 1.5))
    assert r["correct"] and r["metrics"] == {
        k: {"value": 1.5, "unit": u} for k, u in listed.items()}
    with pytest.raises(SystemExit):
        run.result(_Counts([]), "end_to_end", lambda: {"pass_s": 1.0})


def test_tree_cpu_counts_child_processes():
    """CPU time of a process started below this one is counted, so the
    Spark JVM and the Python workers it starts are measured."""
    before = run.tree_cpu_s()
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import time\nt = time.process_time()\n"
         "while time.process_time() - t < 0.5: pass\n"
         "print(flush=True)\ntime.sleep(30)"],
        stdout=subprocess.PIPE, text=True)
    try:
        child.stdout.readline()  # the child has burnt its 0.5 s
        assert run.tree_cpu_s() - before >= 0.45
    finally:
        child.kill()
        child.wait()


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "promql", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_smoke():
    """Every entry of every workload once at sf0.001, output checked."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    n = sum(len(w.entries) for w in WORKLOADS.values())
    assert result == {"correct": True, "attempted": n, "failed": 0, "metrics": {}}
