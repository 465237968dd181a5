"""Bench-headline honesty contract (VERDICT r10 #7): every entry whose
committed sf0.1 sweep line exceeds the 2 s cost threshold must either be
timed by bench.py's HEADLINE set or carry a documented exclusion reason
in bench.py HEADLINE_EXCLUDED — a new expensive registration cannot
silently skip the per-round bench."""

from __future__ import annotations

import pathlib
import re

from numalogic_prometheus_spark import plans

_ROOT = pathlib.Path(__file__).resolve().parent.parent

_THRESHOLD_S = 2.0


def _load_bench_module():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench", str(_ROOT / "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _load_bench_sets():
    mod = _load_bench_module()
    return list(mod.HEADLINE), dict(mod.HEADLINE_EXCLUDED)


def test_expensive_sweep_entries_are_benched_or_excluded():
    headline, excluded = _load_bench_sets()
    log = (_ROOT / "SWEEP_sf0.1.log").read_text()
    slow = {
        m.group(1): float(m.group(2))
        for m in re.finditer(r"^PASS (\S+) ([\d.]+)s", log, re.M)
        if float(m.group(2)) > _THRESHOLD_S
    }
    assert slow, "sweep log has no timed entries — format drift?"
    uncovered = {
        n: t for n, t in slow.items()
        if n not in headline and n not in excluded
    }
    assert not uncovered, (
        f"entries >{_THRESHOLD_S}s in SWEEP_sf0.1.log neither benched nor "
        f"excluded-with-reason: {sorted(uncovered.items())}"
    )


def test_headline_and_exclusions_resolve():
    """Every HEADLINE / HEADLINE_EXCLUDED name must be a registered
    query, the two sets must be disjoint, and every exclusion must
    carry a non-empty reason."""
    headline, excluded = _load_bench_sets()
    queries = plans.all_queries()
    missing = [n for n in headline if n not in queries]
    assert not missing, f"HEADLINE names not in registry: {missing}"
    missing_ex = [n for n in excluded if n not in queries]
    assert not missing_ex, f"excluded names not in registry: {missing_ex}"
    overlap = set(headline) & set(excluded)
    assert not overlap, f"benched AND excluded: {sorted(overlap)}"
    assert all(isinstance(r, str) and r.strip() for r in excluded.values())


def test_core32_is_frozen_and_registered():
    """CORE_32 (VERDICT r14 #4) must stay exactly the round-4 artifact
    membership — 32 names, all registered, all in HEADLINE — so
    `value_core` remains cross-round comparable."""
    mod = _load_bench_module()
    assert len(mod.CORE_32) == 32
    assert len(set(mod.CORE_32)) == 32
    queries = plans.all_queries()
    missing = [n for n in mod.CORE_32 if n not in queries]
    assert not missing, f"CORE_32 names not in registry: {missing}"
    not_headline = [n for n in mod.CORE_32 if n not in mod.HEADLINE]
    assert not not_headline, (
        f"CORE_32 members missing from HEADLINE: {not_headline}"
    )
    import json

    r4 = json.loads((_ROOT / "BENCH_r04.json").read_text())
    r4_set = set(r4["parsed"]["queries"])
    assert set(mod.CORE_32) == r4_set, "CORE_32 drifted from the r4 artifact"


def test_printed_line_is_compact():
    """The stdout line is the driver's ONLY capture channel and its tail
    window has truncated full provenance dumps twice (r11, r16 ->
    parsed=null, a lost round-over-round table). Pin: contract_line
    emits ONLY the whitelisted fields, never the provenance ledgers,
    and stays under a 6 kB ceiling even with every HEADLINE entry
    present (87 names alone are ~2.9 kB, so sub-2kB is impossible
    while `queries` is contract-mandated — the ceiling bounds creep,
    the whitelist bounds content)."""
    import json

    mod = _load_bench_module()
    # worst-case realistic artifact: every headline entry timed, plus
    # every provenance field a real run writes
    out = {
        "metric": "headline_queries_total",
        "value": 12345.6789,
        "unit": "sec",
        "queries": {n: 123.4567 for n in mod.HEADLINE},
        "sf": 0.1,
        "value_core": 1234.5678,
        "artifact": "BENCH_LATEST.json",
        # artifact-only fields that must NOT leak to stdout
        "median": {n: 123.4567 for n in mod.HEADLINE},
        "pass_counts": {n: 3 for n in mod.HEADLINE},
        "errors": {},
        "seeds": [0, 1, 2],
        "steal_share": 0.01,
    }
    line = mod.contract_line(out)
    parsed = json.loads(line)
    assert set(parsed) == set(mod.CONTRACT_LINE_FIELDS) & set(out)
    assert set(mod.CONTRACT_LINE_FIELDS) == {
        "metric", "value", "unit", "queries", "sf", "value_core", "artifact",
    }
    assert "pass_counts" not in parsed and "median" not in parsed
    assert "\n" not in line
    assert len(line) < 6000, f"printed line grew to {len(line)} chars"
    # contract fields the driver greps for are all present
    for k in ("metric", "value", "unit", "queries", "sf"):
        assert k in parsed
    assert len(parsed["queries"]) == len(mod.HEADLINE)


def test_run_rounds_times_entries_and_reports_errors(spark, sf_dir):
    """One round over two cheap CORE_32 entries and one entry that
    raises: both real entries are timed, `value` / `value_core` are
    sums of their minimums, the failing entry lands in `errors` only,
    and the result still gives one parseable contract line."""
    import json

    mod = _load_bench_module()
    queries = plans.all_queries()

    def broken(spark, sf_dir):
        raise RuntimeError("broken entry")

    entries = {
        "counter_hourly": queries["counter_hourly"],
        "gauge_latest_per_user": queries["gauge_latest_per_user"],
        "broken_entry": broken,
    }
    # a deadline already past: exactly one round
    res = mod.run_rounds(spark, entries, sf_dir, deadline=0.0)

    real = ["counter_hourly", "gauge_latest_per_user"]
    assert all(n in mod.CORE_32 for n in real)
    assert sorted(res["queries"]) == real
    assert all(res["queries"][n] > 0 for n in real)
    assert res["pass_counts"] == {
        "counter_hourly": 1, "gauge_latest_per_user": 1, "broken_entry": 0,
    }
    assert res["value"] == round(sum(res["queries"][n] for n in real), 4)
    assert res["value_core"] == round(
        sum(res["queries"][n] for n in real if n in mod.CORE_32), 4
    )
    assert res["core_set"] == "2/32"
    assert list(res["errors"]) == ["broken_entry"]
    assert "RuntimeError: broken entry" in res["errors"]["broken_entry"]
    assert "broken_entry" not in res["median"]
    assert res["seeds"] == [mod.ROUND_SEED]
    assert 0.0 <= res["steal_share"] <= 1.0

    line = mod.contract_line({"metric": "headline_queries_total",
                              "unit": "sec", "sf": 0.001, **res})
    assert "\n" not in line
    parsed = json.loads(line)
    assert parsed["queries"] == res["queries"]
    assert parsed["value_core"] == res["value_core"]
