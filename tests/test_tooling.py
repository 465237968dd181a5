"""The root tooling stays two tools (bench.py for the headline,
sweep_oracles.py for parity) plus the driver entry and the sf1 data
generator, and a filtered sweep never replaces a committed sweep log."""

from __future__ import annotations

import pathlib
import subprocess

_ROOT = pathlib.Path(__file__).resolve().parent.parent

ROOT_TOOLS = {"__spark_entry__.py", "bench.py", "make_bigsf.py", "sweep_oracles.py"}


def _tracked_py() -> list[str]:
    """Tracked ``*.py`` paths relative to the repository root; the files
    on disk when this is not a git checkout."""
    try:
        out = subprocess.run(
            ["git", "ls-files", "*.py"], cwd=_ROOT, capture_output=True,
            text=True, check=True,
        ).stdout.split()
    except (OSError, subprocess.CalledProcessError):
        out = []
    return out or [str(p.relative_to(_ROOT)) for p in _ROOT.rglob("*.py")]


def test_root_tooling_set_is_pinned():
    paths = _tracked_py()
    top = {p for p in paths if "/" not in p}
    assert top == ROOT_TOOLS, f"top-level scripts drifted: {sorted(top ^ ROOT_TOOLS)}"
    under_artifacts = [p for p in paths if p.startswith("artifacts/")]
    assert not under_artifacts, f"scripts under artifacts/: {under_artifacts}"


def test_only_full_sweeps_write_logs():
    import sweep_oracles

    assert sweep_oracles.log_path("0.1", vanilla=False, full=True) == str(
        _ROOT / "SWEEP_sf0.1.log"
    )
    assert sweep_oracles.log_path("0.01", vanilla=True, full=True) == str(
        _ROOT / "SWEEP_sf0.01_vanilla.log"
    )
    assert sweep_oracles.log_path("0.1", vanilla=False, full=False) is None
    assert sweep_oracles.log_path("0.01", vanilla=True, full=False) is None
