"""Planning-tooling smoke test: scripts/stamp_budget.py runs and reports."""

from __future__ import annotations


def test_stamp_budget_tool_runs():
    """The planning script stays importable and its report stays shaped:
    pending count, per-module costs, and a window verdict for an edit set."""
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    out = subprocess.run(
        [sys.executable, str(repo / "scripts" / "stamp_budget.py"), "operators/lm.py"],
        capture_output=True,
        text=True,
        cwd=repo,
        timeout=120,
    )
    assert "pending now:" in out.stdout
    assert "dependent queries" in out.stdout
    assert "window:" in out.stdout
