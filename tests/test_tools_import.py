"""Every script under tools/ imports cleanly. Each guards its entry point
with ``if __name__ == "__main__"``, so an import runs no tool, and a kept
tool that still names a deleted engine symbol fails here instead of at
its next manual run."""

from __future__ import annotations

import importlib
from pathlib import Path

import pytest

TOOLS_DIR = Path(__file__).resolve().parent.parent / "tools"
TOOLS = sorted(p.stem for p in TOOLS_DIR.glob("*.py"))


@pytest.mark.parametrize("name", TOOLS)
def test_tool_imports(name):
    importlib.import_module(f"tools.{name}")


def test_capture_plans_requires_round(monkeypatch):
    from tools import capture_plans

    monkeypatch.setattr("sys.argv", ["capture_plans.py", "before"])
    with pytest.raises(SystemExit, match="usage"):
        capture_plans.main()
