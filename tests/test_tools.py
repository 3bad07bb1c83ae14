"""Every `tools/*.py` script must keep importing: the tools reach into
the engine's operators directly, so an operator deleted or renamed under
a tool fails here instead of on the tool's next manual run."""

from __future__ import annotations

import importlib
import pathlib


def test_every_tool_module_imports():
    tools = sorted((pathlib.Path(__file__).resolve().parents[1] / "tools").glob("*.py"))
    assert tools
    broken = {}
    for path in tools:
        try:
            importlib.import_module(f"tools.{path.stem}")
        except Exception as e:  # noqa: BLE001 — report every broken tool at once
            broken[path.name] = f"{type(e).__name__}: {e}"
    assert not broken, broken
