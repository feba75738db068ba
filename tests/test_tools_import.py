"""Import smoke test for ``tools/``: every script must import against the
current engine API, so removing an engine name a kept tool still uses
fails the suite instead of the next person who runs the tool."""

import importlib
import os

import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools")
SCRIPTS = sorted(f[:-3] for f in os.listdir(TOOLS) if f.endswith(".py"))


def test_tools_exist():
    assert "train_tagger" in SCRIPTS and "kgq" in SCRIPTS


@pytest.mark.parametrize("name", SCRIPTS)
def test_tool_imports(name):
    importlib.import_module(f"tools.{name}")
