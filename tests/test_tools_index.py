"""tools/README.md is the index of the evidence harnesses: every
``tools/*.py`` has a row there, and every row names a file that exists.
No Spark."""

from __future__ import annotations

import os
import re

_TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def _indexed() -> set[str]:
    with open(os.path.join(_TOOLS, "README.md"), encoding="utf-8") as fh:
        return {m.group(1) for m in re.finditer(r"^\| `([\w.]+\.py)", fh.read(), re.M)}


def test_every_tool_has_an_index_row():
    tools = {f for f in os.listdir(_TOOLS) if f.endswith(".py")}
    assert sorted(tools - _indexed()) == []


def test_every_index_row_names_an_existing_tool():
    assert sorted(f for f in _indexed() if not os.path.isfile(os.path.join(_TOOLS, f))) == []
