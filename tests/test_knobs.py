"""The configuration surface is the README's table and nothing else.

Every `SPARK_GRAFT_*` environment variable the engine, its tools, the
bench or the tests read must have a row in README.md's "Configuration"
table, and every row must name a variable something still reads.
"""

from __future__ import annotations

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KNOB = re.compile(r"SPARK_GRAFT_[A-Z0-9_]+")


def _code_knobs() -> set[str]:
    paths = [os.path.join(REPO, "bench.py")]
    for d in ("mapreducecore_spark", "tools", "tests"):
        for root, _dirs, files in os.walk(os.path.join(REPO, d)):
            paths += [os.path.join(root, f) for f in files if f.endswith(".py")]
    names: set[str] = set()
    for p in paths:
        if os.path.samefile(p, __file__):
            continue
        with open(p, encoding="utf-8") as fh:
            names.update(KNOB.findall(fh.read()))
    return names


def _readme_knobs() -> set[str]:
    with open(os.path.join(REPO, "README.md"), encoding="utf-8") as fh:
        text = fh.read()
    assert "\n## Configuration\n" in text, "README.md has no Configuration section"
    section = text.split("\n## Configuration\n", 1)[1].split("\n## ", 1)[0]
    return {
        name
        for line in section.splitlines()
        if line.startswith("|")
        for name in KNOB.findall(line)
    }


def test_readme_configuration_table_lists_every_knob():
    code, doc = _code_knobs(), _readme_knobs()
    assert code, "no SPARK_GRAFT_* names found — scan paths are wrong"
    assert code == doc, (
        f"read but undocumented: {sorted(code - doc)}; "
        f"documented but never read: {sorted(doc - code)}"
    )
