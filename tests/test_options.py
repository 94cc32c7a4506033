"""The KG path's Spark settings are a reviewed list: every `spark.kg.`
key named in a string literal under kg/*.py (kg/ops/ is off the KG path)
must appear in README.md's settings table, and the table lists nothing
the code no longer reads.  A new knob therefore shows up as a change to
this test's expectation, via README.md."""

from __future__ import annotations

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
KEY_RE = re.compile(r"spark\.kg\.[A-Za-z0-9_.]*[A-Za-z0-9_]")


def _code_keys() -> set[str]:
    keys: set[str] = set()
    for path in sorted((ROOT / "kg").glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                keys.update(KEY_RE.findall(node.value))
    return keys


def _readme_keys() -> set[str]:
    text = (ROOT / "README.md").read_text()
    return set(re.findall(r"^\| `(spark\.kg\.[^`]+)` \|", text, re.MULTILINE))


def test_kg_settings_match_readme_table():
    assert _readme_keys() == {
        "spark.kg.extract.autoThresholdTurns",
        "spark.kg.broadcastRowThreshold",
    }
    assert _code_keys() == _readme_keys()
