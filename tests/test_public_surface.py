"""Every package function has a caller or a documented reason to exist.

Scans the top-level ``def``/``class`` names of the package (the ``q_*``
queries excluded: the registry reaches them) and looks for each name, as
a whole word, in every ``.py`` file outside test directories, the
name's own definition left out.  A name found nowhere has only tests
for callers; it must be listed in README's ``## Public surface``
section, and every name listed there must exist where the row says.
"""

import ast
import os
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "ds4sd_docling_tableformer_onnx_spark"


def _definitions():
    """{name: [(path, first line, last line)]} over the package."""
    defs = {}
    for path in sorted((REPO / PKG).rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if not node.name.startswith("q_"):
                    defs.setdefault(node.name, []).append(
                        (path, node.lineno, node.end_lineno)
                    )
    return defs


def _word_locations():
    """{word: {(path, line number)}} over every .py outside test dirs."""
    locations = {}
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [
            d for d in dirs if not d.startswith(".") and d not in ("tests", "__pycache__")
        ]
        for name in files:
            if name.endswith(".py"):
                path = Path(root) / name
                for lineno, line in enumerate(path.read_text().splitlines(), 1):
                    for word in re.findall(r"\w+", line):
                        locations.setdefault(word, set()).add((path, lineno))
    return locations


def _test_only_names():
    locations = _word_locations()
    return {
        name
        for name, spans in _definitions().items()
        if all(
            any(path == p and a <= lineno <= b for p, a, b in spans)
            for path, lineno in locations.get(name, ())
        )
    }


def _documented():
    """{name: module path} from the README's public-surface table."""
    text = (REPO / "README.md").read_text()
    section = text.partition("\n## Public surface\n")[2].split("\n## ", 1)[0]
    rows = re.findall(r"^\| `([\w/]+)\.(\w+)` \|", section, re.MULTILINE)
    return {name: module for module, name in rows}


def test_every_test_only_name_is_documented():
    undocumented = _test_only_names() - set(_documented())
    assert not undocumented, (
        f"called only from tests/ and not in README's public surface: {sorted(undocumented)}"
    )


def test_every_documented_name_exists():
    documented = _documented()
    assert documented
    defs = _definitions()
    for name, module in documented.items():
        paths = {p for p, _, _ in defs.get(name, [])}
        assert REPO / PKG / f"{module}.py" in paths, f"{module}.{name} is not defined"
