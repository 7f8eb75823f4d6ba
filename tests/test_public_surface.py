"""Every package name, constant and option has a caller in code, or a
documented reason to exist.

Three checks over the package:

- **Names.** Every top-level ``def``/``class`` (the ``q_*`` queries
  excluded: the registry reaches them) and every module constant (an
  upper-case top-level assignment) must appear as a word in the *code*
  of some ``.py`` file outside test directories, its own definition left
  out.  Comments and docstrings are not code; string literals are
  (``perfbench/trace.py`` names the functions it patches that way).  A
  name found nowhere has only tests for callers; it must be listed in
  README's ``## Public surface`` function table.
- **Options.** Every defaulted parameter of a top-level function outside
  ``core/`` (parity-locked: its signatures mirror the reference's) must
  be set by a call outside test directories — by keyword, by position,
  through ``*``/``**`` or through ``functools.partial`` — or be listed
  in README's option table as ``module.function(param)``.
- Every README row names something that exists.
"""

import ast
import io
import os
import re
import tokenize
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "ds4sd_docling_tableformer_onnx_spark"
CONSTANT = re.compile(r"_?[A-Z][A-Z0-9_]*")


def _code_files():
    """Every .py outside test, hidden and cache directories."""
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [
            d for d in dirs if not d.startswith(".") and d not in ("tests", "__pycache__")
        ]
        for name in files:
            if name.endswith(".py"):
                yield Path(root) / name


def _package_modules():
    for path in sorted((REPO / PKG).rglob("*.py")):
        yield path, ast.parse(path.read_text())


def _definitions():
    """{name: [(path, first line, last line)]}: top-level functions,
    classes and constants of the package."""
    defs = {}
    for path, tree in _package_modules():
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [] if node.name.startswith("q_") else [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = [
                    t.id for t in targets
                    if isinstance(t, ast.Name) and CONSTANT.fullmatch(t.id)
                ]
            else:
                names = []
            for name in names:
                defs.setdefault(name, []).append((path, node.lineno, node.end_lineno))
    return defs


def _docstring_lines(tree):
    """Line numbers covered by module, class and function docstrings."""
    lines = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def _word_locations():
    """{word: {(path, line number)}} over the code tokens of every .py
    outside test dirs: comments and docstrings dropped."""
    locations = {}
    for path in _code_files():
        source = path.read_text()
        docstrings = _docstring_lines(ast.parse(source))
        for tok in tokenize.generate_tokens(io.StringIO(source).readline):
            if tok.type == tokenize.COMMENT:
                continue
            if tok.type == tokenize.STRING and tok.start[0] in docstrings:
                continue
            for word in re.findall(r"\w+", tok.string):
                locations.setdefault(word, set()).add((path, tok.start[0]))
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


def _options():
    """{(module, function, param): positional index, None for
    keyword-only} over the defaulted parameters of the top-level
    functions outside core/."""
    options = {}
    for path, tree in _package_modules():
        module = path.relative_to(REPO / PKG).with_suffix("").as_posix()
        if module.startswith("core/"):
            continue
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            args = node.args
            positional = args.posonlyargs + args.args
            first = len(positional) - len(args.defaults)
            for index in range(first, len(positional)):
                options[(module, node.name, positional[index].arg)] = index
            for arg, default in zip(args.kwonlyargs, args.kw_defaults):
                if default is not None:
                    options[(module, node.name, arg.arg)] = None
    return options


def _callee(node):
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _calls():
    """({function: keywords set}, {function: most positional args},
    {functions called through */** or partial}) over non-test code."""
    keywords, positional, spread = {}, {}, set()
    for path in _code_files():
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            name = _callee(node.func)
            if name == "partial" and node.args:
                spread.add(_callee(node.args[0]))
            if name is None:
                continue
            if any(isinstance(a, ast.Starred) for a in node.args) or any(
                k.arg is None for k in node.keywords
            ):
                spread.add(name)
            keywords.setdefault(name, set()).update(k.arg for k in node.keywords)
            positional[name] = max(positional.get(name, 0), len(node.args))
    return keywords, positional, spread


def _unset_options():
    keywords, positional, spread = _calls()
    return {
        (module, function, param)
        for (module, function, param), index in _options().items()
        if function not in spread
        and param not in keywords.get(function, ())
        and (index is None or positional.get(function, 0) <= index)
    }


def _surface_section():
    text = (REPO / "README.md").read_text()
    return text.partition("\n## Public surface\n")[2].split("\n## ", 1)[0]


def _documented():
    """{name: module path} from the README's public-surface name table."""
    rows = re.findall(r"^\| `([\w/]+)\.(\w+)` \|", _surface_section(), re.MULTILINE)
    return {name: module for module, name in rows}


def _documented_options():
    """{(module, function, param)} from the README's option table."""
    return set(
        re.findall(r"^\| `([\w/]+)\.(\w+)\((\w+)\)` \|", _surface_section(), re.MULTILINE)
    )


def test_every_test_only_name_is_documented():
    undocumented = _test_only_names() - set(_documented())
    assert not undocumented, (
        f"no caller in code and not in README's public surface: {sorted(undocumented)}"
    )


def test_every_documented_name_exists():
    documented = _documented()
    assert documented
    defs = _definitions()
    for name, module in documented.items():
        paths = {p for p, _, _ in defs.get(name, [])}
        assert REPO / PKG / f"{module}.py" in paths, f"{module}.{name} is not defined"


def test_every_option_has_a_caller_or_a_reason():
    undocumented = _unset_options() - _documented_options()
    assert not undocumented, (
        "defaulted parameters no code sets and README does not list: "
        + ", ".join(f"{m}.{f}({p})" for m, f, p in sorted(undocumented))
    )


def test_every_documented_option_exists():
    documented = _documented_options()
    assert documented
    missing = documented - set(_options())
    assert not missing, f"README lists options that do not exist: {sorted(missing)}"
