"""No unused imports in the library and the tools.

A plain-Python AST scan (no linter is a dependency of this repo): an
import bound in a module or a function body must be read somewhere in
that scope.  Package ``__init__.py`` files re-export names and are
skipped.  Runs no Spark job."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
SCANNED = ("record_linkage_ldu_spark", "tools")
_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _own_nodes(scope: ast.AST):
    """The nodes of ``scope`` outside its nested function bodies."""
    todo = list(ast.iter_child_nodes(scope))
    while todo:
        node = todo.pop()
        yield node
        if not isinstance(node, _FUNCS):
            todo.extend(ast.iter_child_nodes(node))


def _names_read(scope: ast.AST) -> set[str]:
    names = set()
    for node in ast.walk(scope):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            names.add(node.id)
        # a quoted annotation ("pd.Series") reads its names too
        for ann in (getattr(node, "annotation", None), getattr(node, "returns", None)):
            if isinstance(ann, ast.Constant) and isinstance(ann.value, str):
                names |= _names_read(ast.parse(ann.value, mode="eval"))
        # names exported through __all__ count as read
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            names |= {
                e.value for e in ast.walk(node.value) if isinstance(e, ast.Constant)
            }
    return names


def unused_imports(source: str) -> list[tuple[int, str]]:
    tree = ast.parse(source)
    found = []
    scopes = [tree] + [n for n in ast.walk(tree) if isinstance(n, _FUNCS)]
    for scope in scopes:
        read = _names_read(scope)
        for node in _own_nodes(scope):
            if isinstance(node, ast.Import):
                bound = [a.asname or a.name.split(".")[0] for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
                bound = [a.asname or a.name for a in node.names if a.name != "*"]
            else:
                continue
            found += [(node.lineno, name) for name in bound if name not in read]
    return sorted(found)


def test_scanner_flags_unused_and_keeps_used():
    src = (
        "import os\n"
        "import sys\n"
        "from typing import Any\n"
        "def f(x: 'Any'):\n"
        "    import json\n"
        "    from math import pi\n"
        "    return os.sep, pi\n"
    )
    assert unused_imports(src) == [(2, "sys"), (5, "json")]


def test_no_unused_imports():
    found = {
        str(path.relative_to(ROOT)): hits
        for top in SCANNED
        for path in sorted((ROOT / top).rglob("*.py"))
        if path.name != "__init__.py"
        for hits in [unused_imports(path.read_text())]
        if hits
    }
    assert not found, found
