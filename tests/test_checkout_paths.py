"""Scripts find the package from their own location, never from a fixed
checkout path: a literal absolute path put on ``sys.path`` makes a
script run from a second checkout import, and grade, the first one's
code."""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _python_files():
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if not d.startswith(".") and d != "__pycache__"]
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(root, f)


def _is_sys_path_insert(node: ast.AST) -> bool:
    f = getattr(node, "func", None)
    return (
        isinstance(node, ast.Call)
        and isinstance(f, ast.Attribute)
        and f.attr == "insert"
        and isinstance(f.value, ast.Attribute)
        and f.value.attr == "path"
        and isinstance(f.value.value, ast.Name)
        and f.value.value.id == "sys"
    )


def test_no_literal_absolute_path_on_sys_path():
    offenders = []
    for path in _python_files():
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        offenders += [
            f"{os.path.relpath(path, REPO)}:{n.lineno}"
            for n in ast.walk(tree)
            if _is_sys_path_insert(n)
            and any(
                isinstance(a, ast.Constant)
                and isinstance(a.value, str)
                and os.path.isabs(a.value)
                for a in n.args
            )
        ]
    assert offenders == []
