"""Dead-name guard: every module-level def, class and assignment under
metacheck_spark/ must be named somewhere in the repo's Python files
outside its own definition — in code, a test, a tool, or a comment that
points at it. A package ``__init__.py`` does not count: re-exporting a
name is not using it. A name nothing mentions is dead code; delete it
rather than carry it.
"""

from __future__ import annotations

import ast
import os
import re
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "metacheck_spark")
SKIP_DIRS = {os.path.join(ROOT, "perfbench", ".cache")}
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _py_files(top: str) -> list[str]:
    out = []
    for d, subdirs, files in os.walk(top):
        subdirs[:] = [
            s for s in subdirs
            if os.path.join(d, s) not in SKIP_DIRS and not s.startswith(".")
        ]
        out += [os.path.join(d, f) for f in files if f.endswith(".py")]
    return out


def _defined_names(tree: ast.Module):
    """(name, first_line, last_line) for each module-level binding."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, node.lineno, node.end_lineno
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        yield n.id, node.lineno, node.end_lineno


def test_no_module_level_name_is_unreferenced():
    # every identifier occurrence in the repo: name -> [(file, line)]
    seen: dict[str, list[tuple[str, int]]] = defaultdict(list)
    for path in _py_files(ROOT):
        if os.path.basename(path) == "__init__.py":
            continue
        with open(path, encoding="utf-8") as f:
            for lineno, line in enumerate(f, 1):
                for name in IDENT.findall(line):
                    seen[name].append((path, lineno))

    dead = []
    for path in _py_files(PACKAGE):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        for name, lo, hi in _defined_names(tree):
            if name.startswith("__") and name.endswith("__"):
                continue
            if all(p == path and lo <= ln <= hi for p, ln in seen[name]):
                dead.append(f"{os.path.relpath(path, ROOT)}:{lo} {name}")
    assert not dead, "unreferenced module-level names:\n" + "\n".join(dead)
