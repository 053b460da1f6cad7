"""Guard against dead code regrowing: every top-level def or class of
the package must be referenced by code somewhere in the repository's
Python files (``plans/`` excluded) outside its own definition.  A
reference is a name, an attribute or an imported name in the parsed
code; a word in a docstring, a comment or a string does not count."""

import ast
import os
import subprocess
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "osmquadtree_geometry_spark"


def _python_files() -> list[str]:
    """Tracked ``.py`` files, relative to the root; every ``.py`` file
    under the root when it is not a git checkout."""
    try:
        out = subprocess.run(["git", "ls-files", "*.py"], cwd=ROOT,
                             capture_output=True, text=True, check=True)
        files = out.stdout.split()
    except (OSError, subprocess.CalledProcessError):
        files = [os.path.relpath(os.path.join(d, f), ROOT)
                 for d, _, fs in os.walk(ROOT) for f in fs
                 if f.endswith(".py")]
    return [f for f in files if not f.startswith("plans/")
            and os.path.exists(os.path.join(ROOT, f))]


def _references(trees: dict[str, ast.AST]) -> dict[str, list]:
    """name -> (file, line) of each name, attribute or imported name
    spelling it."""
    refs = defaultdict(list)
    for f, tree in trees.items():
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                refs[node.id].append((f, node.lineno))
            elif isinstance(node, ast.Attribute):
                refs[node.attr].append((f, node.lineno))
            elif isinstance(node, ast.alias):
                for part in node.name.split("."):
                    refs[part].append((f, node.lineno))
    return refs


def unused_defs() -> list[str]:
    trees = {f: ast.parse(open(os.path.join(ROOT, f), encoding="utf-8")
                          .read()) for f in _python_files()}
    refs = _references(trees)
    unused = []
    for f, tree in trees.items():
        if not f.startswith(PACKAGE + "/"):
            continue
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                continue
            start = min([node.lineno] + [d.lineno for d in node.decorator_list])
            if not any(g != f or not start <= line <= node.end_lineno
                       for g, line in refs[node.name]):
                unused.append(f"{f}:{node.lineno} {node.name}")
    return unused


def test_every_package_def_is_used():
    assert unused_defs() == []
