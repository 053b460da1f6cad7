"""Guard against dead code regrowing: every top-level def or class of
the package, and every method of a top-level package class, must be
referenced by code somewhere in the repository's Python files
(``plans/`` excluded) outside its own definition.  A reference is a
name, an attribute or an imported name in the parsed code; a word in a
docstring, a comment or a string does not count.  Dunder methods and
overrides of a base-class method are exempt: the language or the base
class calls them, not a name in this repository."""

import ast
import importlib
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


_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _overrides(f: str, cls: str, name: str) -> bool:
    """Whether method ``name`` of class ``cls`` in package file ``f``
    overrides an attribute of one of the class's bases."""
    module = importlib.import_module(f[:-3].replace("/", "."))
    return any(hasattr(base, name)
               for base in getattr(module, cls).__mro__[1:])


def unused_defs() -> list[str]:
    trees = {f: ast.parse(open(os.path.join(ROOT, f), encoding="utf-8")
                          .read()) for f in _python_files()}
    refs = _references(trees)
    unused = []
    for f, tree in trees.items():
        if not f.startswith(PACKAGE + "/"):
            continue
        defs = [(None, n) for n in tree.body
                if isinstance(n, (*_FUNCS, ast.ClassDef))]
        defs += [(c.name, n) for c in tree.body if isinstance(c, ast.ClassDef)
                 for n in c.body if isinstance(n, _FUNCS)
                 and not n.name.startswith("__")]
        for cls, node in defs:
            start = min([node.lineno] + [d.lineno for d in node.decorator_list])
            if any(g != f or not start <= line <= node.end_lineno
                   for g, line in refs[node.name]):
                continue
            if cls is None:
                unused.append(f"{f}:{node.lineno} {node.name}")
            elif not _overrides(f, cls, node.name):
                unused.append(f"{f}:{node.lineno} {cls}.{node.name}")
    return unused


def test_every_package_def_is_used():
    assert unused_defs() == []
