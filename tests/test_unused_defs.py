"""Guard against dead code regrowing: every top-level def or class of
the package must be named somewhere in the repository's Python files
(``plans/`` excluded) outside its own definition."""

import ast
import os
import re
import subprocess

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


def unused_defs() -> list[str]:
    files = _python_files()
    texts = {f: open(os.path.join(ROOT, f), encoding="utf-8").read()
             for f in files}
    unused = []
    for f in files:
        if not f.startswith(PACKAGE + "/"):
            continue
        lines = texts[f].splitlines()
        for node in ast.parse(texts[f]).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                continue
            start = min([node.lineno] + [d.lineno for d in node.decorator_list])
            rest = lines[:start - 1] + lines[node.end_lineno:]
            word = re.compile(rf"\b{re.escape(node.name)}\b")
            others = (t for g, t in texts.items() if g != f)
            if not any(word.search(t) for t in ["\n".join(rest), *others]):
                unused.append(f"{f}:{node.lineno} {node.name}")
    return unused


def test_every_package_def_is_used():
    assert unused_defs() == []
