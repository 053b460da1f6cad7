"""Guard against dead code regrowing: every top-level def, class or
assigned name (a module constant) of the package, and every method of
a top-level package class, must be referenced by code outside
``tests/`` somewhere in the repository's Python files (``plans/``
excluded), outside its own definition or assignment statement.  A
reference is a name or an attribute read (``ast.Load``), or an
imported name, in the parsed code; a word in a docstring, a comment or
a string does not count, nor does assigning the name again.  Each name
of a tuple target (``_QX, _QY = ...``) counts on its own.  Dunder
methods and names, and overrides of a base-class method, are exempt:
the language or the base class reads them, not a name in this
repository.

A reference from ``tests/`` counts only for the defs named in
``TEST_ONLY``; each of those must still exist, be referenced from
``tests/`` and from nowhere else, so the list cannot go stale."""

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
    """name -> (file, line) of each name or attribute read, or
    imported name, spelling it."""
    refs = defaultdict(list)
    for f, tree in trees.items():
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                refs[node.id].append((f, node.lineno))
            elif (isinstance(node, ast.Attribute)
                  and isinstance(node.ctx, ast.Load)):
                refs[node.attr].append((f, node.lineno))
            elif isinstance(node, ast.alias):
                for part in node.name.split("."):
                    refs[part].append((f, node.lineno))
    return refs


# Package defs that only tests reach, as "<file under the package>
# <def, constant or Class.method>".
TEST_ONLY = {
    # Python/numpy references the tests check the engine against
    "kernels/quadtree.py neighbours",
    "kernels/quadtree.py is_parent",
    "kernels/mercator.py backward",
    "kernels/geomcalc.py line_length",
    "kernels/geomcalc.py polygon_contains",
    "kernels/validity.py make_valid_ring",
    "kernels/validity.py boundary",
    "kernels/rings.py Ring.refs_seq",
    "pgcopy.py parse_copy_payloads",
    "config/minzoom.py MinZoomSpec.find_polygon",
    # the north rule's per-row span-sequence check of the decode
    "decode.py span_invariant_violations",
    # geometry encoders for the PostgreSQL ``way`` column, which no
    # output fills yet
    "kernels/wkb.py point_wkb",
    "kernels/wkb.py linestring_wkb",
    "kernels/wkb.py simple_polygon_wkb",
    "operators/validity.py repair_polygons_for_sink",
}

_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _package_names(tree: ast.Module):
    """(class or None, name, statement) of each top-level def, class
    and assigned non-dunder name of a module, and of each non-dunder
    method of its top-level classes."""
    for node in tree.body:
        if isinstance(node, (*_FUNCS, ast.ClassDef)):
            yield None, node.name, node
        if isinstance(node, ast.ClassDef):
            yield from ((node.name, m.name, m) for m in node.body
                        if isinstance(m, _FUNCS)
                        and not m.name.startswith("__"))
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target])
            yield from ((None, n.id, node) for t in targets
                        for n in ast.walk(t)
                        if isinstance(n, ast.Name)
                        and isinstance(n.ctx, ast.Store)
                        and not (n.id.startswith("__")
                                 and n.id.endswith("__")))


def _overrides(f: str, cls: str, name: str) -> bool:
    """Whether method ``name`` of class ``cls`` in package file ``f``
    overrides an attribute of one of the class's bases."""
    module = importlib.import_module(f[:-3].replace("/", "."))
    return any(hasattr(base, name)
               for base in getattr(module, cls).__mro__[1:])


def unused_defs() -> list[str]:
    """Each package def or constant that breaks the rule, or the
    ``TEST_ONLY`` entry that does, with the reason."""
    trees = {f: ast.parse(open(os.path.join(ROOT, f), encoding="utf-8")
                          .read()) for f in _python_files()}
    code = _references({f: t for f, t in trees.items()
                        if not f.startswith("tests/")})
    tests = _references({f: t for f, t in trees.items()
                         if f.startswith("tests/")})
    unused, listed = [], set()
    for f, tree in trees.items():
        if not f.startswith(PACKAGE + "/"):
            continue
        for cls, name, node in _package_names(tree):
            start = min([node.lineno] + [
                d.lineno for d in getattr(node, "decorator_list", [])])
            used = any(g != f or not start <= line <= node.end_lineno
                       for g, line in code[name])
            label = name if cls is None else f"{cls}.{name}"
            key = f"{f.removeprefix(PACKAGE + '/')} {label}"
            where = f"{f}:{node.lineno} {label}"
            if key in TEST_ONLY:
                listed.add(key)
                if used:
                    unused.append(f"{where}: has a caller outside tests/, "
                                  "so it leaves TEST_ONLY")
                elif not tests[name]:
                    unused.append(f"{where}: no test reaches it")
            elif not used and not (cls and _overrides(f, cls, name)):
                unused.append(f"{where}: no caller outside tests/")
    unused += [f"{key}: listed in TEST_ONLY but not defined"
               for key in sorted(TEST_ONLY - listed)]
    return unused


def test_every_package_def_is_used():
    assert unused_defs() == []
