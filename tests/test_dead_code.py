"""Guard against dead code: every top-level def/class in the package must
be referenced from somewhere outside its own definition.

A reference is an identifier (name, attribute or imported name) in any
.py file of the project — the package, tests/, perfbench/, scripts/ and
the root-level scripts — or a string literal that is exactly the name
(getattr-style call-site tables). Occurrences inside the definition
itself (recursion, its own docstring) do not count, and neither does
prose in docstrings or comments.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "dbpedia_spotlight_spark"


def _project_files():
    files = set(PACKAGE.rglob("*.py")) | set(ROOT.glob("*.py"))
    for d in ("tests", "perfbench", "scripts"):
        files |= set((ROOT / d).rglob("*.py"))
    return sorted(files)


def _references(node):
    """Identifiers a syntax tree mentions, plus identifier-shaped string
    literals that are not docstrings."""
    docstrings = set()
    for n in ast.walk(node):
        if isinstance(n, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef,
                          ast.ClassDef)) and n.body:
            first = n.body[0]
            if isinstance(first, ast.Expr) and isinstance(
                first.value, ast.Constant
            ):
                docstrings.add(id(first.value))
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and n.value.isidentifier() and id(n) not in docstrings):
            out.add(n.value)
    return out


def test_every_package_definition_is_referenced():
    trees = {p: ast.parse(p.read_text(), filename=str(p))
             for p in _project_files()}
    refs = {p: _references(t) for p, t in trees.items()}
    dead = []
    for path, tree in trees.items():
        if PACKAGE not in path.parents:
            continue
        defs = [n for n in tree.body
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef))]
        for d in defs:
            others = ast.Module(
                body=[n for n in tree.body if n is not d], type_ignores=[]
            )
            if d.name in _references(others):
                continue
            if any(d.name in r for p, r in refs.items() if p != path):
                continue
            dead.append(f"{path.relative_to(ROOT)}:{d.lineno} {d.name}")
    assert not dead, "unreferenced definitions:\n" + "\n".join(dead)
