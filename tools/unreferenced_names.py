"""List the top-level names in ``pgsf_spark/`` that no entry point reaches.

A name counts as reached when its identifier appears -- as a name, an
attribute, an aliased import or an identifier-shaped string constant --
in a root or in the body of another reached top-level name. Roots are
``bench.py``, ``__spark_entry__.py``, ``perfbench/``, ``tools/`` (this
file excluded) and every module-level statement of ``pgsf_spark/`` that
defines no name, such as the CLI's ``main()`` guard; import statements
count only through their ``as`` aliases. Reachability runs to a fixpoint, so
a helper that only unreached code uses is unreached too. Matching is by
bare identifier across modules: it over-reports reachability, never
under-reports it.

Each unreached name is printed with its line count and whether ``tests/``
reach it the same way (``test-only``) or nothing does (``nowhere``).

Usage: python3 tools/unreferenced_names.py
"""

from __future__ import annotations

import ast
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def _py_files(*rel):
    for r in rel:
        p = os.path.join(REPO, r)
        if os.path.isfile(p):
            yield p
            continue
        for d, _dirs, files in os.walk(p):
            yield from (os.path.join(d, f) for f in sorted(files) if f.endswith(".py"))


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


def _aliases(tree: ast.Module) -> dict[str, str]:
    """``import x as y`` anywhere in a module: y -> x."""
    return {
        a.asname: a.name.split(".")[-1]
        for n in ast.walk(tree)
        if isinstance(n, (ast.Import, ast.ImportFrom))
        for a in n.names
        if a.asname
    }


def _refs(node: ast.AST, aliases: dict[str, str]) -> set[str]:
    """Identifiers a subtree uses; import statements use nothing, but an
    ``as`` alias resolves back to the imported name."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and _IDENT.match(n.value):
            out.add(n.value)
    return out | {aliases[r] for r in out if r in aliases}


def _defined(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    else:
        return []
    return [t.id for t in targets if isinstance(t, ast.Name)]


def scan():
    """Return [(module, name, lines, 'test-only'|'nowhere')], unreached only."""
    defs: dict[str, list[tuple[str, int, set[str]]]] = {}
    roots: set[str] = set()
    for path in _py_files("pgsf_spark"):
        tree = _parse(path)
        aliases = _aliases(tree)
        mod = os.path.relpath(path, REPO)
        for stmt in tree.body:
            names = [n for n in _defined(stmt) if not (n.startswith("__") and n.endswith("__"))]
            if not names:
                roots |= _refs(stmt, aliases)
            for n in names:
                lines = stmt.end_lineno - stmt.lineno + 1
                defs.setdefault(n, []).append((mod, lines, _refs(stmt, aliases) - {n}))
    me = os.path.abspath(__file__)
    for path in _py_files("bench.py", "__spark_entry__.py", "perfbench", "tools"):
        if os.path.abspath(path) != me:
            roots |= _refs(tree := _parse(path), _aliases(tree))
    test_refs: set[str] = set()
    for path in _py_files("tests"):
        test_refs |= _refs(tree := _parse(path), _aliases(tree))

    def closure(seed: set[str]) -> set[str]:
        live, frontier = set(), seed & defs.keys()
        while frontier:
            live |= frontier
            frontier = {r for n in frontier for _m, _l, refs in defs[n] for r in refs} & defs.keys()
            frontier -= live
        return live

    live, tested = closure(roots), closure(test_refs)
    return sorted(
        (mod, n, lines, "test-only" if n in tested else "nowhere")
        for n, sites in defs.items()
        if n not in live
        for mod, lines, _ in sites
    )


def main() -> None:
    rows = scan()
    for mod, name, lines, seen in rows:
        print(f"{mod}:{name}\t{lines}\t{seen}")
    print(f"{len(rows)} names, {sum(r[2] for r in rows)} lines", file=sys.stderr)


if __name__ == "__main__":
    main()
