"""Dead-code guard: every top-level definition of the package must be
reachable from an entry point, so code that only tests call cannot grow
back unnoticed.

Pure AST, no Spark session. The roots are the entry points
(``__spark_entry__.py``, ``bench.py``, ``tools/``, ``perfbench/``), the
``Engine`` facade and the package's module-level code other than imports
and assignments (``__all__`` counts as code). A definition is a top-level
``def``, ``class`` or assigned name of a package module. References are
resolved by name, transitively: a ``Name``, an ``Attribute``, an imported
name or a string constant spelling an identifier reaches every package
definition of that name.
"""

import ast
import re
from functools import lru_cache
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "sits_classification_spark"
ENTRY_FILES = ["__spark_entry__.py", "bench.py", "tools/*.py", "perfbench/*.py"]

# Unreached definitions that tests use as the reference for live code:
# "module.name" -> the test file that compares live code against it.
KEEP = {
    # test_rbf_smooth_expr_matches_kernel
    "operators.harmonic.rbf_smooth": "tests/test_operators.py",
    # test_asof_window_vs_cogroup
    "operators.asof.asof_lookup_window": "tests/test_operators.py",
    # the long-form folds that Engine.fold must equal
    "operators.folds.fold_from_bucket": "tests/test_engine_nested.py",
}

_IDENT = re.compile(r"[A-Za-z_]\w*\Z")


def _refs(node):
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and _IDENT.match(n.value):
            out.add(n.value)
    return out


def _assigned(stmt):
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    else:
        return []
    names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
    return [] if "__all__" in names else names


@lru_cache(maxsize=None)
def _graph():
    """({"module.name": (name, node)}, root names) over the package."""
    defs, roots = {}, {"Engine"}
    for path in sorted(PACKAGE.rglob("*.py")):
        mod = ".".join(path.relative_to(PACKAGE).with_suffix("").parts)
        for stmt in ast.parse(path.read_text()).body:
            assigned = _assigned(stmt)
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[f"{mod}.{stmt.name}"] = (stmt.name, stmt)
            elif assigned:
                for name in assigned:
                    defs[f"{mod}.{name}"] = (name, stmt)
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                roots |= _refs(stmt)
    for pattern in ENTRY_FILES:
        for path in sorted(ROOT.glob(pattern)):
            roots |= _refs(ast.parse(path.read_text()))
    return defs, roots


@lru_cache(maxsize=None)
def _reached():
    defs, roots = _graph()
    by_name = {}
    for qual, (name, node) in defs.items():
        by_name.setdefault(name, []).append(node)
    seen, todo = set(), list(roots)
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            for node in by_name.get(name, []):
                todo.extend(_refs(node) - seen)
    return {qual for qual, (name, _) in defs.items() if name in seen}


def test_every_package_definition_is_reached_from_an_entry_point():
    defs, _ = _graph()
    dead = sorted(
        q for q, (name, _) in defs.items()
        if q not in _reached() and q not in KEEP and not name.startswith("__")
    )
    assert not dead, f"reached from no entry point (delete, or add to KEEP): {dead}"


def test_keep_list_holds_only_unreached_test_references():
    defs, _ = _graph()
    for qual, test_file in KEEP.items():
        assert qual in defs, f"{qual} no longer exists; drop it from KEEP"
        assert qual not in _reached(), f"{qual} is reached from an entry point; drop it from KEEP"
        name = qual.rsplit(".", 1)[-1]
        assert name in _refs(ast.parse((ROOT / test_file).read_text())), (
            f"{test_file} no longer uses {qual}; drop it from KEEP"
        )
