"""Every top-level ``blink_spark`` definition (function, class or assigned
name) is reached by a product path.

A pure-AST guard (no Spark). The roots are ``__spark_entry__.py``, the
bench scripts, ``tools/`` and ``perfbench/``, plus every module-level
statement of ``blink_spark`` other than imports and definitions (those run
at import). The closure is name-level: a definition is reached once its name appears in
reached code as an identifier, an attribute, an imported name or a string
constant (so ``getattr``-style dispatch counts). Docstrings are prose, not
references. A definition that only tests reach fails the first test; delete
it with its tests, or wire it into a product path.
"""

from __future__ import annotations

import ast
import functools
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "blink_spark"

# plan-assertion helpers that exist for the tests' own use
TEST_HELPERS = {
    "blink_spark.plans.inspect": {
        "pushed_filters",
        "scan_read_schema",
        "has_broadcast_join",
        "partition_filters",
        "has_single_partition_exchange",
    },
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_ASSIGNS = (ast.Assign, ast.AnnAssign, ast.AugAssign)
_IMPORTS = (ast.Import, ast.ImportFrom)
_DOTTED = re.compile(r"[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*")


def _root_files() -> list[Path]:
    return [
        REPO / "__spark_entry__.py",
        REPO / "bench.py",
        REPO / "bench_extra.py",
        *sorted((REPO / "tools").glob("*.py")),
        *sorted((REPO / "perfbench").glob("*.py")),
    ]


def _pkg_files() -> list[Path]:
    return sorted(PKG.rglob("*.py"))


def _module_name(path: Path) -> str:
    parts = path.relative_to(REPO).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


@functools.cache
def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _is_docstring(stmt: ast.stmt) -> bool:
    return (
        isinstance(stmt, ast.Expr)
        and isinstance(stmt.value, ast.Constant)
        and isinstance(stmt.value.value, str)
    )


def _names(node: ast.AST) -> set[str]:
    """Every name ``node`` refers to, docstrings excluded."""
    docs = set()  # ast.walk is breadth-first: an owner precedes its docstring
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, (ast.Module, *_DEFS)) and n.body and _is_docstring(n.body[0]):
            docs.add(id(n.body[0].value))
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and id(n) not in docs
            and _DOTTED.fullmatch(n.value)
        ):
            out.update(n.value.split("."))
    return out


def _assigned(stmt: ast.stmt) -> list[str]:
    targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


def _unreached() -> list[str]:
    defs: dict[str, list[tuple[str, Path, ast.stmt]]] = {}
    reached: set[str] = set()
    for path in _root_files():
        reached |= _names(_parse(path))
    for path in _pkg_files():
        tree = _parse(path)
        for i, stmt in enumerate(tree.body):
            if isinstance(stmt, _DEFS):
                names = [stmt.name]
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign)) and stmt.value is not None:
                names = _assigned(stmt)
            else:
                if not isinstance(stmt, _IMPORTS) and not (i == 0 and _is_docstring(stmt)):
                    reached |= _names(stmt)
                continue
            for name in names:
                defs.setdefault(name, []).append((_module_name(path), path, stmt))
    todo = list(reached & defs.keys())
    done: set[str] = set()
    while todo:
        name = todo.pop()
        if name in done:
            continue
        done.add(name)
        for _, _, stmt in defs[name]:
            todo.extend((_names(stmt) & defs.keys()) - done)
    return [
        f"{path.relative_to(REPO)}:{stmt.lineno} {name}"
        for name, entries in sorted(defs.items())
        if name not in done
        for module, path, stmt in entries
        if name not in TEST_HELPERS.get(module, ())
    ]


def test_every_library_definition_is_reached():
    for module, names in TEST_HELPERS.items():
        defined = {s.name for s in _parse(_module_path(module)).body if isinstance(s, _DEFS)}
        assert names <= defined, f"{module}: allowlisted but not defined: {names - defined}"
    unreached = _unreached()
    assert not unreached, "reached by no query, pipeline mode, tool or benchmark:\n" + "\n".join(
        unreached
    )


def _module_path(module: str) -> Path | None:
    base = REPO.joinpath(*module.split("."))
    for cand in (base.with_suffix(".py"), base / "__init__.py"):
        if cand.is_file():
            return cand
    return None


def _bindings(body: list[ast.stmt]) -> set[str]:
    """Names a module body binds at import time (through if/try/with)."""
    out: set[str] = set()
    for stmt in body:
        if isinstance(stmt, _DEFS):
            out.add(stmt.name)
            continue
        if isinstance(stmt, _IMPORTS):
            out.update((a.asname or a.name).split(".")[0] for a in stmt.names)
        elif isinstance(stmt, _ASSIGNS):
            out.update(_assigned(stmt))
        for field in ("body", "orelse", "finalbody", "handlers"):
            out |= _bindings(getattr(stmt, field, None) or [])
    return out


@functools.cache
def _module_bindings(path: Path) -> set[str]:
    return _bindings(_parse(path).body)


def test_blink_spark_imports_resolve():
    """``from blink_spark.<m> import name`` names something ``<m>`` defines,
    in the roots and inside the package, lazy imports in function bodies
    included: a query body's stale import would otherwise fail only when
    that query runs."""
    bad = []
    for path in _root_files() + _pkg_files():
        package = _module_name(path)
        if path.name != "__init__.py":
            package = package.rpartition(".")[0]
        for node in ast.walk(_parse(path)):
            if isinstance(node, ast.ImportFrom):
                module = node.module or ""
                if node.level:
                    anchor = package.rsplit(".", node.level - 1)[0]
                    module = f"{anchor}.{module}" if module else anchor
                targets = [(module, a.name) for a in node.names if a.name != "*"]
            elif isinstance(node, ast.Import):
                targets = [(a.name, None) for a in node.names]
            else:
                continue
            for module, name in targets:
                if module.split(".")[0] != "blink_spark":
                    continue
                where = f"{path.relative_to(REPO)}:{node.lineno}"
                mpath = _module_path(module)
                if mpath is None:
                    bad.append(f"{where} no module {module}")
                elif name is not None and _module_path(f"{module}.{name}") is None:
                    if name not in _module_bindings(mpath):
                        bad.append(f"{where} {module} defines no {name}")
    assert not bad, "\n".join(bad)

