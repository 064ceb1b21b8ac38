"""Every top-level ``blink_spark`` definition (function, class or assigned
name) is reached by a product path.

A pure-AST guard (no Spark). The roots are ``__spark_entry__.py``, the
bench scripts, ``tools/`` and ``perfbench/``, plus every module-level
statement of ``blink_spark`` other than imports and definitions (those run
at import). The closure is name-level: a definition is reached once its name appears in
reached code as an identifier, an attribute or an imported name. String
constants are data, not references: a column named like a function does not
reach it. A definition that only tests reach fails the first test; delete
it with its tests, or wire it into a product path.

The option guard reads the same roots: a defaulted parameter of a top-level
``blink_spark`` function that every product call gives one value is a
constant, not an option, unless ``OPTION_ALLOWLIST`` keeps it for a stated
reason.

The clone guard reads ``__spark_entry__.py`` and ``blink_spark/`` as text:
no 20 consecutive normalised lines may occur twice.
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


def _names(node: ast.AST) -> set[str]:
    """Every name ``node`` refers to; string constants are not names."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
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
        for stmt in tree.body:
            if isinstance(stmt, _DEFS):
                names = [stmt.name]
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign)) and stmt.value is not None:
                names = _assigned(stmt)
            else:
                if not isinstance(stmt, _IMPORTS):
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


def test_reach_names_on_synthetic_source():
    tree = ast.parse(
        '"""Prose naming helper."""\n'
        "import pkg.mod\n"
        "from lib import fn as other\n"
        "df.select('is_match', 'pkg.helper')\n"
    )
    # identifiers, attributes and imported names reach; a string constant,
    # dotted or not, and a docstring do not
    assert _names(tree) == {"pkg", "mod", "fn", "df", "select"}


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



# ---------------------------------------------------------------------------
# options: a defaulted parameter that no product path varies is a constant
# ---------------------------------------------------------------------------

# column-name parameters bind the caller's schema and select no code path
_COLUMN_PARAM = re.compile(r".*_cols?|query_id|query_emb|item_id|item_emb|text_a|text_b")

DEPLOYMENT = "deployment setting"
FROZEN = "passed by name from frozen perfbench/ or bench.py"
STARRED = "set through ** in tools/"
CALLABLE = "callable"

_PIPELINE_FIELDS = (
    "max_block_size", "hard_cap", "n_salt", "minhash_bands", "minhash_rows",
    "minhash_shingle_n", "rich_metrics", "with_jw", "checkpoints",
)

# options kept although a product path may give them one value
OPTION_ALLOWLIST: dict[tuple[str, str, str], str] = {
    **{
        ("blink_spark.sources.jdbc", "read_mapping_jdbc", p): DEPLOYMENT
        for p in ("table", "partition_column", "lower_bound", "upper_bound", "num_partitions")
    },
    ("blink_spark.sources.jdbc", "write_mapping_jdbc", "table"): DEPLOYMENT,
    ("blink_spark.sources.jdbc", "write_mapping_jdbc", "mode"): DEPLOYMENT,
    ("blink_spark.sources.orc", "write_orc", "partition_by"): DEPLOYMENT,
    ("blink_spark.operators.scoring", "prepare_records", "with_emb"): FROZEN,
    ("blink_spark.operators.scoring", "prepare_records", "pre_normalized"): FROZEN,
    ("blink_spark.operators.scoring", "score_pairs_cascade", "with_emb"): FROZEN,
    ("blink_spark.operators.scoring", "score_pairs_cascade", "with_jw"): FROZEN,
    ("blink_spark.operators.cluster", "assign_clusters", "assume_unique"): FROZEN,
    ("blink_spark.operators.cluster", "assign_clusters", "edges_canonical"): FROZEN,
    ("blink_spark.operators.blocking", "df_aware_blocks", "cache_freq"): FROZEN,
    ("blink_spark.operators.blocking", "df_aware_blocks", "rare_df"): FROZEN,
    ("blink_spark.operators.blocking", "df_aware_blocks", "max_df"): FROZEN,
    **{("blink_spark.pipeline", "PipelineConfig", f): FROZEN for f in _PIPELINE_FIELDS},
    # also the only way tests reach the distributed superstep CC
    ("blink_spark.operators.cluster", "connected_components", "local_threshold"): STARRED,
    ("blink_spark.operators.ann", "brute_force_topk", "scorer"): CALLABLE,
}

_VARIES = object()


def _options(fn: ast.FunctionDef | ast.ClassDef) -> tuple[list[str], dict[str, ast.expr]]:
    """(positional parameter names, {defaulted parameter: default}) of a
    function or of a dataclass's constructor."""
    if isinstance(fn, ast.ClassDef):
        fields = [
            s for s in fn.body if isinstance(s, ast.AnnAssign) and isinstance(s.target, ast.Name)
        ]
        return [f.target.id for f in fields], {f.target.id: f.value for f in fields if f.value}
    a = fn.args
    positional = [p.arg for p in a.posonlyargs + a.args]
    defaults = dict(zip(positional[len(positional) - len(a.defaults):], a.defaults))
    defaults.update((p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None)
    return positional, defaults


def _literal(node: ast.expr):
    try:
        return repr(ast.literal_eval(node))
    except ValueError:
        return _VARIES


def _is_dataclass(cls: ast.ClassDef) -> bool:
    return any(
        (d.id if isinstance(d, ast.Name) else getattr(d, "attr", None)) == "dataclass"
        for d in cls.decorator_list
    )


def _option_defs(pkg: dict[str, ast.Module]) -> dict[str, list[tuple[str, ast.AST]]]:
    """name -> [(module, top-level function or dataclass)]."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    for module, tree in pkg.items():
        for stmt in tree.body:
            if isinstance(stmt, ast.FunctionDef) or (
                isinstance(stmt, ast.ClassDef) and _is_dataclass(stmt)
            ):
                defs.setdefault(stmt.name, []).append((module, stmt))
    return defs


def _one_valued_options(
    pkg: dict[str, ast.Module], roots: list[ast.Module]
) -> dict[tuple[str, str, str], str]:
    """{(module, function, parameter): value} for every option of a
    top-level ``pkg`` function (or dataclass) that all calls in ``roots``
    and ``pkg`` give one value: the literal a call passes, or the default
    when it omits the parameter. A non-literal argument, ``*args`` or
    ``**kw`` varies; column-name parameters are exempt; a function that no
    call names is skipped. Calls match by name, plain or attribute."""
    defs = _option_defs(pkg)
    values: dict[tuple[str, str, str], set] = {}
    for tree in [*roots, *pkg.values()]:
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            for module, fn in defs.get(name, ()):
                positional, defaults = _options(fn)
                given: dict[str, object] = {}
                for i, arg in enumerate(call.args):
                    if isinstance(arg, ast.Starred):
                        given.update((p, _VARIES) for p in positional[i:])
                        break
                    if i < len(positional):
                        given[positional[i]] = _literal(arg)
                for kw in call.keywords:
                    if kw.arg is None:
                        given.update((p, _VARIES) for p in defaults if p not in given)
                    else:
                        given[kw.arg] = _literal(kw.value)
                for p, default in defaults.items():
                    if p in given:
                        v = given[p]
                    else:  # the default, literal or not, is one value
                        v = _literal(default)
                        if v is _VARIES:
                            v = ast.unparse(default)
                    values.setdefault((module, fn.name, p), set()).add(v)
    return {
        key: next(iter(vs))
        for key, vs in sorted(values.items())
        if len(vs) == 1 and _VARIES not in vs and not _COLUMN_PARAM.fullmatch(key[2])
    }


def _product_trees() -> tuple[dict[str, ast.Module], list[ast.Module]]:
    return {_module_name(p): _parse(p) for p in _pkg_files()}, [_parse(p) for p in _root_files()]


def test_every_option_is_varied_by_a_product_path():
    """A defaulted parameter that every product call gives the same value
    is a constant: inline it, or name it once as a module constant (tests
    vary such a constant with ``monkeypatch``)."""
    pkg, roots = _product_trees()
    defs = _option_defs(pkg)
    reasons = {DEPLOYMENT, FROZEN, STARRED, CALLABLE}
    for (module, name, param), reason in OPTION_ALLOWLIST.items():
        assert reason in reasons, (module, name, param, reason)
        assert any(
            m == module and param in _options(fn)[1] for m, fn in defs.get(name, ())
        ), f"allowlisted but no such option: {module}.{name}({param}=)"
    single = [
        f"{module}.{name}({param}={value})"
        for (module, name, param), value in _one_valued_options(pkg, roots).items()
        if (module, name, param) not in OPTION_ALLOWLIST
    ]
    assert not single, "options every product path gives one value:\n" + "\n".join(single)


def test_option_analyzer_on_synthetic_source():
    lib = ast.parse(
        "def f(df, text_col='t', k=3, n=4, mode='a', id_col='id'):\n"
        "    pass\n"
        "def g(x, depth=2):\n"
        "    pass\n"
    )
    root = ast.parse(
        "f(df, 'text', k=3, n=5, id_col='rid')\n"
        "f(df, n=6)\n"
        "lib.f(df, mode='a')\n"
    )
    got = _one_valued_options({"lib": lib}, [root])
    # one literal everywhere: k passed as 3 once and omitted (default 3) twice
    assert got[("lib", "f", "k")] == "3"
    # an omitted argument counts as the default: mode is 'a' on every call
    assert got[("lib", "f", "mode")] == "'a'"
    # two different literals vary
    assert ("lib", "f", "n") not in got
    # a *_col parameter is exempt even with one value per call
    assert ("lib", "f", "text_col") not in got and ("lib", "f", "id_col") not in got
    # a function no call names is skipped
    assert not any(key[1] == "g" for key in got)
    # a non-literal argument varies
    got = _one_valued_options({"lib": lib}, [ast.parse("f(df, k=K)\nf(df)")])
    assert ("lib", "f", "k") not in got


# ---- clone guard -----------------------------------------------------------

CLONE_WINDOW = 20


def _clone_files() -> list[Path]:
    return [REPO / "__spark_entry__.py", *_pkg_files()]


def _normalised(path: Path) -> list[tuple[int, str]]:
    """(line number, text) of every line that is neither blank nor a
    ``#`` comment, stripped and with inner whitespace collapsed."""
    out = []
    for i, line in enumerate(path.read_text().splitlines(), 1):
        text = " ".join(line.split())
        if text and not text.startswith("#"):
            out.append((i, text))
    return out


def _clones(files: dict[str, list[tuple[int, str]]], window: int) -> list[tuple[str, str]]:
    """(first, repeat) ``file:line`` starts of every run of ``window``
    consecutive normalised lines that occurred before, in the same file or
    an earlier one. A run of overlapping repeated windows is reported once,
    at its first window."""
    seen: dict[tuple[str, ...], str] = {}
    found = []
    for name, lines in files.items():
        in_run = False
        for k in range(len(lines) - window + 1):
            key = tuple(text for _, text in lines[k:k + window])
            here = f"{name}:{lines[k][0]}"
            if key in seen:
                if not in_run:
                    found.append((seen[key], here))
                in_run = True
            else:
                seen[key] = here
                in_run = False
    return found


def test_no_repeated_code_blocks():
    """No 20 consecutive lines (stripped, whitespace collapsed, blank and
    ``#`` lines dropped) occur twice in ``__spark_entry__.py`` and
    ``blink_spark/``: a query chain or oracle CTE written twice is written
    once, as a helper or a shared SQL fragment, and reused."""
    files = {str(p.relative_to(REPO)): _normalised(p) for p in _clone_files()}
    found = _clones(files, CLONE_WINDOW)
    assert not found, f"{len(found)} repeated {CLONE_WINDOW}-line blocks:\n" + "\n".join(
        f"{a} repeated at {b}" for a, b in found
    )


def test_clone_finder_on_synthetic_source():
    block = [(i, f"x{i} = {i}") for i in range(1, 4)]
    shifted = [(i + 10, text) for i, text in block]
    # a 3-line block repeated in another file, and within one file
    got = _clones({"a.py": block, "b.py": [(1, "y = 0"), *shifted]}, 3)
    assert got == [("a.py:1", "b.py:11")]
    assert _clones({"a.py": block + shifted}, 3) == [("a.py:1", "a.py:11")]
    # overlapping repeated windows of one longer copy report once
    long_block = [(i, f"z{i}") for i in range(6)]
    assert _clones({"a.py": long_block, "b.py": long_block}, 3) == [("a.py:0", "b.py:0")]
    # one differing line breaks every window through it
    changed = [*block[:1], (2, "x2 = 9"), *block[2:]]
    assert _clones({"a.py": block, "b.py": changed}, 3) == []
