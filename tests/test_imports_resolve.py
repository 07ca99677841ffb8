"""Every ``simplepolygon_spark`` import in the repo's code resolves.

Walks the package, ``perfbench/``, ``scripts/``, ``__spark_entry__.py``
and ``bench*.py`` with ``ast`` — module-level AND function-local
imports, relative imports resolved against the importing module — and
checks that each imported module exists and carries each imported name.
Function-local imports only fail when their function runs, so a
dangling one (an import of a deleted module) otherwise hides until a
rarely taken code path hits it.  The same walk guards the layering:
the spatial engine's import closure stays inside the spatial modules.
No Spark session is started.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
PKG = "simplepolygon_spark"


def _sources() -> list[Path]:
    files = []
    for d in (PKG, "perfbench", "scripts"):
        files.extend(sorted((REPO / d).rglob("*.py")))
    files.append(REPO / "__spark_entry__.py")
    files.extend(sorted(REPO.glob("bench*.py")))
    return files


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _package_imports(path: Path):
    """(lineno, module, names) for every import that targets the
    package; ``names`` is empty for a plain ``import a.b.c``."""
    tree = ast.parse(path.read_text(), filename=str(path))
    this = _module_name(path)
    package = this if path.name == "__init__.py" else this.rpartition(".")[0]
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PKG:
                    yield node.lineno, alias.name, []
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.split(".")
                base = base[: len(base) - (node.level - 1)]
                module = ".".join(base + ([node.module] if node.module else []))
            else:
                module = node.module or ""
            if module.split(".")[0] == PKG:
                yield node.lineno, module, [a.name for a in node.names]


def _is_function_local(path: Path, lineno: int) -> bool:
    tree = ast.parse(path.read_text())
    return any(
        isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        and n.lineno <= lineno <= n.end_lineno
        for n in ast.walk(tree)
    )


@pytest.mark.parametrize(
    "path", _sources(), ids=lambda p: str(p.relative_to(REPO))
)
def test_package_imports_resolve(path):
    problems = []
    for lineno, module, names in _package_imports(path):
        if importlib.util.find_spec(module) is None:
            problems.append(f"line {lineno}: no module {module}")
            continue
        mod = importlib.import_module(module)
        for name in names:
            if name == "*" or hasattr(mod, name):
                continue
            if importlib.util.find_spec(f"{module}.{name}") is None:
                problems.append(f"line {lineno}: {module} has no {name}")
    assert not problems, "\n".join(problems)


def test_walker_sees_function_local_imports():
    """The walk reaches imports inside function bodies, where the
    deferred spatial imports of the package live."""
    local = [
        (path, lineno)
        for path in _sources()
        for lineno, _m, _n in _package_imports(path)
        if _is_function_local(path, lineno)
    ]
    assert any(p.name == "tiling.py" for p, _ in local)
    assert any(p.name == "__spark_entry__.py" for p, _ in local)


# The paper's engine and the benchmark that drives it.  Their package
# import closure (module-level and function-local, with the parent
# packages each import runs) must stay inside SPATIAL: the off-paper
# families (dedup, similarity, stats) may import the engine, never the
# reverse.
SPATIAL_ROOTS = [
    *sorted((REPO / "perfbench").glob("*.py")),
    *(
        REPO / PKG / "operators" / f"{m}.py"
        for m in (
            "decompose", "tiling", "crosswalk", "knn",
            "overlap", "fused", "payload", "geojson",
        )
    ),
    *(REPO / PKG / "plans" / f"{m}.py" for m in ("pipeline", "lineage", "trace")),
    *(REPO / PKG / "sources" / f"{m}.py" for m in ("images", "footprints", "fixtures")),
    REPO / PKG / "__init__.py",
]
SPATIAL = {
    PKG,
    *(f"{PKG}.{m}" for m in ("cells", "decompose", "deploy", "geom", "session")),
    f"{PKG}.functions",
    f"{PKG}.functions.cells_sql",
    f"{PKG}.operators",
    *(
        f"{PKG}.operators.{m}"
        for m in (
            "crosswalk", "decompose", "fused", "geojson",
            "knn", "overlap", "payload", "tiling",
        )
    ),
    f"{PKG}.plans",
    *(f"{PKG}.plans.{m}" for m in ("lineage", "pipeline", "trace")),
    f"{PKG}.sources",
    *(f"{PKG}.sources.{m}" for m in ("fixtures", "footprints", "images")),
}


# The off-paper modules still in the package.  Cutting the package down
# to the engine is done when this set is empty.
OFF_PAPER = {f"{PKG}.operators.{m}" for m in ("dedup", "similarity", "stats")}


def test_every_package_module_is_classified():
    """Each module under the package is in SPATIAL or in OFF_PAPER, never
    both: a new module must say which it is."""
    modules = {_module_name(p) for p in (REPO / PKG).rglob("*.py")}
    assert not SPATIAL & OFF_PAPER
    assert sorted(modules - SPATIAL - OFF_PAPER) == []
    assert sorted((SPATIAL | OFF_PAPER) - modules) == []


def _module_path(module: str) -> Path | None:
    p = REPO.joinpath(*module.split("."))
    for cand in (p.with_suffix(".py"), p / "__init__.py"):
        if cand.is_file():
            return cand
    return None


def test_spatial_import_closure_stays_spatial():
    reached = {}  # module -> the file that first imported it
    todo = list(SPATIAL_ROOTS)
    while todo:
        path = todo.pop()
        for lineno, module, names in _package_imports(path):
            # ``from pkg.sub import mod`` names submodules too
            for target in (module, *(f"{module}.{n}" for n in names)):
                parts = target.split(".")
                for k in range(1, len(parts) + 1):
                    mod = ".".join(parts[:k])
                    found = _module_path(mod)
                    if found is None or mod in reached:
                        continue
                    reached[mod] = f"{path.relative_to(REPO)}:{lineno}"
                    todo.append(found)
    leaks = sorted(f"{m} (via {reached[m]})" for m in set(reached) - SPATIAL)
    assert not leaks, "spatial code reaches off-paper modules:\n" + "\n".join(leaks)


# pyarrow conversions that import pandas on first use; SPATIAL modules
# convert through ``geom.arrow_to_numpy`` / ``geom.numpy_to_arrow``
_PANDAS_SHIM_CALLS = {"to_numpy", "from_pydict"}
_PANDAS_SHIM_PA_CALLS = {"array", "scalar"}


def _pandas_shim_call(node: ast.Call) -> str | None:
    f = node.func
    if not isinstance(f, ast.Attribute):
        return None
    if f.attr in _PANDAS_SHIM_CALLS:
        return f".{f.attr}("
    if f.attr in _PANDAS_SHIM_PA_CALLS and isinstance(f.value, ast.Name) and f.value.id == "pa":
        return f"pa.{f.attr}("
    return None


def test_no_pandas_udfs_in_the_engine():
    """The engine's Python stages run on Arrow batches: no ``mapInPandas``
    anywhere in the package, and no SPATIAL module imports ``pandas`` or
    calls ``applyInPandas``.  The off-paper modules outside SPATIAL are
    exempt (``dedup`` runs ``applyInPandas`` kernels).

    SPATIAL modules also call none of the pyarrow conversions that
    import pandas lazily (``.to_numpy(``, ``pa.array(``, ``pa.scalar(``,
    ``.from_pydict(``), so the engine has one Arrow↔numpy idiom.  This
    walk sees imports and calls only; ``tests/test_no_pandas_worker.py``
    runs every executor batch function and checks that no Python worker
    loaded pandas."""
    problems = []
    for path in sorted((REPO / PKG).rglob("*.py")):
        rel = str(path.relative_to(REPO))
        spatial = _module_name(path) in SPATIAL
        for node in ast.walk(ast.parse(path.read_text(), filename=rel)):
            if spatial and isinstance(node, ast.Call) and (call := _pandas_shim_call(node)):
                problems.append(f"{rel}:{node.lineno}: {call}")
            if isinstance(node, ast.Attribute):
                if node.attr == "mapInPandas" or (spatial and node.attr == "applyInPandas"):
                    problems.append(f"{rel}:{node.lineno}: {node.attr}")
                continue
            if isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                mods = [node.module or ""]
            else:
                continue
            if spatial and any(m.split(".")[0] == "pandas" for m in mods):
                problems.append(f"{rel}:{node.lineno}: imports pandas")
    assert not problems, "\n".join(problems)
