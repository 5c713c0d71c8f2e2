"""Every package module, and every top-level name in it, is reached from a
program entry point, or is named here with the reason it stays. Code only
tests reach is code no pipeline, bench or script runs; it has to earn a
line in ``UNREACHED`` or ``UNREACHED_NAMES``.

Both walks are static. The module walk follows every ``import`` statement
(at any depth in a file, so function-level imports count) from the entry
points into the package, and importing ``a.b.c`` reaches ``a`` and ``a.b``
too. The name walk collects identifiers and follows them by bare name into
the bodies of the top-level package defs they name; see
``test_package_names_are_reached_from_an_entry_point``.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "crypto_trading_data_pipeline_spark"

ENTRY_POINTS = [
    REPO / "__spark_entry__.py",
    REPO / PKG / "__main__.py",
    REPO / "bench.py",
    *sorted(p for p in (REPO / "perfbench").glob("*.py") if not p.name.startswith("test_")),
    *sorted((REPO / "scripts").glob("*.py")),
]

#: Package modules no entry point imports, each kept on purpose.
UNREACHED = {
    "ingest": "the reference producer/producer.py analog (websocket frame to Kafka record)",
}

#: Top-level package names no entry point reaches, each kept on purpose with
#: the reference ``file:line`` it rebuilds. They are the reference's own
#: runtime, which needs a broker or a database that no entry point here
#: runs. They count as roots, so the helpers only they call need no entry.
UNREACHED_NAMES = {
    "ingest.run_producer": "the producer loop, reference producer/producer.py:14-115",
    "sources.kafka_stream": "the Kafka source, reference spark_processor/processor.py:54-60",
    "streaming.sinks.JdbcUpsertSink": (
        "the Postgres upsert, reference spark_processor/processor.py:116-172 and init.sql"
    ),
    "monitor.freshness_ok": "the freshness check, reference crypto_pipeline_monitor_dag.py:22-28",
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imports(path: Path) -> set[str]:
    """Absolute dotted names each import in ``path`` may load: the module,
    and for ``from m import x`` also ``m.x`` in case ``x`` is a submodule."""
    name = _module_name(path)
    package = name.split(".") if path.name == "__init__.py" else name.split(".")[:-1]
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package[: len(package) - node.level + 1]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module
            out.add(mod)
            out.update(f"{mod}.{a.name}" for a in node.names)
    return out


def _reached_modules() -> tuple[dict[str, Path], set[str]]:
    modules = {_module_name(p): p for p in (REPO / PKG).rglob("*.py")}
    reached = {_module_name(p) for p in ENTRY_POINTS}
    todo = list(ENTRY_POINTS)
    while todo:
        for imported in _imports(todo.pop()):
            parts = imported.split(".")
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in modules and mod not in reached:
                    reached.add(mod)
                    todo.append(modules[mod])
    return modules, reached


def test_package_modules_are_reached_from_an_entry_point():
    modules, reached = _reached_modules()
    unreached = {m.removeprefix(PKG + ".") for m in set(modules) - reached}
    assert unreached == set(UNREACHED)


def _identifiers(node: ast.AST) -> set[str]:
    """Every ``Name`` and ``Attribute`` identifier, every ``from … import``
    alias and every identifier-shaped string constant under ``node``.
    Strings count because callers name things by string: ``bench.py``
    lists its queries by name."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out.add(n.value)
    return out


def _bound_names(stmt: ast.stmt) -> list[str]:
    """The top-level names a module-level statement defines, if any."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = (
        stmt.targets if isinstance(stmt, ast.Assign)
        else [stmt.target] if isinstance(stmt, ast.AnnAssign) else []
    )
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


def _is_query(stmt: ast.stmt) -> bool:
    return isinstance(stmt, ast.FunctionDef) and any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
        for d in stmt.decorator_list
    )


def _reach(defs: dict[str, list[ast.stmt]], by_bare: dict[str, set[str]],
           roots: list[ast.AST]) -> set[str]:
    """Qualified top-level names reached from ``roots``: an identifier
    reaches every package def of that bare name, whose body is then walked.
    Following by bare name over-approximates, so the gate can miss a dead
    name that shares its spelling with a live one, but never flags a live
    one."""
    reached: set[str] = set()
    todo = list(roots)
    while todo:
        for ident in _identifiers(todo.pop()):
            for qual in by_bare.get(ident, ()):
                if qual not in reached:
                    reached.add(qual)
                    todo.extend(defs[qual])
    return reached


def test_package_names_are_reached_from_an_entry_point():
    """Roots: the whole of each entry point, and in every reached package
    module the statements that bind no name plus the ``@query`` functions,
    because importing the module runs the first and ``REGISTRY`` the second.
    ``import`` statements inside the package are bindings, not uses, so an
    unused import keeps nothing alive; an ``as`` alias is followed back to
    the name it binds."""
    modules, reached_mods = _reached_modules()
    defs: dict[str, list[ast.stmt]] = {}
    by_bare: dict[str, set[str]] = {}
    aliases: list[tuple[str, str]] = []
    roots: list[ast.AST] = [ast.parse(p.read_text()) for p in ENTRY_POINTS]
    for mod, path in modules.items():
        short = mod.removeprefix(PKG).lstrip(".")
        for stmt in ast.parse(path.read_text()).body:
            names = _bound_names(stmt)
            for name in names:
                qual = f"{short}.{name}" if short else name
                defs.setdefault(qual, []).append(stmt)
                by_bare.setdefault(name, set()).add(qual)
            if isinstance(stmt, ast.ImportFrom):
                aliases.extend((a.asname, a.name) for a in stmt.names if a.asname)
            elif mod in reached_mods and (_is_query(stmt) or not (
                names or isinstance(stmt, ast.Import)
            )):
                roots.append(stmt)
    for asname, name in aliases:
        by_bare.setdefault(asname, set()).update(by_bare.get(name, ()))

    reached = _reach(defs, by_bare, roots)
    kept = [stmt for q in UNREACHED_NAMES for stmt in defs.get(q, [])]
    helpers = _reach(defs, by_bare, roots + kept) - reached - set(UNREACHED_NAMES)
    unreached = set(defs) - reached - helpers
    assert unreached == set(UNREACHED_NAMES), (
        f"unreached, not listed: {sorted(unreached - set(UNREACHED_NAMES))}; "
        f"listed, but reached or gone: {sorted(set(UNREACHED_NAMES) - unreached)}"
    )
    for name, reason in UNREACHED_NAMES.items():
        assert re.search(r"\w\.\w+:\d+", reason), f"{name}: reason names no reference file:line"
