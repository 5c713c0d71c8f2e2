"""Every package module is imported from a program entry point, or is
named here with the reason it stays. A module only tests import is code no
pipeline, bench or script runs; it has to earn a line in ``UNREACHED``.

The walk is static: it follows every ``import`` statement (at any depth in a
file, so function-level imports count) from the entry points into the
package, and importing ``a.b.c`` reaches ``a`` and ``a.b`` too.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "crypto_trading_data_pipeline_spark"

ENTRY_POINTS = [
    REPO / "__spark_entry__.py",
    REPO / PKG / "__main__.py",
    REPO / "bench.py",
    *sorted((REPO / "perfbench").glob("*.py")),
    *sorted((REPO / "scripts").glob("*.py")),
]

#: Package modules no entry point imports, each kept on purpose.
UNREACHED = {
    "ingest": "the reference producer/producer.py analog (websocket frame to Kafka record)",
    "streaming.stateful": "the one custom-state operator, running_trade_stats on the trade schema",
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


def test_package_modules_are_reached_from_an_entry_point():
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
    unreached = {m.removeprefix(PKG + ".") for m in set(modules) - reached}
    assert unreached == set(UNREACHED)
