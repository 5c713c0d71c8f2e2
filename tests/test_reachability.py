"""Every package module, every top-level name in it and every parameter
of its functions is reached from a program entry point, or is named here
with the reason it stays. Code only tests reach is code no pipeline, bench
or script runs; it has to earn a line in ``UNREACHED``, ``UNREACHED_NAMES``
or ``KEPT_OPTIONS``.

All three walks are static. The module walk follows every ``import``
statement (at any depth in a file, so function-level imports count) from
the entry points into the package, and importing ``a.b.c`` reaches ``a``
and ``a.b`` too. The name walk collects identifiers and follows them by
bare name into the bodies of the top-level package defs they name; see
``test_package_names_are_reached_from_an_entry_point``. The option walk
matches every call in an entry point or the package to the functions of
its bare name and asks which defaulted parameters it passes a value other
than the default, and which parameters, defaulted or required, all calls
pass one constant; see ``test_package_options_are_reached_from_an_entry_point``.
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

#: Package parameters that are one value in use (see
#: ``test_package_options_are_reached_from_an_entry_point``), each kept on
#: purpose. A reason is one of three kinds: a deployment setting (an
#: address, a path, a credential or a class name), a test seam (a test
#: substitutes a fake, reads a safety counter or drives an error path
#: through it), or the driver window: inlining it would change the code of
#: queries that then wait past the 50 the driver re-checks per round (see
#: ``queries/__init__.py``); the entry and this reason kind go once those
#: queries have driver rows again.
KEPT_OPTIONS = {
    "operators.graph.connected_components(max_iter)": (
        "test seam: a short budget drives the non-convergence RuntimeError"
    ),
    "operators.dedup.exact_dedup(order_col)": (
        "driver window: inlining it changes q_dedup_exact, q_dedup_norm and "
        "q_dedup_incremental"
    ),
    "operators.multimodal.extract_image_features(decoder)": (
        "test seam: tests swap in the PIL and raw-RGB decoders and a fake"
    ),
    "operators.scale.exact_global_rank(tiebreak_col)": (
        "driver window: inlining it changes q_lorenz and q_rfm_segments"
    ),
    "pipelines.corpus_prep(observation)": (
        "test seam: tests read the survivor and split counts through an Observation"
    ),
    "queries.dedup_advanced._lsh_candidate_pairs(observation)": (
        "test seam: tests read the bucket-cap truncation counter through an Observation"
    ),
    "queries.dedup_advanced.neardup_incremental(observation)": (
        "test seam: tests read the bucket-cap truncation counter through an Observation"
    ),
    "queries.dedup_advanced.semdedup_flags(observation)": (
        "test seam: tests read the cluster-skew counters through an Observation"
    ),
    "queries.llmdata._bpe_train(n_merges)": (
        "driver window: inlining it changes q_bpe_merges, q_bpe_tokenize and q_bpe_fertility"
    ),
    "streaming.sinks.ParquetUpsertSink.__init__(keys)": (
        "test seam: the crash and recovery tests drive the sink's failure paths on a (k, ord) table"
    ),
    "streaming.sinks.ParquetUpsertSink.__init__(order_col)": (
        "test seam: the crash and recovery tests drive the sink's failure paths on a (k, ord) table"
    ),
    "submit.submit_with_retry(health_check)": "test seam: tests substitute a fake probe",
    "submit.submit_with_retry(runner)": "test seam: tests substitute a fake spark-submit",
    "submit.submit_with_retry(sleep)": "test seam: tests record the backoff instead of sleeping",
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
    """Every ``Name`` and ``Attribute`` identifier and every
    identifier-shaped string constant under ``node``. Strings count because
    callers name things by string: ``bench.py`` lists its queries by name.
    A ``from … import`` alias is a binding, not a use, wherever it sits, so
    a name imported and never used keeps nothing alive."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
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


def _package() -> tuple[dict[str, ast.Module], dict[str, list[ast.stmt]],
                        dict[str, set[str]], list[ast.AST]]:
    """The walk both name-level gates share: every package module parsed
    once, its top-level defs by qualified and by bare name (an ``as`` alias
    stands for the name it binds), and the name walk's roots."""
    modules, reached_mods = _reached_modules()
    trees = {mod: ast.parse(path.read_text()) for mod, path in modules.items()}
    defs: dict[str, list[ast.stmt]] = {}
    by_bare: dict[str, set[str]] = {}
    aliases: list[tuple[str, str]] = []
    roots: list[ast.AST] = [ast.parse(p.read_text()) for p in ENTRY_POINTS]
    for mod, tree in trees.items():
        short = mod.removeprefix(PKG).lstrip(".")
        for stmt in tree.body:
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
    return trees, defs, by_bare, roots


def test_package_names_are_reached_from_an_entry_point():
    """Roots: the whole of each entry point, and in every reached package
    module the statements that bind no name plus the ``@query`` functions,
    because importing the module runs the first and ``REGISTRY`` the second.
    ``import`` statements, in the package or an entry point, at module
    level or inside a function, are bindings, not uses, so an unused import
    keeps nothing alive; an ``as`` alias is followed back to the name it
    binds."""
    _, defs, by_bare, roots = _package()
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


def _options(tree: ast.Module, short: str, exempt: set[int]):
    """``(key, bare name, fn, skip, param, default)`` for every parameter of
    every function or method in ``tree``, nested ones too, except the
    ``self`` or ``cls`` a call binds implicitly; ``default`` is ``None`` for
    a required one. ``bare`` is the name a call spells: the class name for
    ``__init__``. ``skip`` is 1 where a call binds ``self`` or ``cls``
    implicitly."""
    def walk(body, prefix, cls):
        for stmt in body:
            if isinstance(stmt, ast.ClassDef):
                yield from walk(stmt.body, f"{prefix}{stmt.name}.", stmt.name)
            elif isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield stmt, prefix, cls
                yield from walk(stmt.body, f"{prefix}{stmt.name}.", None)
            else:
                for field in ("body", "orelse", "finalbody", "handlers"):
                    yield from walk(getattr(stmt, field, []), prefix, cls)

    for fn, prefix, cls in walk(tree.body, "", None):
        if id(fn) in exempt:
            continue
        bare = cls if cls and fn.name == "__init__" else fn.name
        static = any(getattr(d, "id", None) == "staticmethod" for d in fn.decorator_list)
        skip = int(bool(cls) and not static)
        a = fn.args
        positional = a.posonlyargs + a.args
        defaults = [None] * (len(positional) - len(a.defaults)) + a.defaults
        pairs = list(zip(positional, defaults))[skip:] + list(zip(a.kwonlyargs, a.kw_defaults))
        for p, d in pairs:
            yield f"{short}.{prefix}{fn.name}({p.arg})", bare, fn, skip, p, d


#: ``_bound``'s answer for a call whose ``*args`` or ``**kwargs`` may carry
#: the parameter.
_STARRED = ast.Starred()


def _bound(call: ast.Call, fn: ast.FunctionDef, skip: int, p: ast.arg):
    """The expression ``call`` binds ``p`` to, ``None`` where it leaves ``p``
    at its default or unbound, or ``_STARRED`` where a ``*args`` or
    ``**kwargs`` may carry it."""
    for kw in call.keywords:
        if kw.arg is None:
            return _STARRED
        if kw.arg == p.arg:
            return kw.value
    positional = fn.args.posonlyargs + fn.args.args
    if p not in positional:
        return None
    i = positional.index(p) - skip
    for j, arg in enumerate(call.args[: i + 1]):
        if isinstance(arg, ast.Starred):
            return _STARRED
        if j == i:
            return arg
    return None


def _module_names(tree: ast.Module) -> set[str]:
    """The names a module's top-level statements bind, imports included."""
    out: set[str] = set()
    for stmt in tree.body:
        out.update(_bound_names(stmt))
        if isinstance(stmt, (ast.Import, ast.ImportFrom)):
            out.update((a.asname or a.name).partition(".")[0] for a in stmt.names)
    return out


#: The nodes a constant spelling is built from besides names: literals, and
#: the operators and containers that combine them.
_CONSTANT_NODES = (
    ast.Constant, ast.BinOp, ast.UnaryOp, ast.Tuple, ast.List, ast.Dict, ast.Set,
    ast.operator, ast.unaryop, ast.expr_context,
)


def _constant(expr: ast.expr, names: set[str]) -> bool:
    """Whether ``expr`` is built only from literals and ``names``."""
    return all(
        n.id in names if isinstance(n, ast.Name) else isinstance(n, _CONSTANT_NODES)
        for n in ast.walk(expr)
    )


def test_package_options_are_reached_from_an_entry_point():
    """A defaulted parameter of a package function or method is reached when
    a call site in an entry point or in the package passes it, by keyword or
    by position, a value whose source text differs from the default's, and
    the calls do not all pass it one constant. A required parameter is
    reached unless some call matches and the calls all pass it one
    constant; one that no call matches is passed as a value (a ``@query``
    function, a ``foreachBatch`` writer) and stays. Calls match by bare name,
    through the name walk's ``as`` aliases; a class name stands for its
    ``__init__``; a ``*args`` or ``**kwargs`` at a call site reaches every
    parameter it could carry. The calls pass one constant when every call
    that matches binds the parameter, all spell it the same way, and that
    spelling is built only from literals and names the calling module binds
    at its top level. The ``UNREACHED_NAMES`` roots are the reference's own
    runtime, so their parameters are exempt. Every other unreached
    parameter is one value in use: inline it, or keep it in
    ``KEPT_OPTIONS`` as a deployment setting, a test seam or a driver-window
    deferral."""
    trees, defs, by_bare, _ = _package()
    exempt = {id(n) for q in UNREACHED_NAMES for s in defs.get(q, []) for n in ast.walk(s)}
    options: dict[str, list] = {}
    for mod, tree in trees.items():
        for key, bare, *rest in _options(tree, mod.removeprefix(PKG).lstrip("."), exempt):
            options.setdefault(bare, []).append((key, *rest))
    # The def names a call name may stand for: its own, or the one an ``as``
    # alias binds.
    spelled = {bare: {bare} for bare in options}
    for bare, quals in by_bare.items():
        for qual in quals:
            name = qual.rpartition(".")[2]
            if name != bare and name in options:
                spelled.setdefault(bare, set()).add(name)
    sites = [*trees.values(), *(ast.parse(p.read_text()) for p in ENTRY_POINTS)]
    # Per parameter: whether some call passes a defaulted one a value unlike
    # its default, and the spellings of every call's binding (``None`` for
    # one that binds it to no constant).
    differs: set[str] = set()
    spellings: dict[str, set[str | None]] = {}
    for site in sites:
        names = _module_names(site)
        for call in ast.walk(site):
            if not isinstance(call, ast.Call):
                continue
            name = getattr(call.func, "id", None) or getattr(call.func, "attr", None)
            for bare in spelled.get(name, ()):
                for key, fn, skip, p, default in options[bare]:
                    value = _bound(call, fn, skip, p)
                    if value is _STARRED or (
                        value is not None and default is not None
                        and ast.unparse(value) != ast.unparse(default)
                    ):
                        differs.add(key)
                    spellings.setdefault(key, set()).add(
                        ast.unparse(value)
                        if value not in (None, _STARRED) and _constant(value, names)
                        else None
                    )
    one_value = {key for key, s in spellings.items() if len(s) == 1 and None not in s}
    unreached = {
        key for opts in options.values() for key, _, _, _, default in opts
        if key in one_value or (default is not None and key not in differs)
    }
    assert unreached == set(KEPT_OPTIONS), (
        f"one value in use, not kept: {sorted(unreached - set(KEPT_OPTIONS))}; "
        f"kept, but reached or gone: {sorted(set(KEPT_OPTIONS) - unreached)}"
    )
    for key, reason in KEPT_OPTIONS.items():
        assert reason.startswith(("deployment setting: ", "test seam: ", "driver window: ")), key
