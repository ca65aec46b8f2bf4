"""No package def is kept only for its tests, and no option only in case.

A name-based, transitive AST scan over the source (stdlib only, no
Spark). Program roots are every non-def top-level statement of a package
module (``__init__`` re-exports excepted), every ``@register`` query,
``tools/``, ``perfbench/`` without its tests, ``bench.py`` and
``__spark_entry__.py``. A reached def reaches every name its body
mentions. A top-level package def that no root reaches is either deleted
or listed in ``KEEP`` with the reason it stays.

The second scan covers the optional parameters of top-level package defs
and class methods. Every call in the package, the programs and the tests
is matched to the defs of the same name. A parameter is set when some
call passes it, unless the call passes the default's own literal or
passes through an unset parameter of the enclosing def with the same
default. An option no call sets is a constant: its default belongs in
the body. The parameters of ``KEEP`` defs and ``KEEP_OPTIONS`` are
exempt.
"""
from __future__ import annotations

import ast
from collections import defaultdict
from functools import cache
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "openedx_event_sink_clickhouse_spark"

KEEP = {
    "operators.similarity.kmeans_centroids":
        "the production IVF centroid fit; the IVF queries take the "
        "oracle-replicable first-k model instead",
    "operators.dedup.dedup_corpus":
        "the composed near-dup flow that the dedup queries serve in "
        "oracle-checkable steps",
    "operators.dedup.incremental_dedup_corpus":
        "the composed incremental near-dup flow, as above",
    "sources.jdbc.jdbc_table":
        "the JDBC source adapter, a deployment input",
    "sources.jdbc.load_model_table":
        "the JDBC adapter's model-name lookup, a deployment input",
    "streaming.sources.decode_kafka_publish_events":
        "the Kafka publish source's decoder, a deployment input",
    "streaming.sources.kafka_publish_stream":
        "the Kafka publish source; needs the spark-sql-kafka connector",
    "operators.zorder.write_zordered":
        "the Morton-clustered parquet writer for zorder_key",
    "operators.zorder._normalize":
        "write_zordered's min-max column scaler",
}

KEEP_OPTIONS = {
    "streaming.sources.kafka_publish_stream.starting_offsets":
        "where a deployment's Kafka publish stream starts reading",
    "cli.main.argv":
        "the console entry point reads sys.argv when no list is passed",
}


def _mentions(node: ast.AST) -> set[str]:
    """Every name a node could reach: bare names, attribute names and
    imported names."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, (ast.Import, ast.ImportFrom)):
            out.update(a.name.rsplit(".", 1)[-1] for a in n.names)
    return out


def _is_register(dec: ast.expr) -> bool:
    f = dec.func if isinstance(dec, ast.Call) else dec
    return isinstance(f, ast.Name) and f.id == "register"


@cache
def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _modules() -> list[tuple[str, ast.Module]]:
    return [(".".join(path.relative_to(PKG).with_suffix("").parts),
             _parse(path)) for path in sorted(PKG.rglob("*.py"))]


def unreached_defs() -> dict[str, int]:
    """Top-level package defs no program root reaches, mapped to their
    line counts."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: set[str] = set()
    for mod, tree in _modules():
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                defs.setdefault(stmt.name, []).append(
                    (f"{mod}.{stmt.name}", stmt))
                for dec in stmt.decorator_list:
                    roots |= _mentions(dec)
                    if _is_register(dec):
                        roots.add(stmt.name)
            elif not (mod.split(".")[-1] == "__init__"
                      and isinstance(stmt, ast.ImportFrom)):
                roots |= _mentions(stmt)
    programs = [ROOT / "bench.py", ROOT / "__spark_entry__.py",
                *sorted((ROOT / "tools").glob("*.py")),
                *(p for p in sorted((ROOT / "perfbench").rglob("*.py"))
                  if "tests" not in p.relative_to(ROOT).parts)]
    for path in programs:
        roots |= _mentions(_parse(path))

    reached: set[str] = set()
    todo = list(roots)
    seen = set(todo)
    while todo:
        for qual, node in defs.get(todo.pop(), ()):
            if qual in reached:
                continue
            reached.add(qual)
            for name in _mentions(node) - seen:
                seen.add(name)
                todo.append(name)
    return {qual: node.end_lineno - node.lineno + 1
            for group in defs.values() for qual, node in group
            if qual not in reached}


def test_every_package_def_is_reached_from_a_program_or_kept():
    unreached = unreached_defs()
    extra = sorted(set(unreached) - set(KEEP))
    assert not extra, (
        "package defs no program reaches; delete them with their tests "
        f"or add them to KEEP with a reason: {extra}")
    stale = sorted(set(KEEP) - set(unreached))
    assert not stale, f"KEEP entries that are gone or now reached: {stale}"
    assert all(reason.strip() for reason in KEEP.values())


def _options(fn: ast.FunctionDef) -> list[tuple[str, int | None, ast.expr]]:
    """(name, positional index or None, default) per optional param."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    return ([(arg.arg, first + i, d)
             for i, (arg, d) in enumerate(zip(pos[first:], a.defaults))]
            + [(arg.arg, None, d)
               for arg, d in zip(a.kwonlyargs, a.kw_defaults)
               if d is not None])


def _callables() -> dict[str, tuple[str, bool, ast.FunctionDef]]:
    """qualname -> (name a call uses, takes self, def) for every
    top-level def and class method; ``Cls(...)`` calls ``__init__``."""
    out = {}
    for mod, tree in _modules():
        for stmt in tree.body:
            if isinstance(stmt, ast.FunctionDef):
                out[f"{mod}.{stmt.name}"] = (stmt.name, False, stmt)
            elif isinstance(stmt, ast.ClassDef):
                for m in stmt.body:
                    if isinstance(m, ast.FunctionDef):
                        static = any(isinstance(d, ast.Name)
                                     and d.id == "staticmethod"
                                     for d in m.decorator_list)
                        name = stmt.name if m.name == "__init__" else m.name
                        out[f"{mod}.{stmt.name}.{m.name}"] = (
                            name, not static, m)
    return out


def option_scan() -> tuple[list[str], list[str]]:
    """(every optional parameter as ``module.def.param``, the ones no
    caller sets and nothing exempts)."""
    defs = _callables()
    by_name = defaultdict(list)
    for qual, (name, _, _) in defs.items():
        by_name[name].append(qual)
    enclosing = {fn: qual for qual, (_, _, fn) in defs.items()}
    everything = [(qual, p) for qual, (_, _, fn) in defs.items()
                  for p, _, _ in _options(fn)]
    exempt = {(q, p) for q, p in everything
              if f"{q}.{p}" in KEEP_OPTIONS
              or any(q == k or q.startswith(k + ".") for k in KEEP)}
    # (def, param) -> conditions under which some call sets it: None
    # always, (enclosing def, param) when that option is itself set
    sets = defaultdict(list)

    def visit(node: ast.AST, encl: ast.AST | None) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.Lambda)):
            encl = node
        if isinstance(node, ast.Call):
            call(node, encl)
        for child in ast.iter_child_nodes(node):
            visit(child, encl)

    def call(node: ast.Call, encl: ast.AST | None) -> None:
        f = node.func
        if isinstance(f, ast.Name):
            name, attr = f.id, False
        elif isinstance(f, ast.Attribute):
            name, attr = f.attr, True
        else:
            return
        star = (any(isinstance(a, ast.Starred) for a in node.args)
                or any(k.arg is None for k in node.keywords))
        outer = ({p: d for p, _, d in _options(encl)}
                 if encl in enclosing else {})
        for qual in by_name.get(name, ()):
            _, method, fn = defs[qual]
            skip = 1 if method and (attr or fn.name == "__init__") else 0
            for p, i, default in _options(fn):
                if star:
                    sets[(qual, p)].append(None)
                    continue
                val = next((k.value for k in node.keywords if k.arg == p),
                           None)
                if (val is None and i is not None
                        and 0 <= i - skip < len(node.args)):
                    val = node.args[i - skip]
                if val is None or ast.dump(val) == ast.dump(default):
                    continue
                if (isinstance(val, ast.Name) and val.id in outer
                        and ast.dump(outer[val.id]) == ast.dump(default)):
                    sets[(qual, p)].append((enclosing[encl], val.id))
                else:
                    sets[(qual, p)].append(None)

    callers = [*sorted(PKG.rglob("*.py")), ROOT / "bench.py",
               ROOT / "__spark_entry__.py",
               *sorted((ROOT / "tools").glob("*.py")),
               *sorted((ROOT / "perfbench").rglob("*.py")),
               *sorted((ROOT / "tests").rglob("*.py"))]
    for path in callers:
        visit(_parse(path), None)
    is_set = set(exempt)
    grew = True
    while grew:
        grew = False
        for key, conds in sets.items():
            if key not in is_set and any(c is None or c in is_set
                                         for c in conds):
                is_set.add(key)
                grew = True
    return ([f"{q}.{p}" for q, p in everything],
            [f"{q}.{p}" for q, p in everything if (q, p) not in is_set])


def test_every_package_option_is_set_by_a_caller_or_kept():
    options, unset = option_scan()
    assert not unset, (
        f"{len(unset)} of {len(options)} optional parameters are set by "
        "no call; substitute each default into the body (dropping the "
        "branches only another value reaches) or add it to KEEP_OPTIONS "
        f"with a reason: {unset}")
    stale = sorted(set(KEEP_OPTIONS) - set(options))
    assert not stale, f"KEEP_OPTIONS entries that are gone: {stale}"
    assert all(reason.strip() for reason in KEEP_OPTIONS.values())
