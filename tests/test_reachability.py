"""No package def is kept only for its tests.

A name-based, transitive AST scan over the source (stdlib only, no
Spark). Program roots are every non-def top-level statement of a package
module (``__init__`` re-exports excepted), every ``@register`` query,
``tools/``, ``perfbench/`` without its tests, ``bench.py`` and
``__spark_entry__.py``. A reached def reaches every name its body
mentions. A top-level package def that no root reaches is either deleted
or listed in ``KEEP`` with the reason it stays.
"""
from __future__ import annotations

import ast
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


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def unreached_defs() -> dict[str, int]:
    """Top-level package defs no program root reaches, mapped to their
    line counts."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        mod = ".".join(path.relative_to(PKG).with_suffix("").parts)
        for stmt in _parse(path).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                defs.setdefault(stmt.name, []).append(
                    (f"{mod}.{stmt.name}", stmt))
                for dec in stmt.decorator_list:
                    roots |= _mentions(dec)
                    if _is_register(dec):
                        roots.add(stmt.name)
            elif not (path.name == "__init__.py"
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
