"""Derived-column expressions (reference operators P2, P4–P8; P3's
``time_last_dumped`` is a literal the caller stamps).

All pure ``pyspark.sql.functions`` Column expressions — JVM-side, inside
whole-stage codegen, no Python UDFs. Reference citations per function.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def deterministic_dump_id(key: Column) -> Column:
    """P2 — the package's one dump-id form: a uuid-shaped string derived
    from ``key``, so a dump's ids are the same on every run and
    correctness checks can cover the dump_id plumbing. Layout matches uuid
    hex grouping 8-4-4-4-12.

    The reference mints one uuid4 per serializer *instance*, i.e. one per
    dump batch (``event_sink_clickhouse/serializers.py:25-27``); a caller
    that wants that stamps its own literal on the serializers
    (``plans/course_publish``, ``plans/user_sinks``)."""
    h = F.md5(key.cast("string"))
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8), F.substring(h, 9, 4), F.substring(h, 13, 4),
        F.substring(h, 17, 4), F.substring(h, 21, 12),
    )


def deterministic_dump_id_sql(expr: str) -> str:
    """DuckDB SQL equivalent of :func:`deterministic_dump_id`."""
    h = f"md5(CAST({expr} AS VARCHAR))"
    return (f"concat_ws('-', substr({h},1,8), substr({h},9,4), substr({h},13,4), "
            f"substr({h},17,4), substr({h},21,12))")


def quote_ident(name: str) -> str:
    """``name`` as a SQL identifier: backtick-quoted, inner backticks
    doubled, so spaces, dots and backticks in column names are literal."""
    return "`" + name.replace("`", "``") + "`"


def json_pack(*cols: Column | str, **named: Column) -> Column:
    """P4 — pack "extra" fields into a JSON-string column, as the reference
    does for ``course_data_json`` (``serializers.py:131-149``) and
    ``xblock_data_json`` (``sinks/course_published.py:105-112``).

    Typed inner schema → ``to_json(struct(...))``; nulls are kept so the
    key set is stable across rows (the reference always emits every key).
    """
    fields = [F.col(c) if isinstance(c, str) else c for c in cols]
    fields += [c.alias(name) for name, c in named.items()]
    return F.to_json(F.struct(*fields), {"ignoreNullFields": "false"})


def bool_flag(col: Column) -> Column:
    """P5 — bool → 0/1 int flag (``sinks/course_published.py:109-111``)."""
    return F.when(col, 1).otherwise(0).cast("int")


def normalize_apostrophes(col: Column) -> Column:
    """P6 — typographic→ASCII apostrophe on display names
    (``sinks/course_published.py:119``)."""
    return F.translate(col, "’", "'")


def strip_branch_and_version(location: Column) -> Column:
    """P7 — canonical block key: drop ``@branch+...``/``@version`` decorations
    (``sinks/course_published.py:129-137``). The reference round-trips
    through ``course_key.make_usage_key``; textually that removes any
    ``+branch@...`` and ``+version@...`` segments from the serialized key.
    """
    return F.regexp_replace(location, r"\+(branch|version)@[^+]*", "")


def member_flag(col: Column, members: tuple[str, ...]) -> Column:
    """P8 — set-membership 0/1 flag, e.g. ``detached`` block types
    (``sinks/course_published.py:109``, ``utils.py:50-59``)."""
    return F.col(col).isin(list(members)).cast("int") if isinstance(col, str) \
        else col.isin(list(members)).cast("int")


# Block types whose subtree is excluded from the course nav tree
# (reference ``event_sink_clickhouse/utils.py:50-59`` pulls these from the
# xblock registry; the test fixture uses course_info/static_tab/about).
DETACHED_XBLOCK_TYPES = ("course_info", "static_tab", "about")
