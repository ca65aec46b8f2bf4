"""K1 — ClickHouse CSV wire-format encoding, as one SQL expression.

The reference serializes rows with ``csv.writer(QUOTE_NONNUMERIC)`` over
``dict.values()`` (``sinks/base_sink.py:265-272``): every non-numeric field
is double-quoted (embedded quotes doubled), numeric fields are bare, a
``None`` of any type is ``""``, column order is positional. Re-expressed
as a single ``concat_ws`` projection so encoding runs JVM-side inside
codegen on the executors — the driver never touches row data, which is
what lets one INSERT stream per partition scale to arbitrary table sizes.

The line is generated as SQL text from ``df.schema`` and handed to one
``selectExpr``, not composed from Column objects: in PySpark 4.1 every
Column function or method is a py4j round trip plus a call-site capture
(``pyspark/errors/utils.py``), so a Column-built line costs several
driver round trips per column, paid on every backfill table and every
publish ``insert_df``. The SQL text costs one ``selectExpr``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions.derivations import quote_ident

NUMERIC_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                 T.FloatType, T.DoubleType, T.DecimalType, T.BooleanType)

# csv.writer writes None as a quoted empty field, whatever the column type
_NULL = "'\"\"'"


def _quoted(text: str) -> str:
    return f"""concat('"', {text}, '"')"""


def _encode_field(col: str, dtype: T.DataType) -> str:
    if isinstance(dtype, T.BooleanType):
        # python csv writes bools via str(): True/False, unquoted
        # (bool is numeric for QUOTE_NONNUMERIC purposes)
        return (f"CASE WHEN {col} IS NULL THEN {_NULL} "
                f"WHEN {col} THEN 'True' ELSE 'False' END")
    if isinstance(dtype, NUMERIC_TYPES):
        return f"coalesce(CAST({col} AS STRING), {_NULL})"
    if isinstance(dtype, T.TimestampType):
        # reference wire format is str(tz-aware datetime):
        # "YYYY-MM-DD HH:MM:SS[.ffffff]+00:00" — fractional part omitted
        # when zero, exactly like Python str() (the watermark reader
        # round-trips this via fromisoformat, base_sink.py:328-335).
        # Session timezone is pinned UTC (session.py), so +00:00 is exact.
        micro = f"date_format({col}, 'SSSSSS')"
        text = (f"concat(date_format({col}, 'yyyy-MM-dd HH:mm:ss'), "
                f"CASE WHEN {micro} != '000000' THEN concat('.', {micro}) "
                f"ELSE '' END, '+00:00')")
        return _quoted(f"coalesce({text}, '')")
    # non-numeric → always quoted, embedded quotes doubled; NULL → ""
    return _quoted(f"""regexp_replace(coalesce(CAST({col} AS STRING), ''), '"', '""')""")


def encode_csv_lines(df: DataFrame) -> DataFrame:
    """Encode each row into one ClickHouse-CSV line (QUOTE_NONNUMERIC
    semantics, fields in ``df``'s column order; ``select`` first to pick
    or reorder them). Returns a single-column DataFrame, ``csv_line``."""
    fields = [_encode_field(quote_ident(f.name), f.dataType)
              for f in df.schema.fields]
    return df.selectExpr(f"concat_ws(',', {', '.join(fields)}) AS csv_line")
