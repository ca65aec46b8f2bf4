"""Cross-engine deterministic hashing.

Spark's ``hash``/``xxhash64`` and DuckDB's ``hash`` use different algorithms,
so any operator whose OUTPUT depends on hash values (minhash signatures,
simhash fingerprints, LSH bucket ids) would be un-oracle-able with them.
md5 is bit-identical everywhere, so we derive integer hashes from md5 hex
prefixes. Entirely JVM-side in Spark (``md5``/``conv``/``substring`` are
codegen'd built-ins — no Python UDF), and plain SQL in DuckDB:

    Spark : CAST(CONV(SUBSTRING(md5(s), 1, 8), 16, 10) AS BIGINT)
    DuckDB: CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)

md5 is ~3x slower than xxhash64; for production (no oracle constraint) every
call site takes a ``hash_fn`` hook so xxhash64 can be swapped in.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_hash32(col: Column, seed: int = 0) -> Column:
    """Deterministic 32-bit unsigned hash (as BIGINT 0..2^32-1) of a string
    column. ``seed`` yields independent hash families for minhash."""
    s = F.concat(col.cast("string"), F.lit(f"#{seed}")) if seed else col.cast("string")
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint")


def md5_hash64(col: Column, seed: int = 0) -> Column:
    """Deterministic 63-bit hash (non-negative BIGINT) of a string column.
    15 hex digits = 60 bits, always < 2^63 so the cast never overflows."""
    s = F.concat(col.cast("string"), F.lit(f"#{seed}")) if seed else col.cast("string")
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


def md5_hash32_sql(expr: str, seed: int = 0) -> str:
    """DuckDB SQL text computing the same value as :func:`md5_hash32`."""
    s = f"({expr} || '#{seed}')" if seed else f"CAST({expr} AS VARCHAR)"
    return f"CAST('0x' || substr(md5({s}), 1, 8) AS BIGINT)"


def md5_hash64_sql(expr: str) -> str:
    """DuckDB SQL text computing the same value as :func:`md5_hash64`."""
    return (f"CAST('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 15) "
            "AS BIGINT)")
