"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB at the given scale factor, then compares
row count, column names/types, and an order-insensitive value hash.

Cells normalize via ``tools/strictcmp.strict_cell`` — BITWISE IEEE-754
floats, strictly harsher than any driver normalization. The previous
``%.9g`` float format MASKED last-ulp cross-engine differences (the
r9/r10 lesson: queries passed every local re-run and still hash-red
under the driver); it is retired, per the r11 verdict.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(TOOLS))
sys.path.insert(0, TOOLS)

from strictcmp import strict_cell as norm_cell  # noqa: E402


def table_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    import duckdb
    import __spark_entry__ as entrymod
    from openedx_event_sink_clickhouse_spark.session import get_spark

    args = [a for a in sys.argv[1:]]
    sf_dir = args.pop(0) if args and "/" in args[0] else "/root/testdata/sf0.01"
    spark = get_spark("oracle-check")

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    names = args or list(qs)
    failures = 0
    for name in names:
        try:
            sdf = qs[name](spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"OK?   {name}: rows-only ({len(srows)} rows, no oracle)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rows spark={len(srows)} oracle={len(orows)}")
        if not problems:
            hs, ho = table_hash(srows, scols), table_hash(orows, ocols)
            if hs != ho:
                problems.append(f"hash spark={hs} oracle={ho}")
                so = sorted("\x1f".join(norm_cell(r[i]) for i in
                            sorted(range(len(scols)), key=lambda i: scols[i]))
                            for r in srows)
                oo = sorted("\x1f".join(norm_cell(r[i]) for i in
                            sorted(range(len(ocols)), key=lambda i: ocols[i]))
                            for r in orows)
                for a, b in zip(so, oo):
                    if a != b:
                        problems.append(f"first diff:\n  spark : {a[:300]}\n  oracle: {b[:300]}")
                        break
        if problems:
            failures += 1
            print(f"FAIL  {name}: " + "; ".join(problems))
        else:
            print(f"OK    {name}: {len(srows)} rows match")
    print(f"\n{len(names) - failures}/{len(names)} queries pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
