"""Expected query results from the DuckDB oracle, as order-free digests.

`digest(columns, rows)` is the Python twin of Canon.scala: columns
sorted by name, each value in a typed canonical form (a double by its
IEEE bits), one sha256 per row, the row digests sorted. Like
tools/parity.py it compares values exactly and rows as a multiset; it
does not compare column types.

    python3 perfbench/oracle.py

regenerates perfbench/expected.json: it builds the tables, asks the
benchmark JVM for each key's `SparkEntry.oracleSql`, runs it in DuckDB
and stores the digests with the tables' fingerprint. run.py calls
`compute` itself when the generated tables' fingerprint differs from the
stored one.
"""
import datetime as dt
import decimal
import hashlib
import json
import os
import struct
import sys

import duckdb

EPOCH = dt.datetime(1970, 1, 1)
EPOCH_UTC = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
US = dt.timedelta(microseconds=1)


def _double(v):
    if v != v:
        return "dNaN"
    return "d%016x" % struct.unpack("<Q", struct.pack("<d", v))[0]


def value(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, float):
        return _double(v)
    if isinstance(v, decimal.Decimal):
        return "m" + format(v.normalize(), "f")
    if isinstance(v, str):
        return f"s{len(v.encode())}:{v}"
    if isinstance(v, (bytes, bytearray)):
        return "b" + bytes(v).hex()
    if isinstance(v, dt.datetime):
        base = EPOCH if v.tzinfo is None else EPOCH_UTC
        return f"t{(v - base) // US}"
    if isinstance(v, dt.date):
        return f"D{(v - EPOCH.date()).days}"
    if isinstance(v, dict):
        return "{" + ",".join(value(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    raise TypeError(f"no canonical form for {type(v)}")


def _sha(s):
    return hashlib.sha256(s.encode()).hexdigest()


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    row_digests = sorted(_sha("\x1f".join(value(r[i]) for i in order)) for r in rows)
    return _sha("\x1f".join(columns[i] for i in order) + "\n" + "\n".join(row_digests))


def compute(tables_dir, oracle_sql, table_names):
    """{key: digest} of each oracle query over the parquet tables."""
    con = duckdb.connect()
    for t in table_names:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    out = {}
    for key, sql in oracle_sql.items():
        rel = con.sql(sql)
        out[key] = digest(list(rel.columns), rel.fetchall())
    return out


def main():
    import gen_tables
    import run
    classpath = run.build()
    work = run.workdir("oracle")
    try:
        tables = gen_tables.build(run.TABLE_SF)
        tables_dir = os.path.join(work, "tables")
        os.makedirs(tables_dir)
        gen_tables.write(tables, tables_dir)
        keys = run.oracle_sql(classpath, work)
        digests = compute(tables_dir, keys, gen_tables.TABLES)
        expected = {"sf": run.TABLE_SF, "table_seed": gen_tables.TABLE_SEED,
                    "fingerprint": gen_tables.fingerprint(tables), "digests": digests}
        with open(os.path.join(run.BENCH, "expected.json"), "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"wrote {len(digests)} digests")
    finally:
        run.remove(work)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main()
