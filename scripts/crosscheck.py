"""Driver-mimicking correctness harness: run every queries() entry on
Spark and its oracle_sql() twin on DuckDB at the given SF, compare
row count, column names, and an order-insensitive value hash.

Usage: python scripts/crosscheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as E
from bank_transaction_data_warehouse_spark.session import get_spark
from bank_transaction_data_warehouse_spark.sources.tables import TABLES


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.12g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


_DUCK_TYPE = {
    "BOOLEAN": "bool",
    "TINYINT": "int8",
    "SMALLINT": "int16",
    "INTEGER": "int32",
    "BIGINT": "int64",
    "HUGEINT": "int128",
    "UTINYINT": "uint8",
    "USMALLINT": "uint16",
    "UINTEGER": "uint32",
    "UBIGINT": "uint64",
    "FLOAT": "float32",
    "DOUBLE": "float64",
    "VARCHAR": "string",
    "DATE": "date",
    "TIME": "time",
    "BLOB": "binary",
}

_SPARK_TYPE = {
    "boolean": "bool",
    "tinyint": "int8",
    "smallint": "int16",
    "int": "int32",
    "bigint": "int64",
    "float": "float32",
    "double": "float64",
    "string": "string",
    "date": "date",
    "binary": "binary",
}


def norm_duck_type(t) -> str:
    s = str(t).upper()
    if s.startswith("DECIMAL"):
        return "decimal" + s[len("DECIMAL"):].replace(" ", "")
    if s.startswith("TIMESTAMP"):
        return "timestamp"
    if s.endswith("[]"):
        return f"list<{norm_duck_type(s[:-2])}>"
    return _DUCK_TYPE.get(s, s.lower())


def norm_spark_type(t: str) -> str:
    s = t.lower()
    if s.startswith("decimal"):
        return s.replace(" ", "")
    if s.startswith("timestamp"):
        return "timestamp"
    if s.startswith("array<") and s.endswith(">"):
        return f"list<{norm_spark_type(s[6:-1])}>"
    return _SPARK_TYPE.get(s, s)


def table_sig(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "|".join(norm_cell(r[i]) for i in order) for r in rows
    )
    import hashlib

    return hashlib.md5("\n".join(lines).encode()).hexdigest()


DRIVER_WINDOW = 50  # the driver checks ~the first 50 queries() keys


def check_freshness(query_keys: list[str]) -> list[str]:
    """Driver-row freshness gate: the driver's per-round correctness
    artifact is the only signal this process trusts, and it covers
    only the first ~50 queries() keys — so any key whose newest
    CORRECTNESS_r*.json row is older than one round (or that has no
    row at all: new queries) MUST sit inside the first 50 keys, or it
    silently rots (r12 lost 6 keys to exactly this: a 56-entry window
    cut at 50).  Returns the violating keys."""
    latest, newest = E.correctness_rounds()
    if newest is None:
        return []
    window = set(query_keys[:DRIVER_WINDOW])
    return [
        k
        for k in query_keys
        if latest.get(k, -(10**9)) < newest - 1 and k not in window
    ]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("crosscheck")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = E.queries()
    oracles = E.oracle_sql()
    stale = check_freshness(list(qs))
    if stale:
        print(
            f"FRESHNESS: {len(stale)} key(s) have no driver row newer "
            f"than one round AND sit outside the first {DRIVER_WINDOW} "
            f"queries() keys — rotate them forward: {stale}"
        )
        if not only:
            spark.stop()
            sys.exit(1)
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
            stypes = dict(sdf.dtypes)
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {ex}")
            n_fail += 1
            continue
        # the DRIVER canonicalizes with pandas sort_values over raw
        # cells, which crashes on list/dict cells ('unhashable type')
        # — r11 lost 2 window slots to exactly this.  Reject any
        # non-scalar output column locally so local == driver.
        bad = [
            f"{c}:{t}"
            for c, t in stypes.items()
            if t.startswith(("array<", "map<", "struct<"))
        ]
        if bad:
            print(
                f"FAIL  {name}: non-scalar output column(s) {bad} — the "
                "driver canonicalizer cannot sort these; serialize at the "
                "query boundary (array_join / to_json)"
            )
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle)")
            n_rowsonly += 1
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = list(rel.columns)
            dtypes = dict(zip(dcols, rel.types))
            drows = rel.fetchall()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error: {ex}")
            n_fail += 1
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        else:
            # the driver's value hash is type-sensitive (a HUGEINT sum
            # != the same values as BIGINT) — fail on any output-column
            # type-class mismatch, not just on values
            for c in scols:
                st, dt = norm_spark_type(stypes[c]), norm_duck_type(dtypes[c])
                if st != dt:
                    problems.append(f"type[{c}] spark={st} duck={dt}")
        if len(srows) != len(drows):
            problems.append(f"rows spark={len(srows)} duck={len(drows)}")
        if not problems:
            srow_t = [tuple(r) for r in srows]
            if table_sig(scols, srow_t) != table_sig(dcols, drows):
                problems.append("value-hash mismatch")
                for a, b in list(zip(
                    sorted("|".join(norm_cell(x) for x in r) for r in srow_t),
                    sorted("|".join(norm_cell(x) for x in r) for r in drows),
                ))[:2000]:
                    if a != b:
                        print(f"   spark: {a}\n   duck : {b}")
                        break
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(srows)} rows")
            n_pass += 1
        # release persisted two-consumer frames between queries so the
        # cache never accumulates across a ~100-query session
        spark.catalog.clearCache()
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
