"""Local stand-in for the driver's correctness gate.

Runs every __spark_entry__.queries() entry and its oracle_sql() twin on the
same sf dir, in the engine's session (`engine_session`, local cores from
$SPARK_GRAFT_CPUS), sorts columns by name and rows by value, and compares
the row multisets after canonical normalization (the strictest plausible
form of a value-hash comparison). Each column's type family must match
too (Spark schema against the oracle relation's DuckDB types): a value
fetched as a Python int reads the same from BIGINT and HUGEINT, while a
hash over a pandas frame does not. A mismatch prints the first oracle
row Spark lacks and the first Spark row the oracle lacks. Exit 1 on any
mismatch.

Usage: python tools/crosscheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
from collections import Counter
from datetime import date, datetime

import duckdb

sys.path.insert(0, ".")
import __spark_entry__ as entrymod

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    return str(v)


# Type family per DuckDB type id and per Spark typeName(). HUGEINT and
# the unsigned 64/128-bit types have no Spark counterpart (pandas reads
# HUGEINT as float64), so they get a family no Spark type maps to.
_DUCK_FAMILY = {
    "tinyint": "int", "smallint": "int", "integer": "int", "bigint": "int",
    "utinyint": "int", "usmallint": "int", "uinteger": "int",
    "hugeint": "int128", "uhugeint": "int128", "ubigint": "int128",
    "float": "float", "double": "float", "decimal": "decimal",
    "varchar": "string", "boolean": "bool", "date": "date",
    "timestamp": "timestamp", "timestamp with time zone": "timestamp",
    "timestamp_ms": "timestamp", "timestamp_s": "timestamp",
    "timestamp_ns": "timestamp", "blob": "binary", "list": "list",
    "struct": "struct", "map": "map",
}
_SPARK_FAMILY = {
    "byte": "int", "short": "int", "integer": "int", "long": "int",
    "float": "float", "double": "float", "decimal": "decimal",
    "string": "string", "varchar": "string", "char": "string",
    "boolean": "bool", "date": "date", "timestamp": "timestamp",
    "timestamp_ntz": "timestamp", "binary": "binary", "array": "list",
    "struct": "struct", "map": "map",
}


def spark_families(schema) -> dict:
    out = {}
    for f in schema.fields:
        t = f.dataType.typeName()
        out[f.name] = _SPARK_FAMILY.get(t, t)
    return out


def duck_families(rel) -> dict:
    return {c: _DUCK_FAMILY.get(t.id, t.id) for c, t in zip(rel.columns, rel.types)}


def frame_to_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon(r[i]) for i in order) for r in rows]
    out.sort()
    return [cols[i] for i in order], out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from kamu_engine_flink_spark.session import engine_session

    # The engine's own session (local[$SPARK_GRAFT_CPUS], its shuffle
    # partitions, UTC, AQE): entries run under the settings they ship with.
    spark = engine_session(app_name="crosscheck")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            s_cols = df.columns
            s_types = spark_families(df.schema)
            s_rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"pass {name}: rows-only ({len(s_rows)} rows, no oracle)")
            continue
        try:
            rel = con.sql(oracles[name])
            d_cols = rel.columns
            d_types = duck_families(rel)
            d_rows = rel.fetchall()
        except Exception as e:
            failures.append((name, f"ORACLE ERROR: {e}"))
            print(f"FAIL {name}: oracle error: {e}")
            continue
        sc, sr = frame_to_rows(s_cols, s_rows)
        dc, dr = frame_to_rows(d_cols, d_rows)
        if sc != dc:
            failures.append((name, f"columns {sc} vs {dc}"))
            print(f"FAIL {name}: columns {sc} vs {dc}")
            continue
        bad_types = {
            c: (s_types[c], d_types[c]) for c in sc if s_types[c] != d_types[c]
        }
        if bad_types:
            failures.append((name, f"type families (spark, oracle) {bad_types}"))
            print(f"FAIL {name}: type families (spark, oracle) {bad_types}")
            continue
        missing = list((Counter(dr) - Counter(sr)).elements())
        extra = list((Counter(sr) - Counter(dr)).elements())
        if missing or extra:
            failures.append((name, f"{len(missing)} missing, {len(extra)} extra rows"))
            print(
                f"FAIL {name}: {len(missing)} missing / {len(extra)} extra of "
                f"{len(dr)} rows; cols={sc}\n  first missing={missing[:1]}"
                f"\n  first extra  ={extra[:1]}"
            )
            continue
        print(f"PASS {name}: {len(sr)} rows exact")
    print(f"\n{len(failures)} failures" if failures else "\nALL PASS")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
