"""Local stand-in for the driver's correctness gate.

Runs every __spark_entry__.queries() entry and its oracle_sql() twin on the
same sf dir, in the engine's session (`engine_session`, local cores from
$SPARK_GRAFT_CPUS), sorts columns by name and rows by value, and compares
the row multisets after canonical normalization (the strictest plausible
form of a value-hash comparison). A mismatch prints the first oracle
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
            s_rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"pass {name}: rows-only ({len(s_rows)} rows, no oracle)")
            continue
        try:
            cur = con.execute(oracles[name])
            d_cols = [d[0] for d in cur.description]
            d_rows = cur.fetchall()
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
