"""Parquet slice source.

The reference reads each input dataset as an ordered vector of parquet
"slice" files streamed row-at-a-time through a vendored vectorized reader
(ParquetFilesStreamSourceFunction.scala:21-113,
ParquetColumnarRowInputFormatKamu.java:48-204 — ~2,130 LoC of Java that
exists only to read int64-millis timestamps). Spark's native vectorized
parquet scan replaces the whole stack; one scan over all of a vector's
files keeps the read parallel at any scale. Row order is physical only
within a row group: a multi-file scan packs file splits by size, so
rows of different files interleave out of list order.
`serial_scan_in_ledger_order` checks on the driver whether a vector is
one file that scans in one task and in ledger (offset) order.

One genuine gap in Spark is INT64 TIMESTAMP(NANOS) parquet columns
(PARQUET_TYPE_ILLEGAL). We read them as raw longs
(spark.sql.legacy.parquet.nanosAsLong=true, set by session.py) and convert
to microsecond timestamps here, truncating exactly like DuckDB does when
it casts ns to its us-precision TIMESTAMP.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# (path, mtime_ns, size) per slice file -> (spark StructType, ns columns).
# A long-lived engine process re-reads the same slice vector every
# invocation (and the bench re-reads it every rep); Spark re-infers the
# schema eagerly on each spark.read.parquet — a driver round trip plus a
# footer-read job (~60-100 ms per input). The ODF contract pins the
# schema per dataset (no evolution), so the inferred schema is a pure
# function of the file identity; mtime+size key invalidates rewrites.
# Metadata-only cache: never caches data or results.
_SCHEMA_CACHE: dict[tuple, tuple] = {}


def _file_key(paths: list[str]) -> tuple | None:
    try:
        return tuple(
            (p, st.st_mtime_ns, st.st_size) for p, st in ((p, os.stat(p)) for p in paths)
        )
    except OSError:
        return None  # non-local / vanished path: skip caching


def _nanos_timestamp_columns(path: str) -> list[str]:
    """Column names whose parquet logical type is TIMESTAMP(NANOS). A ns
    timestamp NESTED inside a struct/list/map is rejected explicitly:
    with nanosAsLong it would silently surface as a raw int64 (no nested
    rewrite exists), and silent epoch-nanos longs corrupt comparisons."""
    schema = pq.read_schema(path)
    out = []
    for name, typ in zip(schema.names, schema.types):
        st = str(typ)
        if st == "timestamp[ns]" or st.startswith("timestamp[ns,"):
            out.append(name)
        elif "timestamp[ns" in st:
            raise ValueError(
                f"column {name!r} nests a TIMESTAMP(NANOS) inside {st}; "
                f"nested ns-timestamps are not supported (top-level ns "
                f"columns are converted exactly)"
            )
    return out


def read_parquet_slices(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Read an ordered vector of parquet slice files as one DataFrame.

    Order is physical only within one row group: Spark reads a row
    group in one task, so a file of one row group comes out in file
    order (pinned by tests/test_ledger_order.py). A file of several row
    groups may scan in parallel tasks, and a multi-file scan packs the
    splits of all files by size; callers that need the ledger order of
    such a vector sort by the offset column (engine/transform.py does).
    This lets Spark split/parallelize the scan freely — at 100 TB the
    per-file sequential loop the reference uses
    (ParquetFilesStreamSourceFunction.scala:60-113) would be the
    bottleneck.

    ns-timestamp detection reads only paths[0]'s footer: the ODF schema
    contract is fixed-per-dataset with NO evolution (SURVEY.md §1.4 —
    both this engine and the reference reject it), so every slice shares
    the first file's schema by construction.
    """
    if not paths:
        raise ValueError("read_parquet_slices: empty path vector")
    key = _file_key(paths)
    cached = _SCHEMA_CACHE.get(key) if key is not None else None
    if cached is not None:
        schema, ns_cols = cached
        # Explicit schema (Spark's own prior inference verbatim, as the
        # original StructType — no DDL round trip that could lose type
        # fidelity) skips the per-invocation inference pass; plans are
        # identical.
        df = spark.read.schema(schema).parquet(*paths)
    else:
        df = spark.read.parquet(*paths)
        ns_cols = _nanos_timestamp_columns(paths[0])
        if key is not None:
            _SCHEMA_CACHE[key] = (df.schema, ns_cols)
    for c in ns_cols:
        # Exact integer FLOOR division, in two respects: float `/ 1000`
        # would be off by up to ±128ns (epoch-ns ~1.7e18 exceeds double's
        # 53-bit range), and `div` truncates toward zero, rounding
        # PRE-1970 nanoseconds the wrong way (-500 div 1000 = 0, floor =
        # -1µs) vs DuckDB's exact ns->us floor. floor-mod then div is
        # branch-free exact floor for any sign.
        df = df.withColumn(
            c,
            F.expr(
                f"timestamp_micros((`{c}` - ((`{c}` % 1000) + 1000) % 1000) div 1000)"
            ),
        )
    return df


def serial_scan_in_ledger_order(paths: list[str], col: str) -> bool:
    """True only if `paths` is one file of at most one row group whose
    `col` is non-null and strictly increasing. Spark reads a row group
    in one task, so such a file scans serially in file order: numbering
    its rows by position gives the ledger offsets with no ties, and
    costs no scan parallelism that the sorted path would keep. Several
    files (their multi-file scan does not keep list order) or several
    row groups (their scan may run in parallel) answer False.
    Driver-side and Spark-free: reads one column of one row group. A
    non-local path, a missing column or a read error answers False (the
    caller then sorts)."""
    if len(paths) != 1 or not os.path.isfile(paths[0]):
        return False
    try:
        f = pq.ParquetFile(paths[0])
        if f.num_row_groups != 1:
            return f.num_row_groups == 0
        arr = f.read_row_group(0, columns=[col]).column(0)
    except Exception:
        return False
    return not arr.null_count and bool((np.diff(arr.to_numpy()) > 0).all())


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one named test table (TESTDATA.md layout: <dir>/<name>.parquet)."""
    return read_parquet_slices(spark, [f"{sf_dir}/{name}.parquet"])


def table_schema(spark: SparkSession, schema_file: str):
    """StructType derived from a parquet file footer.

    Replaces ParquetSchemaConverterKamu.java (TransformEngine.scala:533-543
    reads the footer of `schemaFile` per input): Spark's own converter
    handles every type the reference supports plus nested structs, lists
    of primitives and FIXED_LEN_BYTE_ARRAY, which it rejects.
    """
    return read_parquet_slices(spark, [schema_file]).schema
