"""Key-run splitting and output build of the batched grouped map
(functions/grouped.py).

`run_starts` decides where one key's rows end and the next key's begin in
every Arrow chunk; `complete_runs` carries the tail run into the next
chunk. Null keys form their own group, as in Spark groupBy: NaN == NaN,
None == None. `records_frame` builds the fold output from typed Arrow
columns.
"""

import datetime as dt
from decimal import Decimal

import numpy as np
import pandas as pd
import pytest

from kamu_engine_flink_spark.functions.grouped import (
    complete_runs,
    records_frame,
    run_starts,
)


def _starts(pdf, keys):
    out = run_starts(pdf, keys)
    assert out.dtype == np.int64
    return out.tolist()


def test_run_starts_nan_keys():
    pdf = pd.DataFrame({"k": [1.0, 1.0, np.nan, np.nan, 2.0, np.nan]})
    assert _starts(pdf, ["k"]) == [0, 2, 4, 5]


def test_run_starts_none_keys():
    pdf = pd.DataFrame({"k": ["a", None, None, "a", "a", None]})
    assert _starts(pdf, ["k"]) == [0, 1, 3, 5]


def test_run_starts_nullable_and_datetime_keys():
    pdf = pd.DataFrame({"k": pd.array([1, pd.NA, pd.NA, 1], dtype="Int64")})
    assert _starts(pdf, ["k"]) == [0, 1, 3]
    t = pd.Timestamp("2000-01-01", tz="UTC")
    pdf = pd.DataFrame({"k": [t, t, pd.NaT, pd.NaT, t]})
    assert _starts(pdf, ["k"]) == [0, 2, 4]


def test_run_starts_two_column_keys():
    pdf = pd.DataFrame(
        {
            "a": ["x", "x", "x", "y", "y", None, None],
            "b": [1.0, 1.0, 2.0, 2.0, np.nan, np.nan, np.nan],
        }
    )
    # A change in either column starts a run; (None, NaN) repeats group.
    assert _starts(pdf, ["a", "b"]) == [0, 2, 3, 4, 5]


def test_run_starts_single_row_and_empty():
    assert _starts(pd.DataFrame({"k": [7]}), ["k"]) == [0]
    assert _starts(pd.DataFrame({"k": pd.Series([], dtype="int64")}), ["k"]) == []


def _runs(chunks, keys):
    """Every yielded run as (key tuple, list of `i` values), in order."""
    out = []
    for pdf, starts in complete_runs(chunks, keys):
        ends = [*starts[1:], len(pdf)]
        for gs, ge in zip(starts, ends):
            run = pdf.iloc[gs:ge]
            key = tuple(None if pd.isna(v) else v for v in run[keys].iloc[0])
            out.append((key, run["i"].tolist()))
    return out


def test_complete_runs_hot_key_is_one_run_concatenated_once(monkeypatch):
    """One key spread over 50 chunks comes out as ONE run, and no row is
    passed to pd.concat more than once (the carry is linear, not a
    re-concatenation of the growing run on every chunk)."""
    seen: list = []
    real_concat = pd.concat

    def counting_concat(objs, *args, **kwargs):
        objs = list(objs)
        for o in objs:
            seen.extend(o["i"].tolist())
        return real_concat(objs, *args, **kwargs)

    monkeypatch.setattr(pd, "concat", counting_concat)
    chunks = [
        pd.DataFrame({"k": ["hot"] * 10, "i": range(10 * b, 10 * b + 10)})
        for b in range(50)
    ]
    assert _runs(chunks, ["k"]) == [(("hot",), list(range(500)))]
    assert sorted(seen) == list(range(500))  # each row exactly once


def test_complete_runs_match_groupby_across_chunk_boundaries():
    """Runs that straddle chunks (including null-key runs and chunks that
    a run covers entirely) come out whole and in order."""
    keys = ["a", None, "b", "c", None, "d"]
    counts = [3, 3, 25, 1, 9, 6]
    k = [v for v, c in zip(keys, counts) for _ in range(c)]
    full = pd.DataFrame({"k": k, "i": range(len(k))})
    for size in (1, 2, 3, 7, 100):
        chunks = [full.iloc[o:o + size] for o in range(0, len(full), size)]
        got = _runs(chunks, ["k"])
        assert [g[0] for g in got] == [(v,) for v in keys], size
        assert [len(g[1]) for g in got] == counts, size
        assert [i for g in got for i in g[1]] == list(range(len(k))), size


def test_complete_runs_skips_empty_chunks():
    empty = pd.DataFrame({"k": pd.Series([], dtype=object), "i": []})
    chunks = [
        empty,
        pd.DataFrame({"k": ["x", "y"], "i": [0, 1]}),
        empty,
        pd.DataFrame({"k": ["y", "z"], "i": [2, 3]}),
    ]
    assert _runs(chunks, ["k"]) == [(("x",), [0]), (("y",), [1, 2]), (("z",), [3])]
    assert list(complete_runs([empty], ["k"])) == []


@pytest.mark.parametrize("timezone", ["UTC", "America/Los_Angeles"])
def test_records_frame_equals_inferred_frame_after_spark_conversion(timezone):
    """The typed build must reach the JVM as the same Arrow data as the
    old dict-of-lists pandas frame, after Spark's pandas -> Arrow
    conversion (the mapInPandas output path). Field types cover the Top-N
    and MATCH_RECOGNIZE fold schemas: long, int, double, string,
    timestamp, decimal (a MATCH_RECOGNIZE sum over a decimal column) and
    array (an ALL ROWS PER MATCH input column), with nulls in every
    column and NaN/NaT null spellings. Fold timestamps are session-local
    naive values; session.py pins the session to UTC, and the build is
    exact under any session time zone, so a non-UTC one is checked too."""
    from pyspark.sql.pandas.serializers import ArrowStreamPandasSerializer
    from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type
    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        DateType,
        DecimalType,
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampNTZType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("place", LongType()),
            StructField("op", IntegerType()),
            StructField("score", DoubleType()),
            StructField("name", StringType()),
            StructField("event_time", TimestampType()),
            StructField("local_time", TimestampNTZType()),
            StructField("amount", DecimalType(18, 2)),
            StructField("tags", ArrayType(LongType())),
            StructField("flag", BooleanType()),
            StructField("day", DateType()),
        ]
    )
    t = pd.Timestamp("2024-03-10 09:30:00.123456")
    recs = [
        {
            "place": 1, "op": 0, "score": 2.5, "name": "a", "event_time": t,
            "local_time": t, "amount": Decimal("12.30"),
            "tags": np.array([1, 2]), "flag": True, "day": dt.date(2024, 3, 10),
        },
        {
            "place": None, "op": None, "score": float("nan"), "name": None,
            "event_time": None, "local_time": pd.NaT, "amount": None,
            "tags": None, "flag": None, "day": None,
        },
        # A missing key is NULL too.
        {"place": 9_000_000_000, "score": -0.0, "event_time": pd.NaT},
        {
            "place": 3, "op": 2, "score": 1e300, "name": "", "event_time":
            pd.Timestamp("1969-12-31 23:59:59.999999"), "local_time":
            pd.Timestamp("1999-01-01"), "amount": Decimal("-0.01"),
            "tags": [], "flag": False, "day": dt.date(1970, 1, 1),
        },
    ]
    names = [f.name for f in schema.fields]
    inferred = pd.DataFrame(
        {c: [r.get(c) for r in recs] for c in names}, columns=names
    )
    typed = records_frame(recs, to_arrow_schema(schema, timestamp_utc=False))

    ser = ArrowStreamPandasSerializer(timezone, False, False)

    def to_jvm(pdf):
        return ser._create_batch(
            [(pdf[f.name], to_arrow_type(f.dataType), f.dataType) for f in schema]
        )

    old, new = to_jvm(inferred), to_jvm(typed)
    assert new.schema == old.schema
    assert new.equals(old), (new.to_pylist(), old.to_pylist())
    assert old.column(0).null_count == 1 and old.column(4).null_count == 2
