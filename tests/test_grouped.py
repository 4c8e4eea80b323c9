"""Key-run splitting of the batched grouped map (functions/grouped.py).

`run_starts` decides where one key's rows end and the next key's begin in
every Arrow chunk, and which tail run is carried into the next chunk. Null
keys form their own group, as in Spark groupBy: NaN == NaN, None == None.
"""

import numpy as np
import pandas as pd

from kamu_engine_flink_spark.functions.grouped import run_starts


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
