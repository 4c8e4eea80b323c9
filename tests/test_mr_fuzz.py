"""Property test for MATCH_RECOGNIZE's fold-to-batch law under RANDOM
time-banded slicing — the engine's largest stateful operator
(operators/match_recognize.py; reference surface via Flink planner
delegation, TransformEngine.scala:252-262; pattern semantics
EngineTopNTest-adjacent CEP family).

Random per-key value sequences drawn from pattern-relevant classes are
split at a random minute into two chained invocations with watermarks at
the band boundaries (time-banded, so no late drops); the union of both
invocations' matches must equal the single-invocation run over the same
rows. This exercises the cross-checkpoint suspended-suffix machinery at
arbitrary boundaries: a partial match (A, some Bs) whose completion
arrives in the next invocation must resume, not restart, and AFTER MATCH
SKIP PAST LAST ROW must not double-consume across the checkpoint.

The single-invocation answer is itself pinned elsewhere (example tests
in tests/test_match_recognize.py, the driver-oracled
match_recognize_* registry entries, and the streaming twin) — this fuzz
adds the random-slicing law on top, the same discipline as
tests/test_asof_fuzz.py / test_window_fuzz*.py."""

from __future__ import annotations

import os

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from .helpers import TransformRunner, ts, write_input_slice

# Value classes: 1 -> A (dip), 10 -> B (mid), 200 -> C (spike), 500 ->
# matches no DEFINE (pattern breaker).
_CLS = st.sampled_from([1, 10, 200, 500])
_SYM = st.sampled_from(["A", "B"])
_MIN = st.integers(min_value=0, max_value=24)
_ROWS = st.lists(
    st.tuples(_SYM, _MIN, _CLS), min_size=3, max_size=14,
    unique_by=lambda t: (t[0], t[1]),
)

_PATTERNS = st.sampled_from(
    [
        ("A B* C", "star"),
        ("A B+ C", "plus"),
        ("A C", "adjacent"),
        ("A B? C", "opt"),
    ]
)


def _query(pattern: str) -> str:
    return f"""select * from tickers
MATCH_RECOGNIZE (
  PARTITION BY symbol
  ORDER BY event_time
  MEASURES
    A.event_time AS event_time,
    LAST(C.event_time) AS spike_time,
    COUNT(B.*) AS n_mid,
    C.price AS spike
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN ({pattern})
  DEFINE
    A AS A.price < 2,
    B AS B.price >= 2 AND B.price < 150,
    C AS C.price >= 150 AND C.price < 300
)"""


def _slice(path, rows):
    cols = list(zip(*rows)) if rows else [[], [], [], [], [], []]
    write_input_slice(
        path,
        {
            "offset": list(cols[0]),
            "op": [0] * len(rows),
            "system_time": list(cols[1]),
            "event_time": list(cols[2]),
            "symbol": list(cols[3]),
            "price": list(cols[4]),
        },
        {
            "offset": pa.int64(),
            "op": pa.int32(),
            "system_time": pa.timestamp("ms", tz="UTC"),
            "event_time": pa.timestamp("ms", tz="UTC"),
            "symbol": pa.string(),
            "price": pa.int32(),
        },
    )


def _run(spark, tmp_path, pattern, rows, cuts, tag):
    """cuts: [(lo, hi, wm_minute)] invocation bands."""
    runner = TransformRunner(
        spark, str(tmp_path), [(_query(pattern), None)]
    )
    st_time = ts(20)
    got = []
    for inv, (lo, hi, wm_min) in enumerate(cuts):
        part = [
            (i, st_time, ts(1, 0, m), s, p)
            for i, (s, m, p) in enumerate(sorted(rows))
            if lo <= m < hi
        ]
        path = str(tmp_path / f"{tag}{inv}.parquet")
        _slice(path, part)
        _, out = runner.run(
            [{"alias": "tickers", "schema_file": path,
              "data_paths": [path] if part else [],
              "watermark": ts(1, 0, wm_min)}],
            system_time=st_time,
        )
        if os.path.exists(out):
            got.extend(
                (r.symbol, r.event_time.replace(tzinfo=None),
                 r.spike_time.replace(tzinfo=None), r.n_mid, r.spike)
                for r in spark.read.parquet(out).collect()
            )
    return sorted(got)


@settings(max_examples=12, deadline=None)
@given(
    rows=_ROWS,
    pattern=_PATTERNS,
    split=st.integers(min_value=1, max_value=24),
)
def test_match_recognize_random_slicing_folds_to_batch(
    spark, tmp_path_factory, rows, pattern, split
):
    pat, tag = pattern
    tmp_path = tmp_path_factory.mktemp(f"mr_fuzz_{tag}")
    # wm1 = split - 1, NOT split: a watermark at T asserts no future rows
    # with t <= T, and CEP uses Flink's row-level lateness (a later row
    # at exactly the watermark is late and drops) — wm1 = split would
    # make the generator emit contract-violating slices and the fuzz
    # would "find" the legitimate late-drop. Found by hypothesis:
    # rows A@0/A@1/C@2, split=1 — row@1 dropped under wm1=1, turning
    # the match (A@1, C@2) into (A@0, C@2).
    sliced = _run(
        spark, tmp_path, pat, rows,
        [(0, split, split - 1), (split, 25, 30)], "s",
    )
    single = _run(spark, tmp_path, pat, rows, [(0, 25, 30)], "one")
    assert sliced == single, (
        f"\npattern={pat} split={split}\nrows={sorted(rows)}"
        f"\nsliced={sliced}\nsingle={single}"
    )


def test_within_bound_holds_with_null_event_times(spark, tmp_path):
    """Null event times sort after every timestamp within a key, so the
    WITHIN horizon search must stay inside the non-null prefix: a spike
    past the dip's 2-minute horizon must not match just because the key
    also carries null-event-time rows."""
    query = _query("A C").replace(
        "PATTERN (A C)", "PATTERN (A C) WITHIN INTERVAL '2' MINUTE"
    )
    runner = TransformRunner(spark, str(tmp_path), [(query, None)])
    st_time = ts(20)
    path = str(tmp_path / "s0.parquet")
    _slice(
        path,
        [
            (0, st_time, ts(1, 0, 1), "A", 1),  # dip; horizon 00:03
            (1, st_time, ts(1, 0, 6), "A", 200),  # spike past the horizon
            (2, st_time, None, "A", 500),
            (3, st_time, None, "A", 500),
            (4, st_time, ts(1, 0, 1), "B", 1),  # dip; horizon 00:03
            (5, st_time, ts(1, 0, 2), "B", 200),  # spike inside it
            (6, st_time, None, "B", 500),
            (7, st_time, None, "B", 500),
        ],
    )
    _, out = runner.run(
        [{"alias": "tickers", "schema_file": path, "data_paths": [path],
          "watermark": ts(1, 0, 10)}],
        system_time=st_time,
    )
    got = sorted(
        (r.symbol, r.spike) for r in spark.read.parquet(out).collect()
    )
    assert got == [("B", 200)]
