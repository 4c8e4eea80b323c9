"""Tumbling window aggregation parity — mirrors
EngineAggregationTest.scala:54-440.

Covers: incremental window emission across invocations, open-window state
carry-over, watermark-only flush runs, empty-result runs (no output file),
late data within/beyond the watermark.
"""

import os
from datetime import timezone

import pyarrow.parquet as pq

from .helpers import TransformRunner, ticker_slice, ts

AGG_QUERY = """SELECT
  TUMBLE_START(event_time, INTERVAL '1' DAY) as event_time,
  symbol as symbol,
  min(price) as `min`,
  max(price) as `max`
FROM `in`
GROUP BY TUMBLE(event_time, INTERVAL '1' DAY), symbol"""


def _summaries(out_path):
    """(system_time, event_time, symbol, min, max) sorted by (et, symbol)."""
    table = pq.read_table(out_path)
    rows = [
        (
            r["system_time"].replace(tzinfo=timezone.utc),
            r["event_time"].replace(tzinfo=timezone.utc),
            r["symbol"],
            r["min"],
            r["max"],
        )
        for r in table.to_pylist()
    ]
    return sorted(rows, key=lambda r: (r[1], r[2]))


def test_tumbling_window_aggregation_ordered(spark, tmp_path):
    runner = TransformRunner(spark, tmp_path, queries=[(AGG_QUERY, None)])

    s1 = str(tmp_path / "in" / "s1.parquet")
    ticker_slice(
        s1,
        [
            (0, 0, ts(5), ts(1, 1), "A", 10),
            (1, 0, ts(5), ts(1, 1), "B", 20),
            (2, 0, ts(5), ts(1, 2), "A", 11),
            (3, 0, ts(5), ts(1, 2), "B", 21),
            (4, 0, ts(5), ts(2, 1), "A", 12),
            (5, 0, ts(5), ts(2, 1), "B", 22),
            (6, 0, ts(5), ts(2, 2), "A", 13),
            (7, 0, ts(5), ts(2, 2), "B", 23),
            (8, 0, ts(5), ts(3, 1), "A", 14),
            (9, 0, ts(5), ts(3, 1), "B", 24),
            (10, 0, ts(5), ts(3, 2), "A", 15),
            (11, 0, ts(5), ts(3, 2), "B", 25),
        ],
    )
    resp, out = runner.run(
        [{"alias": "in", "data_paths": [s1], "schema_file": s1, "watermark": ts(3, 2)}],
        system_time=ts(10),
    )
    assert (resp.new_offset_interval.start, resp.new_offset_interval.end) == (0, 3)
    assert resp.new_watermark == ts(3, 2)
    assert _summaries(out) == [
        (ts(10), ts(1), "A", 10, 11),
        (ts(10), ts(1), "B", 20, 21),
        (ts(10), ts(2), "A", 12, 13),
        (ts(10), ts(2), "B", 22, 23),
    ]

    s2 = str(tmp_path / "in" / "s2.parquet")
    ticker_slice(
        s2,
        [
            (12, 0, ts(15), ts(4, 1), "A", 16),
            (13, 0, ts(15), ts(4, 1), "B", 26),
            (14, 0, ts(15), ts(4, 2), "A", 17),
            (15, 0, ts(15), ts(4, 2), "B", 27),
            (16, 0, ts(15), ts(5, 1), "A", 18),
            (17, 0, ts(15), ts(5, 1), "B", 28),
            (18, 0, ts(15), ts(5, 2), "A", 19),
            (19, 0, ts(15), ts(5, 2), "B", 29),
        ],
    )
    resp, out = runner.run(
        [{"alias": "in", "data_paths": [s2], "schema_file": s2, "watermark": ts(5, 2)}],
        system_time=ts(20),
    )
    assert (resp.new_offset_interval.start, resp.new_offset_interval.end) == (4, 7)
    assert resp.new_watermark == ts(5, 2)
    assert _summaries(out) == [
        (ts(20), ts(3), "A", 14, 15),
        (ts(20), ts(3), "B", 24, 25),
        (ts(20), ts(4), "A", 16, 17),
        (ts(20), ts(4), "B", 26, 27),
    ]

    s3 = str(tmp_path / "in" / "s3.parquet")
    ticker_slice(s3, [(20, 0, ts(20), ts(6, 1), "A", 20), (21, 0, ts(20), ts(6, 1), "B", 30)])
    runner.next_offset = 12
    resp, out = runner.run(
        [{"alias": "in", "data_paths": [s3], "schema_file": s3, "watermark": ts(6, 1)}],
        system_time=ts(30),
    )
    assert (resp.new_offset_interval.start, resp.new_offset_interval.end) == (12, 13)
    assert resp.new_watermark == ts(6, 1)
    assert _summaries(out) == [
        (ts(30), ts(5), "A", 18, 19),
        (ts(30), ts(5), "B", 28, 29),
    ]

    # Watermark advances without new data -> flushes day-6 window.
    runner.next_offset = 14
    resp, out = runner.run(
        [{"alias": "in", "data_paths": [], "schema_file": s3, "watermark": ts(7, 1)}],
        system_time=ts(31),
    )
    assert (resp.new_offset_interval.start, resp.new_offset_interval.end) == (14, 15)
    assert resp.new_watermark == ts(7, 1)
    assert _summaries(out) == [
        (ts(31), ts(6), "A", 20, 20),
        (ts(31), ts(6), "B", 30, 30),
    ]

    # Watermark advances again: nothing to flush, no output file, but the
    # previous watermark is still propagated.
    runner.next_offset = 16
    resp, out = runner.run(
        [{"alias": "in", "data_paths": [], "schema_file": s3, "watermark": ts(8)}],
        system_time=ts(31),
    )
    assert resp.new_offset_interval is None
    assert resp.new_watermark == ts(8)
    assert not os.path.exists(out)


def test_tumbling_window_aggregation_late_data(spark, tmp_path):
    runner = TransformRunner(spark, tmp_path, queries=[(AGG_QUERY, None)])

    s1 = str(tmp_path / "in" / "s1.parquet")
    ticker_slice(
        s1,
        [
            (0, 0, ts(5), ts(1, 1), "A", 10),
            (1, 0, ts(5), ts(1, 1), "B", 20),
            (2, 0, ts(5), ts(1, 2), "A", 10),
            (3, 0, ts(5), ts(1, 2), "B", 21),
            (4, 0, ts(5), ts(2, 1), "A", 12),
            (5, 0, ts(5), ts(2, 1), "B", 22),
            (6, 0, ts(5), ts(2, 2), "A", 13),
            (7, 0, ts(5), ts(2, 2), "B", 23),
            (8, 0, ts(5), ts(1, 3), "A", 11),  # one day late: considered
            (9, 0, ts(5), ts(3, 1), "A", 14),
            (10, 0, ts(5), ts(3, 1), "B", 24),
            (11, 0, ts(5), ts(3, 2), "A", 15),
            (12, 0, ts(5), ts(3, 2), "B", 25),
        ],
    )
    resp, out = runner.run(
        [{"alias": "in", "data_paths": [s1], "schema_file": s1, "watermark": ts(2, 2)}],
        system_time=ts(10),
    )
    assert (resp.new_offset_interval.start, resp.new_offset_interval.end) == (0, 1)
    assert resp.new_watermark == ts(2, 2)
    assert _summaries(out) == [
        (ts(10), ts(1), "A", 10, 11),
        (ts(10), ts(1), "B", 20, 21),
    ]

    s2 = str(tmp_path / "in" / "s2.parquet")
    ticker_slice(
        s2,
        [
            (13, 0, ts(10), ts(1, 4), "A", 12),  # two days late: discarded
            (14, 0, ts(10), ts(4, 1), "A", 16),
            (15, 0, ts(10), ts(4, 1), "B", 26),
            (16, 0, ts(10), ts(4, 2), "A", 17),
            (17, 0, ts(10), ts(4, 2), "B", 27),
            (18, 0, ts(10), ts(5, 1), "A", 18),
            (19, 0, ts(10), ts(5, 1), "B", 28),
        ],
    )
    resp, out = runner.run(
        [{"alias": "in", "data_paths": [s2], "schema_file": s2, "watermark": ts(4, 1)}],
        system_time=ts(20),
    )
    assert (resp.new_offset_interval.start, resp.new_offset_interval.end) == (2, 5)
    assert resp.new_watermark == ts(4, 1)
    assert _summaries(out) == [
        (ts(20), ts(2), "A", 12, 13),
        (ts(20), ts(2), "B", 22, 23),
        (ts(20), ts(3), "A", 14, 15),
        (ts(20), ts(3), "B", 24, 25),
    ]


# ---------------------------------------------------------------------------
# Incremental HOP (sliding) windows — beyond-reference stateful surface
# ---------------------------------------------------------------------------

HOP_QUERY = """SELECT
  HOP_START(event_time, INTERVAL '1' DAY, INTERVAL '2' DAY) as event_time,
  symbol as symbol,
  min(price) as `min`,
  max(price) as `max`
FROM `in`
GROUP BY HOP(event_time, INTERVAL '1' DAY, INTERVAL '2' DAY), symbol"""


def test_accumulator_state_holds_partials_not_rows(spark, tmp_path):
    """Mergeable sum/count/min/max aggregations keep O(groups)
    accumulator state (Flink-accumulator parity), not raw buffered rows:
    after run 1 the checkpoint holds exactly one partial row per open
    (window, symbol) group, and no raw-row window buffer."""
    runner = TransformRunner(spark, tmp_path, queries=[(AGG_QUERY, None)])
    s1 = str(tmp_path / "in" / "s1.parquet")
    ticker_slice(
        s1,
        [
            (0, 0, ts(5), ts(1, 1), "A", 10),
            (1, 0, ts(5), ts(1, 2), "A", 11),
            (2, 0, ts(5), ts(2, 1), "A", 12),
            (3, 0, ts(5), ts(3, 1), "A", 14),  # day-3 window stays open
            (4, 0, ts(5), ts(3, 1), "B", 24),
            (5, 0, ts(5), ts(3, 2), "B", 25),
        ],
    )
    runner.run(
        [{"alias": "in", "data_paths": [s1], "schema_file": s1, "watermark": ts(3)}],
        system_time=ts(10),
    )
    cp = str(tmp_path / "checkpoint-1")
    entries = os.listdir(cp)
    partials = [e for e in entries if "window-partials" in e]
    assert partials, entries
    assert not [e for e in entries if "window-buffer" in e], entries
    # 6 buffered raw rows would be 3; partials are 2: (day3, A), (day3, B)
    state = pq.read_table(os.path.join(cp, partials[0])).to_pylist()
    assert len(state) == 2, state
    assert {(r["symbol"], r["min"], r["max"]) for r in state} == {
        ("A", 14, 14),
        ("B", 24, 25),
    }


FALLBACK_QUERY = """SELECT
  TUMBLE_START(event_time, INTERVAL '1' DAY) as event_time,
  symbol as symbol,
  COALESCE(min(price), 0) as `min`,
  max(price) as `max`
FROM `in`
GROUP BY TUMBLE(event_time, INTERVAL '1' DAY), symbol"""


def test_non_mergeable_aggs_fall_back_to_raw_buffer(spark, tmp_path):
    """An aggregate wrapped in a larger expression (COALESCE(min(...)))
    is not self-mergeable; the executor must keep the raw-row buffer and
    still produce the right cross-run emissions."""
    runner = TransformRunner(spark, tmp_path, queries=[(FALLBACK_QUERY, None)])
    s1 = str(tmp_path / "in" / "s1.parquet")
    ticker_slice(
        s1,
        [
            (0, 0, ts(5), ts(1, 1), "A", 10),
            (1, 0, ts(5), ts(2, 1), "A", 12),  # day-2 stays open
        ],
    )
    resp, out = runner.run(
        [{"alias": "in", "data_paths": [s1], "schema_file": s1, "watermark": ts(2)}],
        system_time=ts(10),
    )
    assert [e for e in os.listdir(str(tmp_path / "checkpoint-1")) if "window-buffer" in e]
    assert _summaries(out) == [(ts(10), ts(1), "A", 10, 10)]

    s2 = str(tmp_path / "in" / "s2.parquet")
    ticker_slice(s2, [(2, 0, ts(15), ts(2, 2), "A", 7)])
    resp, out = runner.run(
        [{"alias": "in", "data_paths": [s2], "schema_file": s2, "watermark": ts(3)}],
        system_time=ts(20),
    )
    # run-2 row merged into the buffered day-2 window before it closed
    assert _summaries(out) == [(ts(20), ts(2), "A", 7, 12)]


def _hop_rows(out_path):
    table = pq.read_table(out_path)
    return sorted(
        (r["event_time"].replace(tzinfo=timezone.utc), r["symbol"], r["min"], r["max"])
        for r in table.to_pylist()
    )


def test_hop_window_incremental_across_runs(spark, tmp_path):
    """2-day windows sliding by 1 day: each event is in two windows; a
    window emits exactly once when the watermark passes its end, and a
    buffered row contributes to its SECOND window in a later run."""
    runner = TransformRunner(spark, tmp_path, queries=[(HOP_QUERY, None)])

    s1 = str(tmp_path / "in" / "s1.parquet")
    ticker_slice(
        s1,
        [
            (0, 0, ts(5), ts(1, 1), "A", 10),
            (1, 0, ts(5), ts(2, 1), "A", 12),
        ],
    )
    # Watermark day3 00:00: closes windows ending <= day3: [day0,day2) and
    # [day1,day3). Window [day2,day4) (containing the day-2 row) stays open.
    resp, out = runner.run(
        [{"alias": "in", "data_paths": [s1], "schema_file": s1, "watermark": ts(3)}],
        system_time=ts(10),
    )
    from datetime import datetime

    day0 = datetime(1999, 12, 31, tzinfo=timezone.utc)
    out1 = _hop_rows(out)
    assert out1 == [
        (day0, "A", 10, 10),    # [day0, day2): day-1 row only
        (ts(1), "A", 10, 12),   # [day1, day3): both rows
    ]
    # The mergeable min/max query runs on accumulator state: the
    # checkpoint holds one partial row for the open [day2, day4) window,
    # not raw buffered input rows.
    cp_entries = os.listdir(str(tmp_path / "checkpoint-1"))
    partials = [e for e in cp_entries if "hop-partials" in e]
    assert partials and not [e for e in cp_entries if "hop-buffer" in e], cp_entries
    state = pq.read_table(
        os.path.join(str(tmp_path / "checkpoint-1"), partials[0])
    ).to_pylist()
    assert len(state) == 1 and state[0]["min"] == 12 and state[0]["max"] == 12

    # Run 2: watermark-only advance to day5 closes [day2,day4) — the
    # day-2 row was buffered across the run boundary for its second
    # window, which now emits with only that row.
    resp2, out2 = runner.run(
        [{"alias": "in", "data_paths": [], "schema_file": s1, "watermark": ts(5)}],
        system_time=ts(11),
    )
    assert _hop_rows(out2) == [(ts(2), "A", 12, 12)]


# ---------------------------------------------------------------------------
# Incremental SESSION windows — beyond-reference stateful surface
# ---------------------------------------------------------------------------

SESSION_QUERY = """SELECT
  SESSION_START(event_time, INTERVAL '2' HOUR) as event_time,
  SESSION_END(event_time, INTERVAL '2' HOUR) as sess_end,
  symbol as symbol,
  count(*) as `n`,
  max(price) as `max`
FROM `in`
GROUP BY SESSION(event_time, INTERVAL '2' HOUR), symbol"""


def _session_rows(out_path):
    table = pq.read_table(out_path)
    return sorted(
        (
            r["event_time"].replace(tzinfo=timezone.utc),
            r["sess_end"].replace(tzinfo=timezone.utc),
            r["symbol"],
            r["n"],
            r["max"],
        )
        for r in table.to_pylist()
    )


def test_session_window_merges_across_runs(spark, tmp_path):
    """A run-2 event inside the gap EXTENDS a session opened in run 1
    (rows merged from the cross-run buffer); the merged session emits
    once, when the watermark passes last_event + gap."""
    runner = TransformRunner(spark, tmp_path, queries=[(SESSION_QUERY, None)])

    s1 = str(tmp_path / "in" / "s1.parquet")
    ticker_slice(
        s1,
        [
            (0, 0, ts(5), ts(1, 1), "A", 10),
            (1, 0, ts(5), ts(1, 2), "A", 12),
            (2, 0, ts(5), ts(1, 10), "B", 20),
        ],
    )
    # Watermark day1 11:00: A's burst (01:00-02:00, closes at 04:00)
    # emits; B's session (closes 12:00) stays open in state.
    resp, out = runner.run(
        [{"alias": "in", "data_paths": [s1], "schema_file": s1, "watermark": ts(1, 11)}],
        system_time=ts(10),
    )
    assert _session_rows(out) == [(ts(1, 1), ts(1, 4), "A", 2, 12)]

    # Run 2: B at 11:30 is within 2h of B's buffered 10:00 event ->
    # merges into one session [10:00, 13:30); day-2 watermark closes it.
    s2 = str(tmp_path / "in" / "s2.parquet")
    ticker_slice(s2, [(3, 0, ts(15), ts(1, 11, 30), "B", 21)])
    resp2, out2 = runner.run(
        [{"alias": "in", "data_paths": [s2], "schema_file": s2, "watermark": ts(2)}],
        system_time=ts(11),
    )
    assert _session_rows(out2) == [(ts(1, 10), ts(1, 13, 30), "B", 2, 21)]


def test_session_emission_filter_not_pushed_below_merge(spark, tmp_path):
    """Regression (r13 fuzz find): Catalyst pushes a filter on
    `session_window.end` BELOW the session aggregation as a per-row
    own-end filter — but sessions MERGE, so a session's later rows (own
    end beyond the watermark) were dropped pre-aggregation, emitting a
    bogus truncated session AND evicting the dropped rows from the
    buffer. Two events exactly one gap apart (01:00, 03:00; gap 2h) with
    the watermark just short of the merged close (04:59) must emit
    NOTHING; advancing past 05:00 must emit the single merged session."""
    runner = TransformRunner(spark, tmp_path, queries=[(SESSION_QUERY, None)])

    s1 = str(tmp_path / "in" / "s1.parquet")
    ticker_slice(
        s1,
        [
            (0, 0, ts(5), ts(1, 1), "A", 10),
            (1, 0, ts(5), ts(1, 3), "A", 12),
        ],
    )
    # wm 04:59 < merged close 05:00: session [01:00, 05:00) stays open.
    # The unsound pushdown emitted ([01:00, 03:00), n=1) here and
    # dropped the 03:00 row from the buffer.
    resp, out = runner.run(
        [{"alias": "in", "data_paths": [s1], "schema_file": s1,
          "watermark": ts(1, 4, 59)}],
        system_time=ts(10),
    )
    assert not os.path.exists(out), "open session must not emit"

    # Watermark-only advance past the close: ONE merged session, n=2.
    resp2, out2 = runner.run(
        [{"alias": "in", "data_paths": [], "schema_file": s1,
          "watermark": ts(1, 6)}],
        system_time=ts(11),
    )
    assert _session_rows(out2) == [(ts(1, 1), ts(1, 5), "A", 2, 12)]


CUMULATE_QUERY = """SELECT
  CUMULATE_START(event_time, INTERVAL '1' HOUR, INTERVAL '4' HOUR) as start_time,
  CUMULATE_END(event_time, INTERVAL '1' HOUR, INTERVAL '4' HOUR) as event_time,
  symbol as symbol,
  min(price) as `min`,
  max(price) as `max`,
  avg(price) as avg_price
FROM `in`
GROUP BY CUMULATE(event_time, INTERVAL '1' HOUR, INTERVAL '4' HOUR), symbol"""


def _cumulate_rows(out_path):
    table = pq.read_table(out_path)
    return sorted(
        (
            r["start_time"].replace(tzinfo=timezone.utc),
            r["event_time"].replace(tzinfo=timezone.utc),
            r["symbol"],
            r["min"],
            r["max"],
            r["avg_price"],
        )
        for r in table.to_pylist()
    )


def test_cumulate_window_incremental_across_runs(spark, tmp_path):
    """CUMULATE(step 1h, size 4h): within the span [00:00, 04:00) the
    engine emits growing windows as the watermark passes each hourly end;
    a run-2 row merges into the span's still-open later windows; a
    watermark-only run flushes the final window; avg merges exactly
    across runs via the sum/count accumulator decomposition."""
    runner = TransformRunner(spark, tmp_path, queries=[(CUMULATE_QUERY, None)])

    s1 = str(tmp_path / "in" / "s1.parquet")
    ticker_slice(
        s1,
        [
            (0, 0, ts(5), ts(1, 0, 30), "A", 10),
            (1, 0, ts(5), ts(1, 1, 30), "A", 12),
        ],
    )
    resp, out = runner.run(
        [{"alias": "in", "data_paths": [s1], "schema_file": s1, "watermark": ts(1, 2)}],
        system_time=ts(10),
    )
    # Ends 01:00 and 02:00 close under wm 02:00; 03:00 and 04:00 stay open.
    assert _cumulate_rows(out) == [
        (ts(1), ts(1, 1), "A", 10, 10, 10.0),
        (ts(1), ts(1, 2), "A", 10, 12, 11.0),
    ]
    # Accumulator state: per-step partials, no raw-row buffer.
    cp1 = str(tmp_path / "checkpoint-1")
    assert [e for e in os.listdir(cp1) if "cumulate-partials" in e]
    assert not [e for e in os.listdir(cp1) if "cumulate-buffer" in e]

    s2 = str(tmp_path / "in" / "s2.parquet")
    ticker_slice(s2, [(2, 0, ts(15), ts(1, 2, 30), "A", 8)])
    resp, out = runner.run(
        [{"alias": "in", "data_paths": [s2], "schema_file": s2, "watermark": ts(1, 3)}],
        system_time=ts(20),
    )
    # End 03:00 emits once, merging run-1 partials with the run-2 row.
    assert _cumulate_rows(out) == [(ts(1), ts(1, 3), "A", 8, 12, 10.0)]

    # Run 3: a LATE row (01:45 — its 02:00/03:00 windows already emitted)
    # still merges into the span's open final window; the watermark-only
    # flush then emits [00:00, 04:00) exactly once with all four rows.
    s3 = str(tmp_path / "in" / "s3.parquet")
    ticker_slice(s3, [(3, 0, ts(25), ts(1, 1, 45), "A", 99)])
    resp, out = runner.run(
        [{"alias": "in", "data_paths": [s3], "schema_file": s3, "watermark": ts(1, 4)}],
        system_time=ts(30),
    )
    assert _cumulate_rows(out) == [(ts(1), ts(1, 4), "A", 8, 99, 32.25)]
    assert resp.new_watermark == ts(1, 4)

    # Span closed: no further output on a later watermark-only run.
    resp, out = runner.run(
        [{"alias": "in", "data_paths": [], "schema_file": s1, "watermark": ts(2)}],
        system_time=ts(31),
    )
    assert resp.new_offset_interval is None
    assert not os.path.exists(out)


CUMULATE_FALLBACK_QUERY = """SELECT
  CUMULATE_END(event_time, INTERVAL '1' HOUR, INTERVAL '4' HOUR) as event_time,
  symbol as symbol,
  max(price) - min(price) as spread
FROM `in`
GROUP BY CUMULATE(event_time, INTERVAL '1' HOUR, INTERVAL '4' HOUR), symbol"""


def test_cumulate_non_mergeable_falls_back_to_raw_buffer(spark, tmp_path):
    """max(price)-min(price) is an aggregate inside a larger expression —
    not self-mergeable — so CUMULATE buffers raw rows and recomputes over
    the buffer; emissions still appear exactly once per window end."""
    runner = TransformRunner(spark, tmp_path, queries=[(CUMULATE_FALLBACK_QUERY, None)])
    s1 = str(tmp_path / "in" / "s1.parquet")
    ticker_slice(
        s1,
        [
            (0, 0, ts(5), ts(1, 0, 30), "A", 10),
            (1, 0, ts(5), ts(1, 1, 30), "A", 16),
        ],
    )
    resp, out = runner.run(
        [{"alias": "in", "data_paths": [s1], "schema_file": s1, "watermark": ts(1, 2)}],
        system_time=ts(10),
    )
    assert [
        e
        for e in os.listdir(str(tmp_path / "checkpoint-1"))
        if "cumulate-buffer" in e
    ]
    table = pq.read_table(out)
    rows = sorted(
        (r["event_time"].replace(tzinfo=timezone.utc), r["symbol"], r["spread"])
        for r in table.to_pylist()
    )
    assert rows == [(ts(1, 1), "A", 0), (ts(1, 2), "A", 6)]

    s2 = str(tmp_path / "in" / "s2.parquet")
    ticker_slice(s2, [(2, 0, ts(15), ts(1, 2, 30), "A", 4)])
    resp, out = runner.run(
        [{"alias": "in", "data_paths": [s2], "schema_file": s2, "watermark": ts(1, 4)}],
        system_time=ts(20),
    )
    table = pq.read_table(out)
    rows = sorted(
        (r["event_time"].replace(tzinfo=timezone.utc), r["symbol"], r["spread"])
        for r in table.to_pylist()
    )
    assert rows == [(ts(1, 3), "A", 12), (ts(1, 4), "A", 12)]


AVG_AGG_QUERY = """SELECT
  TUMBLE_START(event_time, INTERVAL '1' DAY) as event_time,
  symbol as symbol,
  avg(price) as avg_price,
  count(*) as n
FROM `in`
GROUP BY TUMBLE(event_time, INTERVAL '1' DAY), symbol"""


def test_tumble_avg_uses_accumulator_state(spark, tmp_path):
    """avg() joins the mergeable-accumulator family via sum/count
    decomposition: the checkpoint holds partial-pair rows (not raw rows),
    and a cross-run merge yields the exact whole-window average."""
    runner = TransformRunner(spark, tmp_path, queries=[(AVG_AGG_QUERY, None)])
    s1 = str(tmp_path / "in" / "s1.parquet")
    ticker_slice(
        s1,
        [
            (0, 0, ts(5), ts(1, 1), "A", 10),
            (1, 0, ts(5), ts(2, 1), "A", 12),  # day-2 stays open
        ],
    )
    resp, out = runner.run(
        [{"alias": "in", "data_paths": [s1], "schema_file": s1, "watermark": ts(2)}],
        system_time=ts(10),
    )
    cp1 = str(tmp_path / "checkpoint-1")
    assert [e for e in os.listdir(cp1) if "window-partials" in e]
    assert not [e for e in os.listdir(cp1) if "window-buffer" in e]
    table = pq.read_table(out)
    rows = [
        (r["event_time"].replace(tzinfo=timezone.utc), r["symbol"], r["avg_price"], r["n"])
        for r in table.to_pylist()
    ]
    assert rows == [(ts(1), "A", 10.0, 1)]

    s2 = str(tmp_path / "in" / "s2.parquet")
    ticker_slice(s2, [(2, 0, ts(15), ts(2, 2), "A", 17)])
    resp, out = runner.run(
        [{"alias": "in", "data_paths": [s2], "schema_file": s2, "watermark": ts(3)}],
        system_time=ts(20),
    )
    table = pq.read_table(out)
    rows = [
        (r["event_time"].replace(tzinfo=timezone.utc), r["symbol"], r["avg_price"], r["n"])
        for r in table.to_pylist()
    ]
    # (12 + 17) / 2 across two invocations — merged from sum/count pairs.
    assert rows == [(ts(2), "A", 14.5, 2)]


def test_cumulate_random_split_equals_batch(spark, tmp_path):
    """Randomized (seeded) equivalence: 48 in-order rows split across 3
    invocations with advancing watermarks must emit, in union, exactly
    the batch cumulate result — every (window end, symbol) group once,
    with whole-history min/max."""
    import random
    from datetime import timedelta

    rng = random.Random(7)
    rows = sorted(
        (
            ts(1) + timedelta(minutes=rng.randrange(0, 2 * 24 * 60)),
            rng.choice("AB"),
            rng.randrange(1, 100),
        )
        for _ in range(48)
    )
    step = timedelta(hours=1)
    size = timedelta(hours=4)

    def span_start(t):
        epoch = ts(1).replace(hour=0)  # 2000-01-01 00:00 is size-aligned
        k = int((t - epoch).total_seconds() // size.total_seconds())
        return epoch + k * size

    final_wm = max(t for t, _, _ in rows) + size
    expected = {}
    ends = set()
    for t, _, _ in rows:
        s = span_start(t)
        e = s + step
        while e <= s + size:
            if e > t:
                ends.add(e)
            e += step
    for e in ends:
        if e > final_wm:
            continue
        s = span_start(e - timedelta(microseconds=1))
        for sym in "AB":
            prices = [p for (t, sy, p) in rows if sy == sym and s <= t < e]
            if prices:
                expected[(e, sym)] = (min(prices), max(prices))

    runner = TransformRunner(spark, tmp_path, queries=[(CUMULATE_QUERY, None)])
    cuts = [16, 32, 48]
    prev = 0
    got = {}
    for i, cut in enumerate(cuts):
        chunk = rows[prev:cut]
        wm = final_wm if i == 2 else chunk[-1][0]
        path = str(tmp_path / "in" / f"s{i}.parquet")
        ticker_slice(
            path,
            [
                (prev + j, 0, ts(20), t, sym, p)
                for j, (t, sym, p) in enumerate(chunk)
            ],
        )
        _, out = runner.run(
            [{"alias": "in", "data_paths": [path], "schema_file": path, "watermark": wm}],
            system_time=ts(25 + i),
        )
        prev = cut
        if os.path.exists(out):
            for r in pq.read_table(out).to_pylist():
                key = (r["event_time"].replace(tzinfo=timezone.utc), r["symbol"])
                assert key not in got, f"window {key} emitted twice"
                got[key] = (r["min"], r["max"])
    assert got == expected


MONTHLY_QUERY = """SELECT
  TUMBLE_START(event_time, INTERVAL '1' MONTH) as event_time,
  symbol,
  count(*) as n,
  sum(price) as total
FROM tickers GROUP BY TUMBLE(event_time, INTERVAL '1' MONTH), symbol"""


def test_monthly_tumble_cross_run(spark, tmp_path):
    """Calendar (month) tumbling — BEYOND reference parity (its README
    lists month/quarter/year windows as unsupported): windows are
    date_trunc buckets with calendar-variable length; exactly-once emit,
    cross-run open-window state, and watermark gating all behave like the
    fixed-duration path."""
    from datetime import datetime, timezone

    def mts(month, day, hour=0):
        return datetime(2000, month, day, hour, tzinfo=timezone.utc)

    runner = TransformRunner(spark, tmp_path, queries=[(MONTHLY_QUERY, None)])
    s1 = str(tmp_path / "in" / "s1.parquet")
    ticker_slice(
        s1,
        [
            (0, 0, mts(3, 1), mts(1, 5), "A", 10),
            (1, 0, mts(3, 1), mts(1, 20), "A", 20),
            (2, 0, mts(3, 1), mts(2, 2), "A", 7),
        ],
    )
    resp, out = runner.run(
        [{"alias": "tickers", "data_paths": [s1], "schema_file": s1, "watermark": mts(2, 1)}],
        system_time=mts(3, 1),
    )
    rows = [
        (r["event_time"].replace(tzinfo=timezone.utc), r["symbol"], r["n"], r["total"])
        for r in pq.read_table(out).to_pylist()
    ]
    # January closed (wm = Feb 1 >= its end); February still open.
    assert rows == [(mts(1, 1), "A", 2, 30)]

    # Run 2: another February row arrives, then the watermark passes March.
    s2 = str(tmp_path / "in" / "s2.parquet")
    ticker_slice(s2, [(3, 0, mts(4, 1), mts(2, 10), "A", 5)])
    resp, out = runner.run(
        [{"alias": "tickers", "data_paths": [s2], "schema_file": s2, "watermark": mts(3, 1)}],
        system_time=mts(4, 1),
    )
    rows = [
        (r["event_time"].replace(tzinfo=timezone.utc), r["symbol"], r["n"], r["total"])
        for r in pq.read_table(out).to_pylist()
    ]
    # February merges the run-1 buffered row with run 2's.
    assert rows == [(mts(2, 1), "A", 2, 12)]


def test_quarter_and_year_tumble_batch(spark):
    """QUARTER/YEAR date_trunc bucketing through the dialect rewrite."""
    from datetime import datetime, timezone

    from kamu_engine_flink_spark.plans.dialect import rewrite_query as rq

    rows = [
        (datetime(2000, 1, 10), 1),
        (datetime(2000, 2, 10), 2),
        (datetime(2000, 5, 10), 4),
        (datetime(2001, 1, 1), 8),
    ]
    spark.createDataFrame(rows, "et timestamp, v int").createOrReplaceTempView("cal_t")
    q = spark.sql(
        rq(
            "SELECT TUMBLE_START(et, INTERVAL '1' QUARTER) as qs, "
            "TUMBLE_END(et, INTERVAL '1' QUARTER) as qe, sum(v) as s "
            "FROM cal_t GROUP BY TUMBLE(et, INTERVAL '1' QUARTER) ORDER BY qs"
        )
    ).collect()
    assert [(r.qs.month, r.qe.month, r.s) for r in q] == [(1, 4, 3), (4, 7, 4), (1, 4, 8)]
    y = spark.sql(
        rq(
            "SELECT TUMBLE_START(et, INTERVAL '1' YEAR) as ys, sum(v) as s "
            "FROM cal_t GROUP BY TUMBLE(et, INTERVAL '1' YEAR) ORDER BY ys"
        )
    ).collect()
    assert [(r.ys.year, r.s) for r in y] == [(2000, 7), (2001, 8)]


def test_multi_unit_calendar_tumble_rejected(spark, tmp_path):
    """INTERVAL '2' MONTH has no date_trunc boundary — clear error, not a
    silently wrong grouping."""
    import pytest

    from kamu_engine_flink_spark.plans.dialect import rewrite_query as rq
    from kamu_engine_flink_spark.protocol.model import InvalidQueryError

    with pytest.raises(InvalidQueryError, match="INTERVAL '1' MONTH"):
        rq("SELECT TUMBLE_START(et, INTERVAL '2' MONTH) FROM t GROUP BY TUMBLE(et, INTERVAL '2' MONTH)")


def test_hop_without_window_alias_answers_invalid_query(spark, tmp_path):
    """A HOP aggregation that projects neither HOP_START nor HOP_END is a
    user-query error: `invalidQuery`, exit 1, like the reference's
    InvalidQuery response."""
    from dataclasses import replace

    import yaml

    from kamu_engine_flink_spark.engine.transform import execute_transform
    from kamu_engine_flink_spark.protocol.model import SqlQueryStep, Transform
    from kamu_engine_flink_spark.protocol.yaml_io import (
        dump_request,
        load_transform_request,
        respond,
    )

    from .test_adapter import _request

    slice1 = str(tmp_path / "slice1.parquet")
    ticker_slice(slice1, [(0, 0, ts(1), ts(1, 1), "A", 10)])
    query = (
        "SELECT symbol, count(*) AS n FROM `in` GROUP BY symbol, "
        "HOP(event_time, INTERVAL '1' HOUR, INTERVAL '2' HOUR)"
    )
    request = replace(
        _request(tmp_path, 1, [slice1], slice1, 0),
        transform=Transform(queries=[SqlQueryStep(query=query)]),
        new_checkpoint_path=str(tmp_path / "cp"),
    )
    req_path, resp_path = str(tmp_path / "request.yaml"), str(tmp_path / "response.yaml")
    dump_request(request, req_path)
    code = respond(
        req_path, resp_path, load_transform_request,
        lambda r: execute_transform(spark, r),
    )
    with open(resp_path) as f:
        resp = yaml.safe_load(f)
    assert (code, resp["kind"]) == (1, "invalidQuery")
    assert "HOP_START" in resp["message"]


def test_projected_literal_with_comma_is_emitted_verbatim(spark, tmp_path):
    """A comma inside a projected string literal is not a select-list
    separator: the accumulator path's slice SQL (avg split into its
    sum/count partials) keeps the literal, and it reaches the output
    unchanged."""
    query = (
        "SELECT TUMBLE_START(event_time, INTERVAL '1' DAY) AS event_time, "
        "'x,y' AS tag, avg(price) AS avg_price FROM `in` "
        "GROUP BY TUMBLE(event_time, INTERVAL '1' DAY)"
    )
    runner = TransformRunner(spark, tmp_path, queries=[(query, None)])
    s1 = str(tmp_path / "in" / "s1.parquet")
    ticker_slice(s1, [(0, 0, ts(5), ts(1, 1), "A", 10), (1, 0, ts(5), ts(1, 2), "B", 20)])
    _, out = runner.run(
        [{"alias": "in", "data_paths": [s1], "schema_file": s1, "watermark": ts(2)}],
        system_time=ts(10),
    )
    assert [(r["tag"], r["avg_price"]) for r in pq.read_table(out).to_pylist()] == [
        ("x,y", 15.0)
    ]
