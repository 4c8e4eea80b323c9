"""MATCH_RECOGNIZE (CEP) subset — pattern matching over the event-time
stream with cross-invocation partial-match state.

Flink exposes row-pattern recognition through the planner the reference
delegates to (TransformEngine.scala:252-262); these scenarios pin the
online-deterministic subset: reluctant quantifiers, current-row DEFINE
predicates, ONE ROW PER MATCH, AFTER MATCH SKIP PAST LAST ROW.
"""

from datetime import timezone

import pyarrow.parquet as pq
import pytest

from kamu_engine_flink_spark.protocol.model import InvalidQueryError
from kamu_engine_flink_spark.operators.match_recognize import parse_match_recognize

from .helpers import TransformRunner, ticker_slice, ts

MR_QUERY = """select * from tickers
MATCH_RECOGNIZE (
  PARTITION BY symbol
  ORDER BY event_time
  MEASURES
    FIRST(A.event_time) AS start_time,
    LAST(C.event_time) AS event_time,
    COUNT(B.*) AS n_mid,
    SUM(B.price) AS mid_total,
    A.price AS start_price,
    C.price AS end_price
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (A B* C)
  DEFINE
    A AS A.price < 10,
    B AS B.price >= 10 AND B.price < 100,
    C AS C.price >= 100
)"""


def _rows(out):
    table = pq.read_table(out)
    return [
        (
            r["offset"],
            r["op"],
            r["symbol"],
            r["start_time"].replace(tzinfo=timezone.utc),
            r["event_time"].replace(tzinfo=timezone.utc),
            r["n_mid"],
            r["mid_total"],
            r["start_price"],
            r["end_price"],
        )
        for r in table.to_pylist()
    ]


def _input(path, watermark):
    return {
        "alias": "tickers",
        "data_paths": [path] if path else [],
        "schema_file": path,
        "watermark": watermark,
    }


def test_match_recognize_cross_run(spark, tmp_path):
    runner = TransformRunner(spark, tmp_path, queries=[(MR_QUERY, None)])
    s1 = str(tmp_path / "in" / "s1.parquet")
    ticker_slice(
        s1,
        [
            (0, 0, ts(2), ts(1, 0, 1), "A", 5),
            (1, 0, ts(2), ts(1, 0, 2), "A", 20),
            (2, 0, ts(2), ts(1, 0, 3), "A", 50),
            (3, 0, ts(2), ts(1, 0, 4), "A", 120),
            (4, 0, ts(2), ts(1, 0, 5), "A", 7),
            (5, 0, ts(2), ts(1, 0, 6), "A", 30),
            (6, 0, ts(2), ts(1, 0, 3), "B", 3),
        ],
    )
    resp, out = runner.run([_input(s1, ts(1, 0, 6))], system_time=ts(2))
    # One completed match (dip 5 -> mids 20,50 -> spike 120); the 00:05 dip
    # and symbol B's dip stay suspended awaiting their spike.
    assert _rows(out) == [
        (0, 0, "A", ts(1, 0, 1), ts(1, 0, 4), 2, 70, 5, 120),
    ]

    s2 = str(tmp_path / "in" / "s2.parquet")
    ticker_slice(
        s2,
        [
            (7, 0, ts(3), ts(1, 0, 7), "A", 150),
            (8, 0, ts(3), ts(1, 0, 8), "B", 110),
        ],
    )
    resp2, out2 = runner.run([_input(s2, ts(1, 0, 10))], system_time=ts(3))
    # Both suspended attempts complete with state carried across runs;
    # B's match has zero mid rows (COUNT 0, SUM null).
    assert _rows(out2) == [
        (1, 0, "A", ts(1, 0, 5), ts(1, 0, 7), 1, 30, 7, 150),
        (2, 0, "B", ts(1, 0, 3), ts(1, 0, 8), 0, None, 3, 110),
    ]


def test_match_recognize_failed_attempt_advances(spark, tmp_path):
    """A row matching no variable kills the attempt and scanning resumes
    at the next row — matches never straddle a dead row."""
    runner = TransformRunner(spark, tmp_path, queries=[(MR_QUERY, None)])
    s1 = str(tmp_path / "in" / "s1.parquet")
    ticker_slice(
        s1,
        [
            (0, 0, ts(2), ts(1, 0, 1), "A", 5),  # A
            (1, 0, ts(2), ts(1, 0, 2), "A", 20),  # B
            (2, 0, ts(2), ts(1, 0, 3), "A", 8),  # kills: matches A-pred only
            (3, 0, ts(2), ts(1, 0, 4), "A", 130),  # C completes 8 -> 130
        ],
    )
    resp, out = runner.run([_input(s1, ts(1, 0, 5))], system_time=ts(2))
    assert _rows(out) == [
        (0, 0, "A", ts(1, 0, 3), ts(1, 0, 4), 0, None, 8, 130),
    ]


def _mr_batch(spark, rows, pattern):
    """rows: (seq, x) over one key; returns sorted (b_count, c_x) tuples."""
    from kamu_engine_flink_spark.operators.match_recognize import (
        match_recognize_batch,
    )

    df = spark.createDataFrame(
        [(1, s, s, float(x)) for s, x in rows], "k int, ts long, __seq long, x double"
    )
    out = match_recognize_batch(
        spark,
        df,
        f"""select * from t MATCH_RECOGNIZE (
             PARTITION BY k ORDER BY ts
             MEASURES COUNT(B.*) AS n_b, C.x AS c_x, A.x AS a_x
             ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
             PATTERN {pattern}
             DEFINE A AS A.x < 10, B AS B.x >= 10, C AS C.x >= 100
           )""",
    )
    return sorted((r["n_b"], r["c_x"], r["a_x"]) for r in out.collect())


def test_greedy_vs_reluctant_quantifier(spark):
    """C-rows also satisfy B (C ⊂ B): greedy B* swallows the first spike
    and matches the LAST viable one; reluctant B*? closes on the first."""
    rows = [(0, 5), (1, 20), (2, 120), (3, 30), (4, 150), (5, 3)]
    assert _mr_batch(spark, rows, "(A B* C)") == [(3, 150.0, 5.0)]
    assert _mr_batch(spark, rows, "(A B*? C)") == [(1, 120.0, 5.0)]


def test_greedy_suspends_at_watermark_boundary(spark, tmp_path):
    """Greedy B* with C ⊂ B must NOT emit while the tail can still extend
    (Flink NFA rule); the match emits once a non-B row resolves it."""
    query = """select * from tickers
MATCH_RECOGNIZE (
  PARTITION BY symbol
  ORDER BY event_time
  MEASURES
    A.event_time AS event_time,
    COUNT(B.*) AS n_b,
    C.price AS spike
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (A B* C)
  DEFINE A AS A.price < 10, B AS B.price >= 10, C AS C.price >= 100
)"""
    runner = TransformRunner(spark, tmp_path, queries=[(query, None)])
    s1 = str(tmp_path / "in" / "s1.parquet")
    ticker_slice(
        s1,
        [
            (0, 0, ts(2), ts(1, 0, 1), "A", 5),
            (1, 0, ts(2), ts(1, 0, 2), "A", 20),
            (2, 0, ts(2), ts(1, 0, 3), "A", 120),
        ],
    )
    resp, out = runner.run([_input(s1, ts(1, 0, 5))], system_time=ts(2))
    # 120 completes a match AND extends B — greedy suspends: empty run
    # (the engine writes no data file on an empty result, reference
    # behavior — EngineAggregationTest asserts !Files.exists).
    import os

    assert resp.new_offset_interval is None
    assert not os.path.exists(out)

    s2 = str(tmp_path / "in" / "s2.parquet")
    ticker_slice(s2, [(3, 0, ts(3), ts(1, 0, 6), "A", 3)])
    resp2, out2 = runner.run([_input(s2, ts(1, 0, 10))], system_time=ts(3))
    table = pq.read_table(out2).to_pylist()
    # The non-B row (3) resolves it: greedy backtracks to the last viable
    # spike (120), counting one B (the 20).
    assert [(r["n_b"], r["spike"]) for r in table] == [(1, 120)]
    # ...and the 3 immediately opens the next attempt (suspended).


V_QUERY = """select * from tickers
MATCH_RECOGNIZE (
  PARTITION BY symbol
  ORDER BY event_time
  MEASURES
    STRT.event_time AS event_time,
    STRT.price AS start_price,
    LAST(DOWN.price) AS bottom_price,
    LAST(UP.price) AS end_price
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (STRT DOWN+ UP+)
  DEFINE
    DOWN AS DOWN.price < PREV(DOWN.price),
    UP AS UP.price > PREV(UP.price)
)"""


def test_v_pattern_prev_cross_run(spark, tmp_path):
    """Flink docs' flagship V-shape (falling then rising prices via PREV),
    with a greedy UP+ tail that suspends at the watermark and resolves in
    the next invocation."""
    import os

    runner = TransformRunner(spark, tmp_path, queries=[(V_QUERY, None)])
    s1 = str(tmp_path / "in" / "s1.parquet")
    ticker_slice(
        s1,
        [
            (0, 0, ts(2), ts(1, 0, 1), "A", 12),
            (1, 0, ts(2), ts(1, 0, 2), "A", 10),
            (2, 0, ts(2), ts(1, 0, 3), "A", 8),
            (3, 0, ts(2), ts(1, 0, 4), "A", 9),
            (4, 0, ts(2), ts(1, 0, 5), "A", 11),
            (5, 0, ts(2), ts(1, 0, 6), "A", 11),  # flat: beyond wm, pending
        ],
    )
    # wm 00:05: the greedy UP+ tail can still extend — nothing emits.
    resp, out = runner.run([_input(s1, ts(1, 0, 5))], system_time=ts(2))
    assert resp.new_offset_interval is None and not os.path.exists(out)

    s2 = str(tmp_path / "in" / "s2.parquet")
    ticker_slice(s2, [(6, 0, ts(3), ts(1, 0, 7), "A", 13)])
    resp2, out2 = runner.run([_input(s2, ts(1, 0, 10))], system_time=ts(3))
    rows = pq.read_table(out2).to_pylist()
    # The flat 11 resolves the tail: V = 12 -> 8 -> 11.
    assert [
        (r["symbol"], r["start_price"], r["bottom_price"], r["end_price"])
        for r in rows
    ] == [("A", 12, 8, 11)]


def test_prev_needs_consumed_context_row(spark, tmp_path):
    """A pattern STARTING with a PREV-predicated variable: the suspended
    attempt's first row re-evaluates its predicate against a row that was
    already discarded from matching — the retained lag-context row makes
    it exact across the checkpoint."""
    query = """select * from tickers
MATCH_RECOGNIZE (
  PARTITION BY symbol
  ORDER BY event_time
  MEASURES
    FIRST(DOWN.event_time) AS event_time,
    MIN(DOWN.price) AS bottom,
    UP.price AS rebound
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (DOWN+ UP)
  DEFINE
    DOWN AS DOWN.price < PREV(DOWN.price),
    UP AS UP.price > PREV(UP.price)
)"""
    import os

    runner = TransformRunner(spark, tmp_path, queries=[(query, None)])
    s1 = str(tmp_path / "in" / "s1.parquet")
    ticker_slice(
        s1,
        [
            (0, 0, ts(2), ts(1, 0, 1), "A", 12),
            (1, 0, ts(2), ts(1, 0, 2), "A", 10),  # down vs 12
            (2, 0, ts(2), ts(1, 0, 3), "A", 8),  # down vs 10
        ],
    )
    # DOWN+ run hits the watermark boundary: suspended, keep-from is the
    # 00:02 row whose predicate references the (discarded) 00:01 row.
    resp, out = runner.run([_input(s1, ts(1, 0, 3))], system_time=ts(2))
    assert resp.new_offset_interval is None and not os.path.exists(out)

    s2 = str(tmp_path / "in" / "s2.parquet")
    ticker_slice(s2, [(3, 0, ts(3), ts(1, 0, 4), "A", 9)])  # up vs 8
    resp2, out2 = runner.run([_input(s2, ts(1, 0, 6))], system_time=ts(3))
    rows = pq.read_table(out2).to_pylist()
    assert [(r["symbol"], r["bottom"], r["rebound"]) for r in rows] == [("A", 8, 9)]


def test_all_rows_per_match_running_measures(spark, tmp_path):
    """ALL ROWS PER MATCH: one output row per matched row with RUNNING
    measures; unmatched rows between matches are not emitted."""
    query = """select * from tickers
MATCH_RECOGNIZE (
  PARTITION BY symbol
  ORDER BY event_time
  MEASURES
    COUNT(B.*) AS n_mid,
    C.price AS spike
  ALL ROWS PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (A B* C)
  DEFINE A AS A.price < 10, B AS B.price >= 10 AND B.price < 100, C AS C.price >= 100
)"""
    runner = TransformRunner(spark, tmp_path, queries=[(query, None)])
    s1 = str(tmp_path / "in" / "s1.parquet")
    ticker_slice(
        s1,
        [
            (0, 0, ts(2), ts(1, 0, 1), "A", 5),
            (1, 0, ts(2), ts(1, 0, 2), "A", 20),
            (2, 0, ts(2), ts(1, 0, 3), "A", 120),
            (3, 0, ts(2), ts(1, 0, 4), "A", 50),  # dead row: no match
        ],
    )
    resp, out = runner.run([_input(s1, ts(1, 0, 5))], system_time=ts(2))
    rows = pq.read_table(out).to_pylist()
    assert [
        (r["offset"], r["symbol"], r["price"], r["n_mid"], r["spike"]) for r in rows
    ] == [
        (0, "A", 5, 0, None),
        (1, "A", 20, 1, None),
        (2, "A", 120, 1, 120),
    ]


def test_skip_to_next_row_overlapping(spark, tmp_path):
    """AFTER MATCH SKIP TO NEXT ROW: matches overlap (every row starts an
    attempt); the retained suffix re-runs without duplicating emissions."""
    query = """select * from tickers
MATCH_RECOGNIZE (
  PARTITION BY symbol
  ORDER BY event_time
  MEASURES A.event_time AS event_time, A.price AS p1, B.price AS p2
  ONE ROW PER MATCH
  AFTER MATCH SKIP TO NEXT ROW
  PATTERN (A B)
  DEFINE A AS A.price < 100, B AS B.price < 100
)"""
    runner = TransformRunner(spark, tmp_path, queries=[(query, None)])
    s1 = str(tmp_path / "in" / "s1.parquet")
    ticker_slice(
        s1,
        [
            (0, 0, ts(2), ts(1, 0, 1), "A", 10),
            (1, 0, ts(2), ts(1, 0, 2), "A", 20),
            (2, 0, ts(2), ts(1, 0, 3), "A", 30),
        ],
    )
    resp, out = runner.run([_input(s1, ts(1, 0, 5))], system_time=ts(2))
    rows = pq.read_table(out).to_pylist()
    # Overlapping pairs — SKIP PAST LAST ROW would emit only (10, 20).
    assert [(r["p1"], r["p2"]) for r in rows] == [(10, 20), (20, 30)]

    # Run 2: the suspended attempt at 30 completes; nothing re-emits.
    s2 = str(tmp_path / "in" / "s2.parquet")
    ticker_slice(s2, [(3, 0, ts(3), ts(1, 0, 6), "A", 40)])
    resp2, out2 = runner.run([_input(s2, ts(1, 0, 8))], system_time=ts(3))
    rows2 = pq.read_table(out2).to_pylist()
    assert [(r["p1"], r["p2"]) for r in rows2] == [(30, 40)]


def test_within_bounds_suspension(spark, tmp_path):
    """WITHIN INTERVAL: an attempt that cannot complete inside the time
    bound FAILS once the watermark passes start + within (instead of
    suspending forever), so a late spike no longer matches an expired dip
    — and state stays bounded by the window."""
    query = """select * from tickers
MATCH_RECOGNIZE (
  PARTITION BY symbol
  ORDER BY event_time
  MEASURES A.event_time AS event_time, A.price AS dip, C.price AS spike
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (A B* C) WITHIN INTERVAL '2' MINUTE
  DEFINE A AS A.price < 10, B AS B.price >= 10 AND B.price < 100, C AS C.price >= 100
)"""
    runner = TransformRunner(spark, tmp_path, queries=[(query, None)])
    s1 = str(tmp_path / "in" / "s1.parquet")
    ticker_slice(
        s1,
        [
            (0, 0, ts(2), ts(1, 0, 1), "A", 5),  # dip; window closes 00:03
            (1, 0, ts(2), ts(1, 0, 2), "A", 20),
        ],
    )
    import os

    resp, out = runner.run([_input(s1, ts(1, 0, 5))], system_time=ts(2))
    # Watermark passed 00:03: the attempt expired — nothing pending.
    assert resp.new_offset_interval is None and not os.path.exists(out)

    s2 = str(tmp_path / "in" / "s2.parquet")
    ticker_slice(
        s2,
        [
            (2, 0, ts(3), ts(1, 0, 6), "A", 150),  # spike: dip expired, no match
            (3, 0, ts(3), ts(1, 0, 7), "A", 7),  # fresh dip
            (4, 0, ts(3), ts(1, 0, 8), "A", 120),  # spike within 2 min
        ],
    )
    resp2, out2 = runner.run([_input(s2, ts(1, 0, 12))], system_time=ts(3))
    rows = pq.read_table(out2).to_pylist()
    assert [(r["dip"], r["spike"]) for r in rows] == [(7, 120)]


def test_classifier_match_number_final(spark, tmp_path):
    """CLASSIFIER() / MATCH_NUMBER() / FINAL-mode measures; the match
    ordinal is a per-key counter persisted across invocations."""
    query = """select * from tickers
MATCH_RECOGNIZE (
  PARTITION BY symbol
  ORDER BY event_time
  MEASURES
    CLASSIFIER() AS cls,
    MATCH_NUMBER() AS mn,
    FINAL COUNT(B.*) AS total_b,
    COUNT(B.*) AS running_b
  ALL ROWS PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (A B* C)
  DEFINE A AS A.price < 10, B AS B.price >= 10 AND B.price < 100, C AS C.price >= 100
)"""
    runner = TransformRunner(spark, tmp_path, queries=[(query, None)])
    s1 = str(tmp_path / "in" / "s1.parquet")
    ticker_slice(
        s1,
        [
            (0, 0, ts(2), ts(1, 0, 1), "A", 5),
            (1, 0, ts(2), ts(1, 0, 2), "A", 20),
            (2, 0, ts(2), ts(1, 0, 3), "A", 120),
        ],
    )
    resp, out = runner.run([_input(s1, ts(1, 0, 5))], system_time=ts(2))
    rows = pq.read_table(out).to_pylist()
    assert [
        (r["price"], r["cls"], r["mn"], r["total_b"], r["running_b"]) for r in rows
    ] == [
        (5, "A", 1, 1, 0),
        (20, "B", 1, 1, 1),
        (120, "C", 1, 1, 1),
    ]

    # Second match in a later invocation continues the ordinal.
    s2 = str(tmp_path / "in" / "s2.parquet")
    ticker_slice(
        s2,
        [
            (3, 0, ts(3), ts(1, 0, 6), "A", 7),
            (4, 0, ts(3), ts(1, 0, 7), "A", 130),
        ],
    )
    resp2, out2 = runner.run([_input(s2, ts(1, 0, 9))], system_time=ts(3))
    rows2 = pq.read_table(out2).to_pylist()
    assert [(r["price"], r["cls"], r["mn"]) for r in rows2] == [
        (7, "A", 2),
        (130, "C", 2),
    ]


def test_chained_match_into_window_agg(spark, tmp_path):
    """Cross-operator chaining: a MATCH_RECOGNIZE step aliased as a view
    feeds a stateful TUMBLE aggregation — both steps keep independent
    cross-invocation state, and the window closes over matches whose
    resolution arrived in a later run."""
    step1 = (
        """select * from tickers
MATCH_RECOGNIZE (
  PARTITION BY symbol
  ORDER BY event_time
  MEASURES LAST(C.event_time) AS event_time, A.price AS dip, C.price AS spike
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (A B* C)
  DEFINE A AS A.price < 10, B AS B.price >= 10 AND B.price < 100, C AS C.price >= 100
)""",
        "dips",
    )
    step2 = (
        """SELECT
  TUMBLE_START(event_time, INTERVAL '10' MINUTE) as event_time,
  count(*) as n_matches,
  min(dip) as min_dip
FROM dips GROUP BY TUMBLE(event_time, INTERVAL '10' MINUTE)""",
        None,
    )
    runner = TransformRunner(spark, tmp_path, queries=[step1, step2])
    s1 = str(tmp_path / "in" / "s1.parquet")
    ticker_slice(
        s1,
        [
            (0, 0, ts(2), ts(1, 0, 1), "A", 5),
            (1, 0, ts(2), ts(1, 0, 2), "A", 120),  # match 1 ends 00:02
            (2, 0, ts(2), ts(1, 0, 3), "A", 7),  # pending dip
        ],
    )
    import os

    # Run 1: one match found, but its window [00:00, 00:10) is still open.
    resp, out = runner.run([_input(s1, ts(1, 0, 5))], system_time=ts(2))
    assert resp.new_offset_interval is None and not os.path.exists(out)

    s2 = str(tmp_path / "in" / "s2.parquet")
    ticker_slice(
        s2,
        [
            (3, 0, ts(3), ts(1, 0, 6), "A", 150),  # resolves match 2 (7 -> 150)
            (4, 0, ts(3), ts(1, 0, 15), "A", 4),
        ],
    )
    # Run 2: watermark passes 00:10 -> the window emits BOTH matches.
    resp2, out2 = runner.run([_input(s2, ts(1, 0, 12))], system_time=ts(3))
    rows = pq.read_table(out2).to_pylist()
    assert [
        (r["event_time"].replace(tzinfo=timezone.utc), r["n_matches"], r["min_dip"])
        for r in rows
    ] == [(ts(1, 0, 0), 2, 5)]


def test_match_recognize_parse_rules():
    # Quantified final elements are supported (greedy-tail suspension).
    spec = parse_match_recognize(
        "select * from t MATCH_RECOGNIZE (ORDER BY ts MEASURES A.x AS event_time "
        "PATTERN (A B+) DEFINE A AS A.x > 0, B AS B.x > 0)"
    )
    assert spec["elements"] == [(("A",), "one", True), (("B",), "plus", True)]
    # Alternation groups parse to multi-var elements.
    spec2 = parse_match_recognize(
        "select * from t MATCH_RECOGNIZE (ORDER BY ts MEASURES A.x AS event_time "
        "PATTERN (A (B | C)+ D) DEFINE A AS A.x > 0)"
    )
    assert spec2["elements"] == [
        (("A",), "one", True),
        (("B", "C"), "plus", True),
        (("D",), "one", True),
    ]
    # PREV of the own variable compiles to a lag column.
    spec = parse_match_recognize(
        "select * from t MATCH_RECOGNIZE (ORDER BY ts MEASURES A.x AS event_time "
        "PATTERN (A B) DEFINE A AS A.x > 0, B AS B.x > PREV(B.x))"
    )
    assert spec["lags"] == [("x", 1)]
    assert spec["defines"]["B"] == "x > __lag1_x"
    # Bare cross-variable references stay rejected (navigation is the
    # supported spelling).
    with pytest.raises(InvalidQueryError, match="FIRST/LAST navigation"):
        parse_match_recognize(
            "select * from t MATCH_RECOGNIZE (ORDER BY ts MEASURES A.x AS event_time "
            "PATTERN (A B) DEFINE A AS A.x > 0, B AS B.x > A.x)"
        )
    with pytest.raises(InvalidQueryError, match="own variable"):
        parse_match_recognize(
            "select * from t MATCH_RECOGNIZE (ORDER BY ts MEASURES A.x AS event_time "
            "PATTERN (A B) DEFINE A AS A.x > 0, B AS B.x > PREV(A.x))"
        )


def test_alternation_group(spark, tmp_path):
    """Alternation `(B | C)+`: rows classified as the FIRST alternative
    whose predicate holds; the group's quantifier spans both."""
    query = """select * from tickers
MATCH_RECOGNIZE (
  PARTITION BY symbol
  ORDER BY event_time
  MEASURES CLASSIFIER() AS cls, D.price AS spike
  ALL ROWS PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (A (B | C)+ D)
  DEFINE
    A AS A.price < 10,
    B AS B.price >= 10 AND B.price < 50,
    C AS C.price >= 50 AND C.price < 100,
    D AS D.price >= 100
)"""
    runner = TransformRunner(spark, tmp_path, queries=[(query, None)])
    s1 = str(tmp_path / "in" / "s1.parquet")
    ticker_slice(
        s1,
        [
            (0, 0, ts(2), ts(1, 0, 1), "A", 5),  # A
            (1, 0, ts(2), ts(1, 0, 2), "A", 20),  # B
            (2, 0, ts(2), ts(1, 0, 3), "A", 70),  # C
            (3, 0, ts(2), ts(1, 0, 4), "A", 30),  # B
            (4, 0, ts(2), ts(1, 0, 5), "A", 150),  # D
        ],
    )
    resp, out = runner.run([_input(s1, ts(1, 0, 6))], system_time=ts(2))
    rows = pq.read_table(out).to_pylist()
    assert [(r["price"], r["cls"]) for r in rows] == [
        (5, "A"),
        (20, "B"),
        (70, "C"),
        (30, "B"),
        (150, "D"),
    ]


def test_skip_to_last_var_w_shape(spark, tmp_path):
    """AFTER MATCH SKIP TO LAST(UP): the W-shape idiom — the first V's
    final peak becomes the next V's start row (overlap by one row)."""
    query = """select * from tickers
MATCH_RECOGNIZE (
  PARTITION BY symbol
  ORDER BY event_time
  MEASURES STRT.price AS start_price, MIN(DOWN.price) AS bottom,
           LAST(UP.price) AS top, STRT.event_time AS event_time
  ONE ROW PER MATCH
  AFTER MATCH SKIP TO LAST(UP)
  PATTERN (STRT DOWN+ UP+)
  DEFINE
    DOWN AS DOWN.price < PREV(DOWN.price),
    UP AS UP.price > PREV(UP.price)
)"""
    runner = TransformRunner(spark, tmp_path, queries=[(query, None)])
    s1 = str(tmp_path / "in" / "s1.parquet")
    prices = [12, 10, 8, 9, 11, 7, 6, 9, 12, 3]
    ticker_slice(
        s1,
        [
            (i, 0, ts(2), ts(1, 0, i + 1), "A", p)
            for i, p in enumerate(prices)
        ],
    )
    resp, out = runner.run([_input(s1, ts(1, 0, 11))], system_time=ts(2))
    rows = pq.read_table(out).to_pylist()
    # Two V's sharing the 11-peak: (12 -> 8 -> 11) then (11 -> 6 -> 12).
    assert [(r["start_price"], r["bottom"], r["top"]) for r in rows] == [
        (12, 8, 11),
        (11, 6, 12),
    ]


def test_bounded_quantifier_parse():
    from kamu_engine_flink_spark.operators.match_recognize import _parse_pattern
    from kamu_engine_flink_spark.protocol.model import InvalidQueryError
    import pytest

    assert _parse_pattern("A B{2,3} C") == [
        (("A",), "one", True),
        (("B",), ("range", 2, 3), True),
        (("C",), "one", True),
    ]
    assert _parse_pattern("B{2}") == [(("B",), ("range", 2, 2), True)]
    assert _parse_pattern("B{2,}") == [(("B",), ("range", 2, None), True)]
    assert _parse_pattern("B{1,4}?") == [(("B",), ("range", 1, 4), False)]
    assert _parse_pattern("(B | C){0,2}") == [(("B", "C"), ("range", 0, 2), True)]
    with pytest.raises(InvalidQueryError):
        _parse_pattern("B{3,2}")


def test_bounded_quantifier_matching(spark):
    """Flink's {n}/{n,}/{n,m} surface. C ⊂ B, so bounds control how many
    mid rows the run may swallow."""
    rows = [(0, 5), (1, 20), (2, 30), (3, 40), (4, 150), (5, 3)]
    # exact {2}: A, exactly 2 Bs, then C must hold at row 3 -> no match
    # (row 3 is 40, not >= 100); with {3} row 4 is the C.
    assert _mr_batch(spark, rows, "(A B{3} C)") == [(3, 150.0, 5.0)]
    assert _mr_batch(spark, rows, "(A B{4} C)") == []
    # {2,3} greedy prefers 3 mids; the C lands on the spike.
    assert _mr_batch(spark, rows, "(A B{2,3} C)") == [(3, 150.0, 5.0)]
    # upper bound forces fewer mids than available: B{1,2} takes rows 1-2,
    # then C must hold at row 3 (40 < 100) -> backtracks to no match
    # anywhere (no 2-mid window ends at a spike).
    assert _mr_batch(spark, rows, "(A B{1,2} C)") == []
    # a tighter stream where {1,2} does land on the spike
    rows2 = [(0, 5), (1, 20), (2, 120), (3, 3)]
    assert _mr_batch(spark, rows2, "(A B{1,2} C)") == [(1, 120.0, 5.0)]
    # reluctant prefers the SHORT run: 1 mid then C at row 2 (120) wins
    rows3 = [(0, 5), (1, 20), (2, 120), (3, 130), (4, 3)]
    assert _mr_batch(spark, rows3, "(A B{1,2}? C)") == [(1, 120.0, 5.0)]
    assert _mr_batch(spark, rows3, "(A B{1,2} C)") == [(2, 130.0, 5.0)]
    # {n,} unbounded above behaves like a floored star
    assert _mr_batch(spark, rows, "(A B{2,} C)") == [(3, 150.0, 5.0)]


def test_bounded_quantifier_suspends_until_resolved(spark, tmp_path):
    """Greedy B{1,3} with C ⊂ B at a watermark boundary: the attempt can
    still prefer a longer mid-run, so nothing emits until the bound
    resolves (cross-run exactness, same contract as B*)."""
    runner = TransformRunner(
        spark,
        tmp_path,
        queries=[
            (
                """select * from tickers MATCH_RECOGNIZE (
  PARTITION BY symbol ORDER BY event_time
  MEASURES A.event_time AS event_time, COUNT(B.*) AS n_mid, C.price AS spike
  ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
  PATTERN (A B{1,3} C)
  DEFINE A AS A.price < 10, B AS B.price >= 10, C AS C.price >= 100
)""",
                None,
            )
        ],
    )
    s1 = str(tmp_path / "in" / "s1.parquet")
    ticker_slice(
        s1,
        [
            (0, 0, ts(2), ts(1, 0, 1), "A", 5),
            (1, 0, ts(2), ts(1, 0, 2), "A", 20),
            (2, 0, ts(2), ts(1, 0, 3), "A", 120),
        ],
    )
    resp, out = runner.run([_input(s1, ts(1, 0, 3))], system_time=ts(2))
    # 120 satisfies both B and C; greedy wants more mids -> suspended.
    assert resp.new_offset_interval is None

    s2 = str(tmp_path / "in" / "s2.parquet")
    ticker_slice(s2, [(3, 0, ts(3), ts(1, 0, 4), "A", 130), (4, 0, ts(3), ts(1, 0, 5), "A", 3)])
    resp, out = runner.run([_input(s2, ts(1, 0, 6))], system_time=ts(3))
    rows = [
        (r["n_mid"], r["spike"]) for r in pq.read_table(out).to_pylist()
    ]
    # resolved: greedy tries 3 mids (20,120,130) but then C fails on the
    # closing 3-row; it backtracks to 2 mids with C = 130.
    assert rows == [(2, 130)]


def test_split_path_watermark_completion_for_untouched_keys(spark, tmp_path):
    """Forces the touched-keys SPLIT path (buffer >> slice). Invocation 1
    buffers complete A-C sequences for thousands of keys but holds the
    watermark behind them (a greedy B* needs the next row confirmed, so
    every attempt suspends). Invocation 2's one-row slice advances the
    watermark: every key's match must complete via the released-keys
    probe, with no slice row for those keys. A key whose rows stay beyond
    the watermark must keep suspending and complete later."""
    import os

    runner = TransformRunner(spark, tmp_path, queries=[(MR_QUERY, None)])
    n = 3000
    s1 = str(tmp_path / "in" / "s1.parquet")
    rows = []
    for i in range(n):
        rows.append((2 * i, 0, ts(5), ts(1, 0, 1), f"K{i:05d}", 5))
        rows.append((2 * i + 1, 0, ts(5), ts(1, 0, 2), f"K{i:05d}", 200))
    rows.append((2 * n, 0, ts(5), ts(9), "FUTURE", 5))
    ticker_slice(s1, rows)
    resp, out = runner.run([_input(s1, ts(1, 0, 1))], system_time=ts(5))
    # Watermark sits on the A rows: C is unconfirmed, all attempts suspend.
    assert not os.path.exists(out)

    s2 = str(tmp_path / "in" / "s2.parquet")
    ticker_slice(s2, [(2 * n + 1, 0, ts(6), ts(2), "LONER", 7)])
    resp, out = runner.run([_input(s2, ts(3))], system_time=ts(6))
    got = _rows(out)
    # All n suspended keys complete on watermark advance alone.
    assert len(got) == n
    assert {r[2] for r in got} == {f"K{i:05d}" for i in range(n)}
    assert all((r[7], r[8]) == (5, 200) for r in got)

    # FUTURE's A row (ts(9)) is beyond wm ts(3) and LONER's A row awaits a
    # C; both complete in a later invocation from state.
    s3 = str(tmp_path / "in" / "s3.parquet")
    ticker_slice(
        s3,
        [
            (2 * n + 2, 0, ts(7), ts(4), "LONER", 150),
            (2 * n + 3, 0, ts(7), ts(9, 1), "FUTURE", 300),
        ],
    )
    resp, out = runner.run([_input(s3, ts(10))], system_time=ts(7))
    got3 = _rows(out)
    assert {(r[2], r[7], r[8]) for r in got3} == {
        ("LONER", 7, 150),
        ("FUTURE", 5, 300),
    }  # LONER's C arrives at ts(4) > the inv-2 watermark (not late)


def test_split_path_within_finalizes_untouched_keys(spark, tmp_path):
    """ADVICE r5 (high): under the touched-keys split, a greedy attempt
    that already SATISFIES the pattern (A B* with WITHIN) suspends awaiting
    more rows and is finalized by watermark advance alone once
    wm >= start + within. Such keys have no slice rows and no rows released
    in (prev_wm, new_wm] — the probe must still route them to 'active' via
    the WITHIN-horizon crossing, or their emissions defer forever."""
    query = """select * from tickers
MATCH_RECOGNIZE (
  PARTITION BY symbol
  ORDER BY event_time
  MEASURES A.event_time AS event_time, COUNT(B.*) AS n_mid, A.price AS dip
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (A B*) WITHIN INTERVAL '2' MINUTE
  DEFINE A AS A.price < 10, B AS B.price >= 10
)"""
    runner = TransformRunner(spark, tmp_path, queries=[(query, None)])
    n = 3000
    s1 = str(tmp_path / "in" / "s1.parquet")
    rows = []
    for i in range(n):
        rows.append((2 * i, 0, ts(5), ts(1, 0, 1), f"K{i:05d}", 5))
        rows.append((2 * i + 1, 0, ts(5), ts(1, 0, 2), f"K{i:05d}", 20))
    ticker_slice(s1, rows)
    import os

    resp, out = runner.run([_input(s1, ts(1, 0, 2))], system_time=ts(5))
    # wm 00:02 < start+within 00:03: every greedy attempt suspends
    # (satisfied, but more B rows could still arrive).
    assert not os.path.exists(out)

    # Slice touches ONLY key LONER; the watermark crosses every suspended
    # attempt's WITHIN horizon — all n finalize with no slice/released row.
    s2 = str(tmp_path / "in" / "s2.parquet")
    ticker_slice(s2, [(2 * n, 0, ts(6), ts(1, 0, 9), "LONER", 7)])
    resp, out = runner.run([_input(s2, ts(1, 0, 10))], system_time=ts(6))
    got = pq.read_table(out).to_pylist()
    assert len(got) == n
    assert {r["symbol"] for r in got} == {f"K{i:05d}" for i in range(n)}
    assert all((r["n_mid"], r["dip"]) == (1, 5) for r in got)

    # LONER's own attempt (start 00:09, horizon 00:11 > wm 00:10) is still
    # suspended and finalizes on a later watermark-only advance.
    s3 = str(tmp_path / "in" / "s3.parquet")
    ticker_slice(s3, [])
    resp, out = runner.run([_input(s3, ts(1, 0, 30))], system_time=ts(7))
    got3 = pq.read_table(out).to_pylist()
    assert [(r["symbol"], r["n_mid"], r["dip"]) for r in got3] == [("LONER", 0, 7)]


NAV_V_QUERY = """select * from tickers
MATCH_RECOGNIZE (
  PARTITION BY symbol
  ORDER BY event_time
  MEASURES
    STRT.event_time AS event_time,
    STRT.price AS start_price,
    LAST(DOWN.price) AS bottom_price,
    LAST(UP.price) AS end_price
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (STRT DOWN+ UP+)
  DEFINE
    DOWN AS DOWN.price < LAST(DOWN.price, 1)
         OR (LAST(DOWN.price, 1) IS NULL AND DOWN.price < LAST(STRT.price)),
    UP AS UP.price > LAST(UP.price, 1)
       OR (LAST(UP.price, 1) IS NULL AND UP.price > LAST(DOWN.price))
)"""


def test_navigation_last_v_shape_cross_run(spark, tmp_path):
    """Flink's LAST-navigation spelling of the V shape (docs "Pattern
    Navigation"): LAST(V.col, 1) inside V's own DEFINE is the previous
    V-mapped row of THIS attempt, cross-variable LAST(STRT.price) bridges
    run starts, and IS NULL bootstraps the first run row. Same rows as
    test_v_pattern_prev_cross_run — the greedy UP+ tail suspends at the
    watermark and resolves next invocation with the identical answer."""
    import os

    runner = TransformRunner(spark, tmp_path, queries=[(NAV_V_QUERY, None)])
    s1 = str(tmp_path / "in" / "s1.parquet")
    ticker_slice(
        s1,
        [
            (0, 0, ts(2), ts(1, 0, 1), "A", 12),
            (1, 0, ts(2), ts(1, 0, 2), "A", 10),
            (2, 0, ts(2), ts(1, 0, 3), "A", 8),
            (3, 0, ts(2), ts(1, 0, 4), "A", 9),
            (4, 0, ts(2), ts(1, 0, 5), "A", 11),
            (5, 0, ts(2), ts(1, 0, 6), "A", 11),  # flat: beyond wm, pending
        ],
    )
    resp, out = runner.run([_input(s1, ts(1, 0, 5))], system_time=ts(2))
    assert resp.new_offset_interval is None and not os.path.exists(out)

    s2 = str(tmp_path / "in" / "s2.parquet")
    ticker_slice(s2, [(6, 0, ts(3), ts(1, 0, 7), "A", 13)])
    resp2, out2 = runner.run([_input(s2, ts(1, 0, 10))], system_time=ts(3))
    rows = pq.read_table(out2).to_pylist()
    assert [
        (r["symbol"], r["start_price"], r["bottom_price"], r["end_price"])
        for r in rows
    ] == [("A", 12, 8, 11)]


def test_navigation_first_cross_var_arithmetic(spark, tmp_path):
    """FIRST(A.col) referenced from ANOTHER variable's DEFINE, with
    arithmetic: B rows must exceed twice the attempt's first A price and
    the closing C must dip below it."""
    query = """select * from tickers
MATCH_RECOGNIZE (
  PARTITION BY symbol
  ORDER BY event_time
  MEASURES
    A.event_time AS event_time,
    FIRST(A.price) AS a_price,
    COUNT(B.*) AS n_b,
    C.price AS c_price
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (A B+ C)
  DEFINE
    A AS A.price < 10,
    B AS B.price > FIRST(A.price) * 2,
    C AS C.price < FIRST(A.price)
)"""
    runner = TransformRunner(spark, tmp_path, queries=[(query, None)])
    s1 = str(tmp_path / "in" / "s1.parquet")
    ticker_slice(
        s1,
        [
            (0, 0, ts(2), ts(1, 0, 1), "A", 5),
            (1, 0, ts(2), ts(1, 0, 2), "A", 11),  # > 10 = 2*5
            (2, 0, ts(2), ts(1, 0, 3), "A", 12),
            (3, 0, ts(2), ts(1, 0, 4), "A", 3),   # < 5 closes
        ],
    )
    resp, out = runner.run([_input(s1, ts(1, 0, 5))], system_time=ts(2))
    rows = pq.read_table(out).to_pylist()
    assert [(r["a_price"], r["n_b"], r["c_price"]) for r in rows] == [(5, 2, 3)]


def test_navigation_define_parse_rules():
    def q(define):
        return f"""select * from t MATCH_RECOGNIZE (
  PARTITION BY k ORDER BY ts
  MEASURES A.ts AS event_time, COUNT(B.*) AS n_b
  ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
  PATTERN (A B+)
  DEFINE {define}
)"""

    # NEXT stays rejected (forward navigation).
    with pytest.raises(InvalidQueryError, match="NEXT in DEFINE"):
        parse_match_recognize(q("B AS NEXT(B.price) > 1"))
    # Bare cross-variable references still reject — write LAST(A.col).
    with pytest.raises(InvalidQueryError, match="FIRST/LAST navigation"):
        parse_match_recognize(q("B AS B.price > A.price"))
    # Navigation of a variable not in the pattern.
    with pytest.raises(InvalidQueryError, match="unknown pattern variable"):
        parse_match_recognize(q("B AS B.price > LAST(Z.price)"))
    # Richer expressions inside a navigation predicate reject loudly.
    with pytest.raises(InvalidQueryError, match="navigation DEFINE"):
        parse_match_recognize(q("B AS ABS(LAST(B.price, 1)) > 1"))
    # The happy path parses and routes to dyn_defines.
    spec = parse_match_recognize(q("B AS B.price > LAST(B.price, 1)"))
    assert "B" in spec["dyn_defines"] and spec["defines"] == {}


def test_measure_offsets(spark):
    """FIRST/LAST(V.col, n) offsets in MEASURES: n-th row mapped to the
    variable from either end, NULL when out of range; offsets on
    aggregates reject."""
    from kamu_engine_flink_spark.operators.match_recognize import (
        match_recognize_batch,
    )

    df = spark.createDataFrame(
        [(1, s, s, float(x)) for s, x in
         [(0, 5), (1, 20), (2, 30), (3, 40), (4, 120)]],
        "k int, ts long, __seq long, x double",
    )
    out = match_recognize_batch(
        spark,
        df,
        """select * from t MATCH_RECOGNIZE (
             PARTITION BY k ORDER BY ts
             MEASURES
               FIRST(B.x, 1) AS second_b,
               LAST(B.x, 1) AS second_last_b,
               LAST(B.x, 9) AS oob_b,
               C.x AS c_x
             ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
             PATTERN (A B+ C)
             DEFINE A AS A.x < 10, B AS B.x >= 10 AND B.x < 100,
                    C AS C.x >= 100
           )""",
    )
    rows = out.collect()
    assert [(r.second_b, r.second_last_b, r.oob_b, r.c_x) for r in rows] == [
        (30.0, 30.0, None, 120.0)
    ]

    with pytest.raises(InvalidQueryError, match="offset argument"):
        parse_match_recognize(
            "select * from t MATCH_RECOGNIZE (ORDER BY ts "
            "MEASURES SUM(B.x, 1) AS s PATTERN (B+) DEFINE B AS B.x > 0)"
        )


def test_all_rows_pattern_exclusion(spark, tmp_path):
    """SQL:2016 row-pattern exclusion `{- B* -}` (Flink parity): the
    excluded rows MATCH — measures still see them — but are omitted from
    ALL ROWS PER MATCH output."""
    query = """select * from tickers
MATCH_RECOGNIZE (
  PARTITION BY symbol
  ORDER BY event_time
  MEASURES
    COUNT(B.*) AS n_mid,
    C.price AS spike
  ALL ROWS PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (A {- B* -} C)
  DEFINE A AS A.price < 10, B AS B.price >= 10 AND B.price < 100, C AS C.price >= 100
)"""
    runner = TransformRunner(spark, tmp_path, queries=[(query, None)])
    s1 = str(tmp_path / "in" / "s1.parquet")
    ticker_slice(
        s1,
        [
            (0, 0, ts(2), ts(1, 0, 1), "A", 5),
            (1, 0, ts(2), ts(1, 0, 2), "A", 20),   # excluded B row
            (2, 0, ts(2), ts(1, 0, 3), "A", 30),   # excluded B row
            (3, 0, ts(2), ts(1, 0, 4), "A", 120),
        ],
    )
    resp, out = runner.run([_input(s1, ts(1, 0, 5))], system_time=ts(2))
    rows = pq.read_table(out).to_pylist()
    # The B rows are gone from the output, yet COUNT(B.*) on the C row
    # proves they were matched (RUNNING count at A is still 0).
    assert [
        (r["symbol"], r["price"], r["n_mid"], r["spike"]) for r in rows
    ] == [
        ("A", 5, 0, None),
        ("A", 120, 2, 120),
    ]


def test_all_rows_pattern_exclusion_cross_invocation(spark, tmp_path):
    """Exclusion with NFA emission timing intact: a greedy excluded tail
    suspended at the invocation boundary resolves on the next run and
    the match emits only its non-excluded rows."""
    query = """select * from tickers
MATCH_RECOGNIZE (
  PARTITION BY symbol
  ORDER BY event_time
  MEASURES COUNT(B.*) AS n_mid, C.price AS spike
  ALL ROWS PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (A {- B* -} C)
  DEFINE A AS A.price < 10, B AS B.price >= 10 AND B.price < 100, C AS C.price >= 100
)"""
    runner = TransformRunner(spark, tmp_path, queries=[(query, None)])
    s1 = str(tmp_path / "in" / "s1.parquet")
    ticker_slice(
        s1,
        [
            (0, 0, ts(2), ts(1, 0, 1), "A", 5),
            (1, 0, ts(2), ts(1, 0, 2), "A", 20),
        ],
    )
    # Invocation 1: the greedy excluded B* tail may still extend — the
    # whole match suspends, nothing emits.
    resp, out = runner.run([_input(s1, ts(1, 0, 2))], system_time=ts(2))
    import os

    assert not os.path.exists(out)

    s2 = str(tmp_path / "in" / "s2.parquet")
    ticker_slice(
        s2,
        [
            (2, 0, ts(3), ts(1, 0, 3), "A", 40),
            (3, 0, ts(3), ts(1, 0, 4), "A", 150),
        ],
    )
    resp2, out2 = runner.run([_input(s2, ts(1, 0, 5))], system_time=ts(3))
    rows = pq.read_table(out2).to_pylist()
    assert [
        (r["symbol"], r["price"], r["n_mid"], r["spike"]) for r in rows
    ] == [
        ("A", 5, 0, None),
        ("A", 150, 2, 150),
    ]


def test_pattern_exclusion_mixed_variable_rejects(spark, tmp_path):
    """A variable occurring both inside and outside an exclusion is
    ambiguous for variable-level filtering — loud reject."""
    from kamu_engine_flink_spark.protocol.model import InvalidQueryError

    query = """select * from tickers
MATCH_RECOGNIZE (
  PARTITION BY symbol
  ORDER BY event_time
  MEASURES C.price AS spike
  ALL ROWS PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (B {- B -} C)
  DEFINE B AS B.price < 100, C AS C.price >= 100
)"""
    runner = TransformRunner(spark, tmp_path, queries=[(query, None)])
    s1 = str(tmp_path / "in" / "s1.parquet")
    ticker_slice(s1, [(0, 0, ts(2), ts(1, 0, 1), "A", 5)])
    with pytest.raises(InvalidQueryError, match="inside and outside"):
        runner.run([_input(s1, ts(1, 0, 5))], system_time=ts(2))


def test_no_partition_by_matches_constant_key(spark, tmp_path):
    """Without PARTITION BY the whole stream is one group. Over two
    resumed invocations (a match suspended across the boundary) and in
    batch, it must match exactly like PARTITION BY a constant column,
    with that column dropped."""
    from kamu_engine_flink_spark.operators.match_recognize import (
        match_recognize_batch,
    )

    no_keys = MR_QUERY.replace("  PARTITION BY symbol\n", "")
    assert "PARTITION BY" not in no_keys
    slices = [
        [
            (0, 0, ts(2), ts(1, 0, 1), "A", 5),
            (1, 0, ts(2), ts(1, 0, 2), "A", 20),
            (2, 0, ts(2), ts(1, 0, 4), "A", 120),
            (3, 0, ts(2), ts(1, 0, 3), "A", 50),
            (4, 0, ts(2), ts(1, 0, 5), "A", 7),
            (5, 0, ts(2), ts(1, 0, 6), "A", 30),
        ],
        [
            (6, 0, ts(3), ts(1, 0, 7), "A", 150),
            (7, 0, ts(3), ts(1, 0, 8), "A", 4),
            (8, 0, ts(3), ts(1, 0, 9), "A", 101),
        ],
    ]

    def streamed(query, name):
        runner = TransformRunner(spark, tmp_path / name, queries=[(query, None)])
        outs = []
        for i, rows in enumerate(slices):
            p = str(tmp_path / name / "in" / f"s{i}.parquet")
            ticker_slice(p, rows)
            _, out = runner.run([_input(p, rows[-1][3])], system_time=ts(2 + i))
            outs.append([
                {k: v for k, v in r.items() if k != "symbol"}
                for r in pq.read_table(out).to_pylist()
            ])
        return outs

    keyed = streamed(MR_QUERY, "keyed")
    assert [len(o) for o in keyed] == [1, 2]
    assert streamed(no_keys, "global") == keyed

    df = spark.createDataFrame(
        [(r[3], r[4], r[5], r[0]) for rows in slices for r in rows],
        "event_time timestamp, symbol string, price int, __seq long",
    )

    def batch(query):
        out = match_recognize_batch(spark, df, query)
        return sorted(
            tuple(r[c] for c in out.columns if c != "symbol") for r in out.collect()
        )

    assert len(batch(MR_QUERY)) == 3
    assert batch(no_keys) == batch(MR_QUERY)


def test_define_string_literal_with_comma(spark, tmp_path):
    """A comma inside a DEFINE predicate's string literal does not split
    the DEFINE list (Flink accepts `A AS A.symbol = 'x,y'`)."""
    query = """select * from tickers
MATCH_RECOGNIZE (
  ORDER BY event_time
  MEASURES A.price AS start_price, C.price AS end_price,
    LAST(C.event_time) AS event_time
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (A C)
  DEFINE A AS A.symbol = 'x,y', C AS C.price >= 100
)"""
    runner = TransformRunner(spark, tmp_path, queries=[(query, None)])
    s1 = str(tmp_path / "in" / "s1.parquet")
    ticker_slice(
        s1,
        [
            (0, 0, ts(2), ts(1, 0, 1), "x,y", 5),
            (1, 0, ts(2), ts(1, 0, 2), "x,y", 120),
            (2, 0, ts(2), ts(1, 0, 3), "B", 5),
            (3, 0, ts(2), ts(1, 0, 4), "B", 130),
            (4, 0, ts(2), ts(1, 0, 5), "x,y", 7),
            (5, 0, ts(2), ts(1, 0, 6), "x,y", 150),
        ],
    )
    _, out = runner.run([_input(s1, ts(1, 0, 10))], system_time=ts(2))
    assert [
        (r["start_price"], r["end_price"]) for r in pq.read_table(out).to_pylist()
    ] == [(5, 120), (7, 150)]
