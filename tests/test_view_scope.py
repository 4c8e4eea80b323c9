"""Temp-view contract of `StepContext.sql`, the one way an executor runs
SQL over substituted inputs.

An executor binds its own frames under view names for one query (a join
branch's slice against state, a window's closed rows, an internal
re-projection view); consecutive calls over the same names re-register
nothing else, and the engine releases every bound name after the step.
These tests pin what that release must keep: after the step, every input
view name resolves to its ORIGINAL slice (a downstream step re-reading a
raw input sees the slice, not a leftover binding), an executor's private
names are dropped, and an invocation leaves the session's temp-view set
as it found it.
"""

import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from kamu_engine_flink_spark.protocol.model import DatasetVocabulary

from .helpers import TransformRunner, ticker_slice, ts
from .test_interval_join import orders_slice, shipments_slice

RJ_QUERY = """SELECT
  o.event_time as event_time,
  o.order_id,
  o.quantity as order_quantity,
  s.num_shipped as shipped_quantity
FROM
  orders as o
JOIN shipments as s
ON
  o.order_id = s.order_id"""

IJ_QUERY = """SELECT
  o.event_time as event_time,
  o.order_id,
  o.quantity,
  s.num_shipped
FROM orders as o
LEFT JOIN shipments as s
ON o.order_id = s.order_id
AND s.event_time BETWEEN o.event_time AND o.event_time + INTERVAL '1' DAY"""

# The downstream step re-reads the RAW input view after the join executor
# ran: a stale branch binding (empty side, pad subset) would change its
# rows.
READBACK = "SELECT event_time, order_id, quantity FROM orders"


def _orders(path, rows):
    orders_slice(path, rows)


def test_regular_join_restores_views_for_downstream_step(spark, tmp_path):
    runner = TransformRunner(
        spark,
        tmp_path,
        queries=[(RJ_QUERY, "pairs"), (READBACK, None)],
        vocab=DatasetVocabulary(),
    )
    o1 = str(tmp_path / "o1.parquet")
    s1 = str(tmp_path / "s1.parquet")
    _orders(o1, [(0, 0, ts(2), ts(1), 1, 10), (1, 0, ts(2), ts(1), 2, 20)])
    shipments_slice(s1, [(0, ts(2), ts(1), 1, 4)])
    _, out = runner.run(
        [
            {"alias": "orders", "data_paths": [o1], "schema_file": o1, "watermark": ts(1)},
            {"alias": "shipments", "data_paths": [s1], "schema_file": s1, "watermark": ts(1)},
        ],
        system_time=ts(5),
    )
    got = sorted(
        (r["order_id"], r["quantity"]) for r in pq.read_table(out).to_pylist()
    )
    assert got == [(1, 10), (2, 20)]  # the full orders slice, not a branch

    # Second invocation: state-bearing path (old x new branches) runs too.
    o2 = str(tmp_path / "o2.parquet")
    s2 = str(tmp_path / "s2.parquet")
    _orders(o2, [(2, 0, ts(3), ts(2), 3, 30)])
    shipments_slice(s2, [(1, ts(3), ts(2), 2, 8)])
    _, out = runner.run(
        [
            {"alias": "orders", "data_paths": [o2], "schema_file": o2, "watermark": ts(2)},
            {"alias": "shipments", "data_paths": [s2], "schema_file": s2, "watermark": ts(2)},
        ],
        system_time=ts(6),
    )
    got = sorted(
        (r["order_id"], r["quantity"]) for r in pq.read_table(out).to_pylist()
    )
    assert got == [(3, 30)]


def test_interval_join_restores_views_for_downstream_step(spark, tmp_path):
    runner = TransformRunner(
        spark,
        tmp_path,
        queries=[(IJ_QUERY, "joined"), (READBACK, None)],
        vocab=DatasetVocabulary(),
    )
    o1 = str(tmp_path / "o1.parquet")
    s1 = str(tmp_path / "s1.parquet")
    _orders(o1, [(0, 0, ts(2), ts(1), 1, 10), (1, 0, ts(2), ts(1), 2, 20)])
    shipments_slice(s1, [(0, ts(2), ts(1), 1, 4)])
    for st, wm in ((ts(5), ts(1)), (ts(6), ts(4))):
        _, out = runner.run(
            [
                {"alias": "orders", "data_paths": [o1], "schema_file": o1, "watermark": wm},
                {"alias": "shipments", "data_paths": [s1], "schema_file": s1, "watermark": wm},
            ],
            system_time=st,
        )
        got = sorted(
            (r["order_id"], r["quantity"]) for r in pq.read_table(out).to_pylist()
        )
        assert got == [(1, 10), (2, 20)]


def test_self_join_private_view_dropped(spark, tmp_path):
    sql = """SELECT
  a.event_time as event_time,
  a.order_id,
  a.quantity as qa,
  b.quantity as qb
FROM orders as a
JOIN orders as b
ON a.order_id = b.order_id"""
    runner = TransformRunner(
        spark, tmp_path, queries=[(sql, None)], vocab=DatasetVocabulary()
    )
    o1 = str(tmp_path / "o1.parquet")
    _orders(o1, [(0, 0, ts(2), ts(1), 1, 10)])
    runner.run(
        [{"alias": "orders", "data_paths": [o1], "schema_file": o1, "watermark": ts(1)}],
        system_time=ts(5),
    )
    from kamu_engine_flink_spark.operators.regular_join import _SELF_RIGHT

    assert not spark.catalog.tableExists(_SELF_RIGHT)


def test_transform_drops_its_views(spark, tmp_path):
    """Request A registers input `events`; request B, on the same
    session, has only input `other` but its SQL reads `events`. B must
    fail to resolve `events`, not read A's slice."""
    events = str(tmp_path / "events.parquet")
    other = str(tmp_path / "other.parquet")
    ticker_slice(events, [(0, 0, ts(2), ts(1), "A", 10), (1, 0, ts(2), ts(1), "B", 20)])
    ticker_slice(other, [(0, 0, ts(2), ts(1), "C", 30)])
    a = TransformRunner(
        spark, tmp_path / "a", queries=[("SELECT event_time, symbol FROM events", None)]
    )
    a.run([{"alias": "events", "data_paths": [events], "schema_file": events}], ts(3))
    b = TransformRunner(
        spark, tmp_path / "b", queries=[("SELECT event_time, symbol FROM events", None)]
    )
    with pytest.raises(AnalysisException, match="events"):
        b.run([{"alias": "other", "data_paths": [other], "schema_file": other}], ts(3))


def test_topn_leaves_no_internal_views(spark, tmp_path):
    """The Top-N executors register an internal view for the outer
    re-projection; none of them outlives the invocation, for the global,
    the keyed and the changelog form."""
    import re

    rank = "row_number() over ({}order by price desc) AS place"
    topn = (
        "SELECT event_time, symbol, price, place FROM (SELECT {}, event_time, "
        "symbol, price FROM {}) WHERE place <= 2"
    )
    agg = (
        "SELECT cast(now() as timestamp(3)) as event_time, symbol, "
        "sum(price) as price FROM events GROUP BY symbol"
    )
    forms = {
        "global": [(topn.format(rank.format(""), "events"), None)],
        "keyed": [(topn.format(rank.format("partition by symbol "), "events"), None)],
        "changelog": [(agg, "g"), (topn.format(rank.format(""), "g"), None)],
    }
    events = str(tmp_path / "events.parquet")
    ticker_slice(
        events,
        [(0, 0, ts(2), ts(1), "A", 10), (1, 0, ts(2), ts(1), "B", 20),
         (2, 0, ts(2), ts(1), "A", 30)],
    )
    for form, queries in forms.items():
        runner = TransformRunner(spark, tmp_path / form, queries=queries)
        resp, _ = runner.run(
            [{"alias": "events", "data_paths": [events], "schema_file": events}],
            ts(3),
        )
        assert resp.new_offset_interval is not None, form
        left = [
            t.name for t in spark.catalog.listTables()
            if re.fullmatch(r"__.*topn.*", t.name)
        ]
        assert left == [], form


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


_TOPN = (
    "SELECT event_time, symbol, price, place FROM (SELECT row_number() OVER "
    "(PARTITION BY symbol ORDER BY price DESC) AS place, event_time, symbol, "
    "price FROM events) WHERE place <= 2"
)
_AGG_OTHER = (
    "SELECT max(event_time) AS event_time, symbol, sum(price) AS rate "
    "FROM other GROUP BY symbol"
)
# Each executor kind that binds views, as (steps before the read-back,
# temporal tables). The kind's own step is aliased `k` and reads `events`.
BINDING_KINDS = {
    "regular_join": ([(
        "SELECT e.event_time, e.symbol, e.price, o.price AS other_price "
        "FROM events e FULL JOIN other o ON e.symbol = o.symbol", "k")], []),
    "interval_join": ([(
        "SELECT e.event_time, e.symbol, e.price, o.price AS other_price "
        "FROM events e LEFT JOIN other o ON e.symbol = o.symbol "
        "AND o.event_time BETWEEN e.event_time AND e.event_time + INTERVAL '1' DAY",
        "k")], []),
    "changelog_join": ([(_AGG_OTHER, "g"), (
        "SELECT e.event_time, e.symbol, g.rate FROM events e "
        "JOIN g ON e.symbol = g.symbol", "k")], []),
    "temporal_join": ([(
        "SELECT e.event_time, e.symbol, e.price, o.price AS rate FROM events e "
        "JOIN other FOR SYSTEM_TIME AS OF e.event_time AS o "
        "ON e.symbol = o.symbol", "k")], [("other", "symbol")]),
    "changelog_temporal_join": ([(_AGG_OTHER, "rates"), (
        "SELECT e.event_time, e.symbol, e.price, rt.rate FROM events e "
        "JOIN rates FOR SYSTEM_TIME AS OF e.event_time AS rt "
        "ON e.symbol = rt.symbol", "k")], [("rates", "symbol")]),
    "window_join": ([(
        "SELECT L.window_start AS event_time, L.symbol, L.price AS a_price, "
        "R.price AS b_price "
        "FROM TABLE(TUMBLE(TABLE events, DESCRIPTOR(event_time), INTERVAL '10' MINUTE)) L "
        "JOIN TABLE(TUMBLE(TABLE other, DESCRIPTOR(event_time), INTERVAL '10' MINUTE)) R "
        "ON L.window_start = R.window_start AND L.symbol = R.symbol", "k")], []),
    "tumble": ([(
        "SELECT TUMBLE_START(event_time, INTERVAL '1' HOUR) AS event_time, symbol, "
        "avg(price) AS avg_price FROM events "
        "GROUP BY TUMBLE(event_time, INTERVAL '1' HOUR), symbol", "k")], []),
    "hop": ([(
        "SELECT HOP_START(event_time, INTERVAL '1' HOUR, INTERVAL '2' HOUR) AS "
        "event_time, symbol, min(price) AS lo FROM events "
        "GROUP BY HOP(event_time, INTERVAL '1' HOUR, INTERVAL '2' HOUR), symbol",
        "k")], []),
    "cumulate": ([(
        "SELECT CUMULATE_END(event_time, INTERVAL '1' HOUR, INTERVAL '4' HOUR) AS "
        "event_time, symbol, avg(price) AS avg_price FROM events "
        "GROUP BY CUMULATE(event_time, INTERVAL '1' HOUR, INTERVAL '4' HOUR), symbol",
        "k")], []),
    "session": ([(
        "SELECT SESSION_START(event_time, INTERVAL '2' HOUR) AS event_time, "
        "SESSION_END(event_time, INTERVAL '2' HOUR) AS sess_end, "
        "symbol, count(*) AS n FROM events "
        "GROUP BY SESSION(event_time, INTERVAL '2' HOUR), symbol", "k")], []),
    "over": ([(
        "SELECT event_time, symbol, price, sum(price) OVER (PARTITION BY symbol "
        "ORDER BY event_time RANGE BETWEEN INTERVAL '2' MINUTE PRECEDING AND "
        "CURRENT ROW) AS s FROM events", "k")], []),
    "unbounded": ([(
        "SELECT max(event_time) AS event_time, symbol, avg(price) AS avg_price "
        "FROM events GROUP BY symbol", "k")], []),
    "setop_nested": ([(
        "SELECT symbol FROM events UNION SELECT symbol FROM other "
        "EXCEPT SELECT symbol FROM other", "k")], []),
    "match_recognize": ([(
        """SELECT * FROM events MATCH_RECOGNIZE (
  PARTITION BY symbol ORDER BY event_time
  MEASURES LAST(C.event_time) AS event_time, COUNT(B.*) AS n_mid
  ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
  PATTERN (A B* C)
  DEFINE A AS A.price < 10, B AS B.price >= 10 AND B.price < 100,
    C AS C.price >= 100
)""", "k")], []),
    "topn": ([(_TOPN, "k")], []),
}
READBACK_EVENTS = "SELECT event_time, symbol, price FROM events"
_EVENTS = [
    [(0, 0, ts(5), ts(1, 0, 1), "A", 5), (1, 0, ts(5), ts(1, 0, 2), "A", 50),
     (2, 0, ts(5), ts(1, 0, 3), "A", 150), (3, 0, ts(5), ts(1, 1), "B", 20)],
    [(4, 0, ts(6), ts(2, 0, 1), "A", 3), (5, 0, ts(6), ts(2, 0, 2), "B", 120)],
]
_OTHER = [
    [(0, 0, ts(5), ts(1), "A", 7), (1, 0, ts(5), ts(1, 0, 5), "B", 8)],
    [(2, 0, ts(6), ts(2), "A", 9)],
]


@pytest.mark.parametrize("kind", sorted(BINDING_KINDS))
def test_executor_leaves_the_temp_view_set_as_found(spark, tmp_path, kind):
    """Two invocations of the kind on the shared session: the set of temp
    views afterwards equals the set before, and a later step re-reading
    the raw input `events` gets its full slice."""
    steps, temporal = BINDING_KINDS[kind]
    runner = TransformRunner(
        spark, tmp_path, queries=[*steps, (READBACK_EVENTS, None)],
        temporal_tables=temporal,
    )
    before = _temp_views(spark)
    for inv, (events_rows, other_rows) in enumerate(zip(_EVENTS, _OTHER)):
        events = str(tmp_path / f"events{inv}.parquet")
        other = str(tmp_path / f"other{inv}.parquet")
        ticker_slice(events, events_rows)
        ticker_slice(other, other_rows)
        wm = ts(1 + inv, 12)
        _, out = runner.run(
            [
                {"alias": "events", "data_paths": [events], "schema_file": events,
                 "watermark": wm},
                {"alias": "other", "data_paths": [other], "schema_file": other,
                 "watermark": wm},
            ],
            system_time=ts(5 + inv),
        )
        got = sorted((r["symbol"], r["price"]) for r in pq.read_table(out).to_pylist())
        assert got == sorted((r[4], r[5]) for r in events_rows), inv
        assert _temp_views(spark) == before, inv


def test_raw_match_recognize_leaves_the_temp_view_set_as_found(spark, tmp_path):
    """The raw-query matcher's projection view is dropped once the
    projection is analyzed."""
    from kamu_engine_flink_spark.engine.raw_query import execute_raw_query
    from kamu_engine_flink_spark.protocol.model import (
        RawQueryRequest,
        SqlQueryStep,
        Transform,
    )

    in_path = str(tmp_path / "input.parquet")
    ticker_slice(
        in_path,
        [(0, 0, ts(5), ts(1), "A", 5), (1, 0, ts(5), ts(2), "A", 120)],
    )
    query = """SELECT symbol, event_time FROM input
MATCH_RECOGNIZE (
  PARTITION BY symbol
  ORDER BY event_time
  MEASURES LAST(C.event_time) AS event_time
  PATTERN (A C)
  DEFINE A AS A.price < 10, C AS C.price >= 100
)"""
    before = _temp_views(spark)
    resp = execute_raw_query(
        spark,
        RawQueryRequest(
            input_data_paths=[in_path],
            transform=Transform(queries=[SqlQueryStep(query=query)]),
            output_data_path=str(tmp_path / "out.parquet"),
        ),
    )
    assert resp.num_records == 1
    assert _temp_views(spark) == before
