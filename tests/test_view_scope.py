"""View-restore contract of the join executors' deferred `_view_scope`.

Round-13 optimization: the join executors defer temp-view restoration to
one scope exit instead of restoring after every `_run_with_views` call
(py4j churn — a FULL regular join makes 7 calls per invocation). These
tests pin the contract the deferral must keep: after the executor step
returns, every ctx view name resolves to its ORIGINAL slice binding (a
downstream chained step re-reading a raw input view sees the slice, not a
leftover branch binding), and a self-join's private right-side temp name
is dropped.
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
