"""Regular (unbounded, non-windowed) stream join parity.

Flink pairs each row with the FULL history of the other side (state never
evicts); the reference exposes this via planner delegation. The previous
MAP route paired only same-invocation rows — these tests pin the stateful
cross-invocation behavior, the no-duplicate-pairs rule, and the loud
rejection of outer shapes (whose Flink form emits retractions)."""

from datetime import timezone

import pyarrow.parquet as pq
import pytest

from kamu_engine_flink_spark.plans.classify import (
    MAP,
    REGULAR_JOIN,
    classify,
    parse_regular_join,
)
from kamu_engine_flink_spark.protocol.model import DatasetVocabulary, InvalidQueryError

from .helpers import TransformRunner, ts
from .test_interval_join import orders_slice, shipments_slice

RJ_QUERY = """SELECT
  o.event_time as order_time,
  o.order_id,
  o.quantity as order_quantity,
  s.num_shipped as shipped_quantity
FROM
  orders as o
JOIN shipments as s
ON
  o.order_id = s.order_id"""


def test_classification():
    views = {"orders", "shipments"}
    assert classify(RJ_QUERY, views) == REGULAR_JOIN
    # unknown view -> stays MAP
    assert classify(RJ_QUERY, {"orders"}) == MAP
    # non-equi and cross conditions are regular joins too (Flink runs any
    # non-interval two-stream join with full-history state; MAP would be
    # silently slice-dependent)
    assert classify(
        "SELECT * FROM orders o JOIN shipments s ON 1=1", views
    ) == REGULAR_JOIN
    assert classify(
        "SELECT * FROM orders o JOIN shipments s ON o.quantity < s.num_shipped",
        views,
    ) == REGULAR_JOIN
    # time-bounded -> interval join, not regular
    assert (
        classify(
            """SELECT * FROM orders o JOIN shipments s ON o.order_id = s.order_id
               AND s.event_time BETWEEN o.event_time AND o.event_time + INTERVAL '1' DAY""",
            views,
        )
        == "interval_join"
    )
    spec = parse_regular_join(RJ_QUERY, views)
    assert (spec.left_view, spec.right_view, spec.join_kind) == ("orders", "shipments", "")


def _rows(out):
    return sorted(
        (r["order_id"], r["order_quantity"], r["shipped_quantity"])
        for r in pq.read_table(out).to_pylist()
    )


def test_cross_invocation_pairing(spark, tmp_path):
    runner = TransformRunner(
        spark,
        tmp_path,
        queries=[(RJ_QUERY, None)],
        vocab=DatasetVocabulary(event_time_column="order_time"),
    )
    o1 = str(tmp_path / "o" / "o1.parquet")
    s1 = str(tmp_path / "s" / "s1.parquet")
    orders_slice(o1, [(0, 0, ts(2), ts(1), 1, 10), (1, 0, ts(2), ts(1), 2, 20)])
    shipments_slice(s1, [(0, ts(2), ts(1), 1, 4)])
    resp, out = runner.run(
        [
            {"alias": "orders", "data_paths": [o1], "schema_file": o1, "watermark": ts(1)},
            {"alias": "shipments", "data_paths": [s1], "schema_file": s1, "watermark": ts(1)},
        ],
        system_time=ts(5),
    )
    # same-run pair only; order 2 unmatched (INNER -> nothing)
    assert _rows(out) == [(1, 10, 4)]

    # Run 2: a shipment for order 2 arrives — must pair with the RUN-1
    # order (full-history semantics); order 1's old shipment must NOT
    # re-emit (no duplicate pairs).
    o2 = str(tmp_path / "o" / "o2.parquet")
    s2 = str(tmp_path / "s" / "s2.parquet")
    orders_slice(o2, [(2, 0, ts(3), ts(2), 3, 30)])
    shipments_slice(s2, [(1, ts(3), ts(2), 2, 8), (2, ts(3), ts(2), 3, 9)])
    resp, out = runner.run(
        [
            {"alias": "orders", "data_paths": [o2], "schema_file": o2, "watermark": ts(2)},
            {"alias": "shipments", "data_paths": [s2], "schema_file": s2, "watermark": ts(2)},
        ],
        system_time=ts(6),
    )
    assert _rows(out) == [(2, 20, 8), (3, 30, 9)]

    # Run 3: a new order pairs with a RUN-2 shipment (old-right history).
    o3 = str(tmp_path / "o" / "o3.parquet")
    orders_slice(o3, [(3, 0, ts(4), ts(3), 2, 99)])
    resp, out = runner.run(
        [
            {"alias": "orders", "data_paths": [o3], "schema_file": o3, "watermark": ts(3)},
            {"alias": "shipments", "data_paths": [], "schema_file": s2, "watermark": ts(3)},
        ],
        system_time=ts(7),
    )
    assert _rows(out) == [(2, 99, 8)]


def test_slice_invariance(spark, tmp_path):
    import random

    rng = random.Random(31)
    lrows = [(i, 0, ts(9), ts(1), i % 7, 10 + i) for i in range(40)]
    rrows = [(i, ts(9), ts(1), i % 5, 100 + i) for i in range(40)]

    def run_cuts(tag, cuts):
        runner = TransformRunner(
            spark,
            tmp_path / tag,
            queries=[(RJ_QUERY, None)],
            vocab=DatasetVocabulary(event_time_column="order_time"),
        )
        pairs = []
        bounds = [0, *cuts, 40]
        for si in range(len(bounds) - 1):
            op = str(tmp_path / tag / f"o{si}.parquet")
            sp = str(tmp_path / tag / f"s{si}.parquet")
            orders_slice(op, lrows[bounds[si] : bounds[si + 1]])
            shipments_slice(sp, rrows[bounds[si] : bounds[si + 1]])
            resp, out = runner.run(
                [
                    {"alias": "orders", "data_paths": [op], "schema_file": op, "watermark": ts(1)},
                    {"alias": "shipments", "data_paths": [sp], "schema_file": sp, "watermark": ts(1)},
                ],
                system_time=ts(9 + si),
            )
            if resp.new_offset_interval is not None:
                pairs.extend(_rows(out))
        return sorted(pairs)

    assert run_cuts("one", []) == run_cuts("many", [13, 29])


def _oprows(out):
    return [
        (r["op"], r["order_id"], r["order_quantity"], r["shipped_quantity"])
        for r in pq.read_table(out).to_pylist()
    ]


def test_left_regular_join_pads_and_retracts(spark, tmp_path):
    """Flink's LEFT regular join changelog: an unmatched left emits its
    NULL-pad immediately (op 0); the FIRST later match retracts the pad
    (op 1, before the pair) — later matches pair without churn."""
    runner = TransformRunner(
        spark,
        tmp_path,
        queries=[(RJ_QUERY.replace("JOIN shipments", "LEFT JOIN shipments"), None)],
        vocab=DatasetVocabulary(event_time_column="order_time"),
    )
    o1 = str(tmp_path / "o" / "o1.parquet")
    s1 = str(tmp_path / "s" / "s1.parquet")
    orders_slice(o1, [(0, 0, ts(2), ts(1), 1, 10), (1, 0, ts(2), ts(1), 2, 20)])
    shipments_slice(s1, [(0, ts(2), ts(1), 1, 4)])
    resp, out = runner.run(
        [
            {"alias": "orders", "data_paths": [o1], "schema_file": o1, "watermark": ts(1)},
            {"alias": "shipments", "data_paths": [s1], "schema_file": s1, "watermark": ts(1)},
        ],
        system_time=ts(5),
    )
    # order 1 pairs; order 2 pads immediately.
    assert sorted(_oprows(out)) == [(0, 1, 10, 4), (0, 2, 20, None)]

    # Run 2: order 2's first match arrives -> retract the pad, emit the pair.
    s2 = str(tmp_path / "s" / "s2.parquet")
    shipments_slice(s2, [(1, ts(3), ts(2), 2, 8)])
    resp, out = runner.run(
        [
            {"alias": "orders", "data_paths": [], "schema_file": o1, "watermark": ts(2)},
            {"alias": "shipments", "data_paths": [s2], "schema_file": s2, "watermark": ts(2)},
        ],
        system_time=ts(6),
    )
    assert _oprows(out) == [(1, 2, 20, None), (0, 2, 20, 8)]

    # Run 3: a SECOND match for order 2 -> pair only, no retraction churn.
    s3 = str(tmp_path / "s" / "s3.parquet")
    shipments_slice(s3, [(2, ts(4), ts(3), 2, 9)])
    resp, out = runner.run(
        [
            {"alias": "orders", "data_paths": [], "schema_file": o1, "watermark": ts(3)},
            {"alias": "shipments", "data_paths": [s3], "schema_file": s3, "watermark": ts(3)},
        ],
        system_time=ts(7),
    )
    assert _oprows(out) == [(0, 2, 20, 9)]


# Outer query whose event time survives a pad on either side.
RJ_OUTER_QUERY = """SELECT
  coalesce(o.event_time, s.event_time) as order_time,
  coalesce(o.order_id, s.order_id) as order_id,
  o.quantity as order_quantity,
  s.num_shipped as shipped_quantity
FROM
  orders as o
{kind} JOIN shipments as s
ON
  o.order_id = s.order_id"""


def test_right_regular_join_pads_and_retracts(spark, tmp_path):
    """Mirror of the LEFT lifecycle: an unmatched RIGHT row pads the left
    side with NULLs immediately (op 0); its FIRST later match retracts the
    pad (op 1, before the pair)."""
    runner = TransformRunner(
        spark,
        tmp_path,
        queries=[(RJ_OUTER_QUERY.format(kind="RIGHT"), None)],
        vocab=DatasetVocabulary(event_time_column="order_time"),
    )
    o1 = str(tmp_path / "o" / "o1.parquet")
    s1 = str(tmp_path / "s" / "s1.parquet")
    orders_slice(o1, [(0, 0, ts(2), ts(1), 1, 10)])
    shipments_slice(s1, [(0, ts(2), ts(1), 1, 4), (1, ts(2), ts(1), 2, 7)])
    resp, out = runner.run(
        [
            {"alias": "orders", "data_paths": [o1], "schema_file": o1, "watermark": ts(1)},
            {"alias": "shipments", "data_paths": [s1], "schema_file": s1, "watermark": ts(1)},
        ],
        system_time=ts(5),
    )
    # shipment 1 pairs; shipment 2 pads immediately (left side NULL).
    assert sorted(_oprows(out)) == [(0, 1, 10, 4), (0, 2, None, 7)]

    # Run 2: shipment 2's first matching order arrives -> retract the pad,
    # emit the pair.
    o2 = str(tmp_path / "o" / "o2.parquet")
    orders_slice(o2, [(1, 0, ts(3), ts(2), 2, 20)])
    resp, out = runner.run(
        [
            {"alias": "orders", "data_paths": [o2], "schema_file": o2, "watermark": ts(2)},
            {"alias": "shipments", "data_paths": [], "schema_file": s1, "watermark": ts(2)},
        ],
        system_time=ts(6),
    )
    assert _oprows(out) == [(1, 2, None, 7), (0, 2, 20, 7)]

    # Run 3: a SECOND matching order -> pair only, no retraction churn.
    o3 = str(tmp_path / "o" / "o3.parquet")
    orders_slice(o3, [(2, 0, ts(4), ts(3), 2, 30)])
    resp, out = runner.run(
        [
            {"alias": "orders", "data_paths": [o3], "schema_file": o3, "watermark": ts(3)},
            {"alias": "shipments", "data_paths": [], "schema_file": s1, "watermark": ts(3)},
        ],
        system_time=ts(7),
    )
    assert _oprows(out) == [(0, 2, 30, 7)]


def test_full_regular_join_pads_both_sides(spark, tmp_path):
    """FULL: unmatched rows on EITHER side pad immediately; each side's
    pad retracts exactly once when its first match arrives."""
    runner = TransformRunner(
        spark,
        tmp_path,
        queries=[(RJ_OUTER_QUERY.format(kind="FULL"), None)],
        vocab=DatasetVocabulary(event_time_column="order_time"),
    )
    o1 = str(tmp_path / "o" / "o1.parquet")
    s1 = str(tmp_path / "s" / "s1.parquet")
    orders_slice(o1, [(0, 0, ts(2), ts(1), 1, 10), (1, 0, ts(2), ts(1), 2, 20)])
    shipments_slice(s1, [(0, ts(2), ts(1), 1, 4), (1, ts(2), ts(1), 3, 7)])
    resp, out = runner.run(
        [
            {"alias": "orders", "data_paths": [o1], "schema_file": o1, "watermark": ts(1)},
            {"alias": "shipments", "data_paths": [s1], "schema_file": s1, "watermark": ts(1)},
        ],
        system_time=ts(5),
    )
    # order 1 / shipment 1 pair; order 2 pads right-NULL; shipment 3 pads
    # left-NULL.
    assert sorted(_oprows(out), key=lambda t: (t[0], t[1])) == [
        (0, 1, 10, 4),
        (0, 2, 20, None),
        (0, 3, None, 7),
    ]

    # Run 2: order 2's first shipment AND shipment 3's first order arrive
    # -> both pads retract, both pairs emit.
    o2 = str(tmp_path / "o" / "o2.parquet")
    s2 = str(tmp_path / "s" / "s2.parquet")
    orders_slice(o2, [(2, 0, ts(3), ts(2), 3, 30)])
    shipments_slice(s2, [(2, ts(3), ts(2), 2, 8)])
    resp, out = runner.run(
        [
            {"alias": "orders", "data_paths": [o2], "schema_file": o2, "watermark": ts(2)},
            {"alias": "shipments", "data_paths": [s2], "schema_file": s2, "watermark": ts(2)},
        ],
        system_time=ts(6),
    )
    got = _oprows(out)
    assert sorted(r for r in got if r[0] == 1) == [(1, 2, 20, None), (1, 3, None, 7)]
    assert sorted(r for r in got if r[0] == 0) == [(0, 2, 20, 8), (0, 3, 30, 7)]
    # retractions precede this invocation's pads/pairs in the ledger
    ops = [r[0] for r in got]
    assert ops == sorted(ops, reverse=True)


SELF_JOIN_QUERY = """SELECT
  a.event_time as order_time,
  a.order_id,
  a.quantity as qa,
  b.quantity as qb
FROM orders as a
JOIN orders as b
ON a.order_id = b.order_id"""


def test_self_regular_join_no_duplicate_pairs(spark, tmp_path):
    """Self-join of a view with itself: each side binds to its own
    (new-vs-all / old-vs-new) relation — run-1 pairs must NOT re-emit in
    run 2 and old x old pairs never reappear."""
    runner = TransformRunner(
        spark,
        tmp_path,
        queries=[(SELF_JOIN_QUERY, None)],
        vocab=DatasetVocabulary(event_time_column="order_time"),
    )
    o1 = str(tmp_path / "o" / "o1.parquet")
    orders_slice(o1, [(0, 0, ts(2), ts(1), 1, 10)])
    resp, out = runner.run(
        [{"alias": "orders", "data_paths": [o1], "schema_file": o1, "watermark": ts(1)}],
        system_time=ts(5),
    )
    rows = sorted((r["order_id"], r["qa"], r["qb"]) for r in pq.read_table(out).to_pylist())
    assert rows == [(1, 10, 10)]

    # Run 2: one more row with the same key -> exactly the three NEW pairs.
    o2 = str(tmp_path / "o" / "o2.parquet")
    orders_slice(o2, [(1, 0, ts(3), ts(2), 1, 20)])
    resp, out = runner.run(
        [{"alias": "orders", "data_paths": [o2], "schema_file": o2, "watermark": ts(2)}],
        system_time=ts(6),
    )
    rows = sorted((r["order_id"], r["qa"], r["qb"]) for r in pq.read_table(out).to_pylist())
    assert rows == [(1, 10, 20), (1, 20, 10), (1, 20, 20)]


def test_self_regular_join_requires_distinct_aliases(spark, tmp_path):
    degenerate = SELF_JOIN_QUERY.replace(" as b", " as a").replace(
        "b.quantity", "a.quantity"
    ).replace("= b.order_id", "= a.order_id")
    runner = TransformRunner(
        spark,
        tmp_path,
        queries=[(degenerate, None)],
        vocab=DatasetVocabulary(event_time_column="order_time"),
    )
    o1 = str(tmp_path / "o" / "o1.parquet")
    orders_slice(o1, [(0, 0, ts(2), ts(1), 1, 10)])
    with pytest.raises(InvalidQueryError, match="distinct aliases"):
        runner.run(
            [{"alias": "orders", "data_paths": [o1], "schema_file": o1, "watermark": ts(1)}],
            system_time=ts(5),
        )


def test_full_join_changelog_folds_to_batch(spark, tmp_path):
    """Changelog law: pads and retractions are cut-dependent (a same-slice
    match never pads — Flink's mini-batch emission), but FOLDING the
    changelog (op 0 adds, op 1 removes) must reproduce the batch FULL
    join result for ANY slicing."""
    from collections import Counter

    lrows = [(i, 0, ts(9), ts(1), i % 5, 10 + i) for i in range(24)]
    rrows = [(i, ts(9), ts(1), i % 7, 100 + i) for i in range(24)]

    def run_cuts(tag, cuts):
        runner = TransformRunner(
            spark,
            tmp_path / tag,
            queries=[(RJ_OUTER_QUERY.format(kind="FULL"), None)],
            vocab=DatasetVocabulary(event_time_column="order_time"),
        )
        folded: Counter = Counter()
        bounds = [0, *cuts, 24]
        for si in range(len(bounds) - 1):
            op = str(tmp_path / tag / f"o{si}.parquet")
            sp = str(tmp_path / tag / f"s{si}.parquet")
            orders_slice(op, lrows[bounds[si] : bounds[si + 1]])
            shipments_slice(sp, rrows[bounds[si] : bounds[si + 1]])
            resp, out = runner.run(
                [
                    {"alias": "orders", "data_paths": [op], "schema_file": op, "watermark": ts(1)},
                    {"alias": "shipments", "data_paths": [sp], "schema_file": sp, "watermark": ts(1)},
                ],
                system_time=ts(9 + si),
            )
            if resp.new_offset_interval is None:
                continue
            for r in pq.read_table(out).to_pylist():
                key = (r["order_id"], r["order_quantity"], r["shipped_quantity"])
                folded[key] += 1 if r["op"] == 0 else -1
        return Counter({k: v for k, v in folded.items() if v})

    # Batch FULL join expectation over the complete inputs.
    lefts = [(r[4], r[5]) for r in lrows]  # (order_id, quantity)
    rights = [(r[3], r[4]) for r in rrows]  # (order_id, num_shipped)
    expected: Counter = Counter()
    rmatched = [False] * len(rights)
    for oid, q in lefts:
        hit = False
        for j, (rid, ns) in enumerate(rights):
            if rid == oid:
                expected[(oid, q, ns)] += 1
                rmatched[j] = True
                hit = True
        if not hit:
            expected[(oid, q, None)] += 1
    for j, (rid, ns) in enumerate(rights):
        if not rmatched[j]:
            expected[(rid, None, ns)] += 1

    assert run_cuts("one", []) == expected
    assert run_cuts("many", [7, 15]) == expected


def test_multi_join_single_step_rejected():
    """Two unbounded stream joins in one step would silently run as MAP
    (same-invocation pairing only) — must reject with the per-step
    decomposition guidance instead."""
    q = """SELECT o.event_time as order_time, o.order_id, s.num_shipped, c.name
FROM orders as o
JOIN shipments as s ON o.order_id = s.order_id
JOIN customers as c ON o.order_id = c.order_id"""
    with pytest.raises(InvalidQueryError, match="one join per"):
        classify(q, {"orders", "shipments", "customers"})
    # a multi-join chain over a SINGLE view repeated is just as
    # slice-dependent — occurrence count, not distinct-view count, gates
    with pytest.raises(InvalidQueryError, match="one join per"):
        classify(
            "SELECT a.x FROM orders a JOIN orders b ON a.order_id = b.order_id "
            "JOIN orders c ON a.order_id = c.order_id",
            {"orders"},
        )
    # a single static-enrichment join (one known view) keeps its MAP route
    assert (
        classify(
            "SELECT * FROM orders o JOIN (VALUES (1)) v(x) ON o.order_id = v.x "
            "JOIN (VALUES (2)) w(y) ON o.order_id = w.y",
            {"orders"},
        )
        == MAP
    )


def test_non_equi_regular_join_cross_invocation(spark, tmp_path):
    """Non-equi two-stream joins are regular joins with full-history
    pairing (Flink planner behavior) — cross-run pairs must appear, and
    old x old pairs must not re-emit."""
    q = """SELECT
  o.event_time as order_time,
  o.order_id,
  o.quantity as order_quantity,
  s.num_shipped as shipped_quantity
FROM orders as o
JOIN shipments as s
ON o.quantity < s.num_shipped"""
    runner = TransformRunner(
        spark,
        tmp_path,
        queries=[(q, None)],
        vocab=DatasetVocabulary(event_time_column="order_time"),
    )
    o1 = str(tmp_path / "o" / "o1.parquet")
    s1 = str(tmp_path / "s" / "s1.parquet")
    orders_slice(o1, [(0, 0, ts(2), ts(1), 1, 10), (1, 0, ts(2), ts(1), 2, 50)])
    shipments_slice(s1, [(0, ts(2), ts(1), 7, 20)])
    resp, out = runner.run(
        [
            {"alias": "orders", "data_paths": [o1], "schema_file": o1, "watermark": ts(1)},
            {"alias": "shipments", "data_paths": [s1], "schema_file": s1, "watermark": ts(1)},
        ],
        system_time=ts(5),
    )
    assert _rows(out) == [(1, 10, 20)]  # 10 < 20 pairs; 50 does not

    # Run 2: a bigger shipment pairs with BOTH historical orders; the old
    # (10, 20) pair must not re-emit.
    s2 = str(tmp_path / "s" / "s2.parquet")
    shipments_slice(s2, [(1, ts(3), ts(2), 8, 60)])
    resp, out = runner.run(
        [
            {"alias": "orders", "data_paths": [], "schema_file": o1, "watermark": ts(2)},
            {"alias": "shipments", "data_paths": [s2], "schema_file": s2, "watermark": ts(2)},
        ],
        system_time=ts(6),
    )
    assert _rows(out) == [(1, 10, 60), (2, 50, 60)]


def test_agg_over_join_single_step_rejected():
    """A windowless aggregate over a join in one step would recompute both
    the pairing and the aggregate per slice — reject with the per-step
    decomposition guidance."""
    q = """SELECT o.order_id, count(*) as n
FROM orders as o JOIN shipments as s ON o.order_id = s.order_id
GROUP BY o.order_id"""
    with pytest.raises(InvalidQueryError, match="aliased steps"):
        classify(q, {"orders", "shipments"})


def test_slice_broadcast_hint_opt_in_same_results(spark, tmp_path):
    """FULL JOIN resume where only one side has a new slice: the new
    slice probes the persisted state, the pad retracts and the pair
    emits. (The name predates the removal of the slice-broadcast
    option; this is the one join plan now.)"""
    q = """SELECT
  coalesce(o.event_time, s.event_time) as event_time,
  coalesce(o.order_id, s.order_id) as order_id,
  o.quantity as ordered,
  s.num_shipped as shipped
FROM orders as o
FULL JOIN shipments as s
ON o.order_id = s.order_id"""
    runner = TransformRunner(spark, tmp_path, queries=[(q, None)])
    o1 = str(tmp_path / "in" / "o1.parquet")
    s1 = str(tmp_path / "in" / "s1.parquet")
    orders_slice(o1, [(0, 0, ts(2), ts(1), 1, 10), (1, 0, ts(2), ts(1), 2, 20)])
    shipments_slice(s1, [(0, ts(2), ts(1), 1, 4)])
    resp, out = runner.run(
        [
            {"alias": "orders", "data_paths": [o1], "schema_file": o1, "watermark": ts(1, 1)},
            {"alias": "shipments", "data_paths": [s1], "schema_file": s1, "watermark": ts(1, 1)},
        ],
        system_time=ts(2),
    )
    r1 = pq.read_table(out).to_pylist()
    # order 1 pairs; order 2 pads.
    assert sorted(
        (r["op"], r["order_id"], r["ordered"], r["shipped"]) for r in r1
    ) == [(0, 1, 10, 4), (0, 2, 20, None)]

    # Run 2: order 2's shipment arrives — pad retracts, pair emits,
    # probing the persisted state.
    s2 = str(tmp_path / "in" / "s2.parquet")
    shipments_slice(s2, [(1, ts(3), ts(1), 2, 9)])
    resp2, out2 = runner.run(
        [
            {"alias": "orders", "data_paths": [], "schema_file": o1, "watermark": ts(1, 2)},
            {"alias": "shipments", "data_paths": [s2], "schema_file": s1, "watermark": ts(1, 2)},
        ],
        system_time=ts(3),
    )
    r2 = pq.read_table(out2).to_pylist()
    assert [(r["op"], r["order_id"], r["ordered"], r["shipped"]) for r in r2] == [
        (1, 2, 20, None),
        (0, 2, 20, 9),
    ]
