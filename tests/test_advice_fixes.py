"""Regression tests for the round-2 advisor findings.

1. A WINDOW_JOIN-classified query whose ON clause lacks window-bound
   equality must be rejected (it would otherwise join rows from different
   windows closing in the same invocation — slice-dependent output).
2. MATCH_RECOGNIZE emission order is deterministic when overlapping
   matches end on the same input row (SKIP TO NEXT ROW): the match's
   start position breaks the (end ts, end seq) tie.
3. Temporal-join version state written under the pre-step-scoping legacy
   key is migrated on load instead of silently starting empty.
4. Aggregate OVER shapes parse_over_agg does not support (e.g. DESC order)
   are rejected instead of silently running as stateless MAP per slice.
5. ALL ROWS PER MATCH measures aliased to input column names are rejected
   with a clear error instead of an opaque duplicate-field failure.
"""

import json
import os
import shutil

import pyarrow.parquet as pq
import pytest

from kamu_engine_flink_spark.protocol.model import InvalidQueryError

from .helpers import TransformRunner, ticker_slice, ts
from .test_temporal_join import stocks_owned_slice


def _input(path, watermark, alias="tickers"):
    return {
        "alias": alias,
        "data_paths": [path] if path else [],
        "schema_file": path,
        "watermark": watermark,
    }


BAD_WJOIN = """SELECT L.window_start AS event_time, L.symbol, L.price AS a_price, R.price AS b_price
FROM TABLE(TUMBLE(TABLE a_side, DESCRIPTOR(event_time), INTERVAL '1' DAY)) L
JOIN TABLE(TUMBLE(TABLE b_side, DESCRIPTOR(event_time), INTERVAL '1' DAY)) R
ON L.symbol = R.symbol"""


def test_window_join_requires_window_bound_equality(spark, tmp_path):
    runner = TransformRunner(spark, tmp_path, queries=[(BAD_WJOIN, None)])
    a = str(tmp_path / "in" / "a.parquet")
    b = str(tmp_path / "in" / "b.parquet")
    ticker_slice(a, [(0, 0, ts(2), ts(1), "A", 1)])
    ticker_slice(b, [(0, 0, ts(2), ts(1), "A", 2)])
    with pytest.raises(InvalidQueryError, match="window-bound equality"):
        runner.run(
            [_input(a, ts(2), "a_side"), _input(b, ts(2), "b_side")],
            system_time=ts(2),
        )


MR_OVERLAP = """select * from tickers
MATCH_RECOGNIZE (
  PARTITION BY symbol
  ORDER BY event_time
  MEASURES
    LAST(C.event_time) AS event_time,
    FIRST(A.price) AS first_a,
    COUNT(A.*) AS n_a
  ONE ROW PER MATCH
  AFTER MATCH SKIP TO NEXT ROW
  PATTERN (A+ C)
  DEFINE
    A AS A.price < 100,
    C AS C.price >= 100
)"""


def test_match_recognize_overlapping_end_deterministic(spark, tmp_path):
    # Matches starting at rows 0 and 1 BOTH end on row 2 (same final ts
    # and seq); emission order must be pinned by the start position.
    def run_once(sub):
        runner = TransformRunner(
            spark, tmp_path / sub, queries=[(MR_OVERLAP, None)]
        )
        s1 = str(tmp_path / sub / "in" / "s1.parquet")
        ticker_slice(
            s1,
            [
                (0, 0, ts(2), ts(1, 0, 1), "A", 1),
                (1, 0, ts(2), ts(1, 0, 2), "A", 2),
                (2, 0, ts(2), ts(1, 0, 3), "A", 200),
            ],
        )
        resp, out = runner.run([_input(s1, ts(1, 1))], system_time=ts(2))
        table = pq.read_table(out)
        return [
            (r["offset"], r["first_a"], r["n_a"]) for r in table.to_pylist()
        ]

    expected = [(0, 1, 2), (1, 2, 1)]  # earlier start first
    assert run_once("r1") == expected
    assert run_once("r2") == expected


TEMPORAL_QUERY = """SELECT
  t.event_time, t.symbol, owned.volume as volume,
  owned.volume * t.price as current_value
FROM tickers as t
JOIN owned FOR SYSTEM_TIME AS OF t.event_time AS owned
ON t.symbol = owned.symbol"""


def test_temporal_join_legacy_state_key_migration(spark, tmp_path):
    runner = TransformRunner(
        spark,
        tmp_path,
        queries=[(TEMPORAL_QUERY, None)],
        temporal_tables=[("owned", "symbol")],
    )
    o1 = str(tmp_path / "owned" / "o1.parquet")
    stocks_owned_slice(o1, [(0, ts(2), ts(1), "A", 100)])
    t1 = str(tmp_path / "tickers" / "t1.parquet")
    ticker_slice(t1, [(0, 0, ts(2), ts(1, 1), "A", 10)])
    resp, out1 = runner.run(
        [_input(t1, ts(1, 2)), _input(o1, ts(1, 2), "owned")], system_time=ts(2)
    )
    assert pq.read_table(out1).num_rows == 1

    # Simulate a checkpoint written by the pre-step-scoping engine
    # revision: move the versions state to the legacy unscoped name.
    ckpt = runner.prev_checkpoint
    scoped = os.path.join(ckpt, "step0-versions-owned.parquet")
    legacy = os.path.join(ckpt, "versions-owned.parquet")
    assert os.path.exists(scoped)
    shutil.move(scoped, legacy)

    # Run 2: a new probe row must still find the run-1 version history.
    t2 = str(tmp_path / "tickers" / "t2.parquet")
    ticker_slice(t2, [(1, 0, ts(3), ts(1, 3), "A", 20)])
    resp, out2 = runner.run(
        [
            _input(t2, ts(1, 4)),
            {
                "alias": "owned",
                "data_paths": [],
                "schema_file": o1,
                "watermark": ts(1, 4),
            },
        ],
        system_time=ts(3),
    )
    rows = pq.read_table(out2).to_pylist()
    assert [(r["symbol"], r["volume"], r["current_value"]) for r in rows] == [
        ("A", 100, 2000)
    ]


# Bounded DESC frames became supported forward frames in round 4
# (test_over_agg.py::test_forward_* pins them); DESC + UNBOUNDED PRECEDING
# (a suffix aggregate, which the accumulator state cannot express) must
# still reject loudly rather than run slice-dependent.
DESC_OVER = """select event_time, symbol, price,
  sum(price) over (partition by symbol order by event_time desc
    rows unbounded preceding) as s
from tickers"""


def test_unsupported_over_shape_rejected(spark, tmp_path):
    runner = TransformRunner(spark, tmp_path, queries=[(DESC_OVER, None)])
    s1 = str(tmp_path / "in" / "s1.parquet")
    ticker_slice(s1, [(0, 0, ts(2), ts(1), "A", 1)])
    with pytest.raises(InvalidQueryError, match="OVER aggregation shape"):
        runner.run([_input(s1, ts(2))], system_time=ts(2))


MR_ALIAS_CLASH = """select * from tickers
MATCH_RECOGNIZE (
  PARTITION BY symbol
  ORDER BY event_time
  MEASURES LAST(B.event_time) AS event_time, A.price AS price
  ALL ROWS PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (A B)
  DEFINE A AS A.price < 10, B AS B.price >= 100
)"""


def test_all_rows_measure_alias_collision_rejected(spark, tmp_path):
    runner = TransformRunner(spark, tmp_path, queries=[(MR_ALIAS_CLASH, None)])
    s1 = str(tmp_path / "in" / "s1.parquet")
    ticker_slice(s1, [(0, 0, ts(2), ts(1), "A", 1)])
    with pytest.raises(InvalidQueryError, match="collide with input"):
        runner.run([_input(s1, ts(2))], system_time=ts(2))


def _downgrade_rj_left_to_v1(checkpoint: str):
    """Rewrite a v2 regular-join checkpoint into the pre-14e9ead layout:
    the padded left side becomes ONE plain (unbucketed) relation carrying a
    __rj_matched flag; the separate -unm relation and every bucket sidecar
    disappear."""
    import pyarrow as pa

    def read_rel(name):
        return pq.read_table(os.path.join(checkpoint, f"{name}.parquet"))

    rows = read_rel("step0-rj-left")
    unm = read_rel("step0-rj-left-unm").select(rows.column_names)
    unm_keys = set(map(tuple, zip(*[unm[c].to_pylist() for c in unm.column_names])))
    row_tuples = list(zip(*[rows[c].to_pylist() for c in rows.column_names]))
    flag = pa.array([t not in unm_keys for t in row_tuples], pa.bool_())
    # Drop the carried-forward Spark row-metadata footer: it lists only the
    # v2 columns and Spark would trust it over the physical schema,
    # silently hiding the appended flag from the fixture.
    v1 = rows.append_column("__rj_matched", flag).replace_schema_metadata(None)
    shutil.rmtree(os.path.join(checkpoint, "step0-rj-left.parquet"))
    shutil.rmtree(os.path.join(checkpoint, "step0-rj-left-unm.parquet"))
    os.makedirs(os.path.join(checkpoint, "step0-rj-left.parquet"))
    pq.write_table(
        v1, os.path.join(checkpoint, "step0-rj-left.parquet", "part-00000.parquet")
    )
    # v1 right side: same rows, plain layout (no bucket metadata).
    right = read_rel("step0-rj-right")
    shutil.rmtree(os.path.join(checkpoint, "step0-rj-right.parquet"))
    os.makedirs(os.path.join(checkpoint, "step0-rj-right.parquet"))
    pq.write_table(
        right, os.path.join(checkpoint, "step0-rj-right.parquet", "part-00000.parquet")
    )
    for sidecar in (
        "step0-rj-left.buckets.json",
        "step0-rj-left-unm.buckets.json",
        "step0-rj-right.buckets.json",
    ):
        p = os.path.join(checkpoint, sidecar)
        if os.path.exists(p):
            os.remove(p)


def test_regular_join_v1_checkpoint_migration(spark, tmp_path):
    """ADVICE r5: a checkpoint written by the pre-bucketed regular-join
    state format (one flagged relation per padded side, no -unm relation)
    must load through the v1->v2 migration: the flag column must not leak
    into SELECT *, and pending pads must still retract on first match."""
    from datetime import timezone

    from kamu_engine_flink_spark.protocol.model import DatasetVocabulary

    from .test_interval_join import orders_slice, shipments_slice

    query = """SELECT
      o.event_time as order_time, o.order_id,
      o.quantity as order_quantity, s.num_shipped as shipped_quantity
    FROM orders as o LEFT JOIN shipments as s ON o.order_id = s.order_id"""
    runner = TransformRunner(
        spark,
        tmp_path,
        queries=[(query, None)],
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

    def oprows(p):
        return [
            (r["op"], r["order_id"], r["order_quantity"], r["shipped_quantity"])
            for r in pq.read_table(p).to_pylist()
        ]

    assert sorted(oprows(out)) == [(0, 1, 10, 4), (0, 2, 20, None)]
    _downgrade_rj_left_to_v1(runner.prev_checkpoint)

    # Run 2 resumes FROM THE v1 CHECKPOINT: order 2's first match arrives
    # -> the (migrated) pending pad retracts before the pair emits.
    s2 = str(tmp_path / "s" / "s2.parquet")
    shipments_slice(s2, [(1, ts(3), ts(2), 2, 8)])
    resp, out = runner.run(
        [
            {"alias": "orders", "data_paths": [], "schema_file": o1, "watermark": ts(2)},
            {"alias": "shipments", "data_paths": [s2], "schema_file": s2, "watermark": ts(2)},
        ],
        system_time=ts(6),
    )
    assert oprows(out) == [(1, 2, 20, None), (0, 2, 20, 8)]
    table = pq.read_table(out)
    assert "__rj_matched" not in table.column_names

    # Run 3 appends onto the rewritten (now-bucketed) state: a new order
    # pairs with full shipment history, order 1's pair does not re-emit.
    o3 = str(tmp_path / "o" / "o3.parquet")
    orders_slice(o3, [(2, 0, ts(4), ts(3), 2, 99)])
    resp, out = runner.run(
        [
            {"alias": "orders", "data_paths": [o3], "schema_file": o3, "watermark": ts(3)},
            {"alias": "shipments", "data_paths": [], "schema_file": s2, "watermark": ts(3)},
        ],
        system_time=ts(7),
    )
    assert oprows(out) == [(0, 2, 99, 8)]


def test_state_finish_partial_link_fallback(spark, tmp_path, monkeypatch):
    """ADVICE r5: when the hard-link copytree PARTIALLY succeeds (e.g. the
    filesystem rejects links midway), the plain-copy retry must skip the
    already-linked entries instead of aborting on SameFileError."""
    from kamu_engine_flink_spark.engine.state import StateStore

    prev = tmp_path / "prev"
    new = tmp_path / "new"
    rel = prev / "foo.parquet"
    rel.mkdir(parents=True)
    (rel / "a.parquet").write_bytes(b"aaa")
    (rel / "b.parquet").write_bytes(b"bbb")
    store = StateStore(spark, str(prev), str(new))
    calls = {"n": 0}
    real_link = os.link

    def flaky(src, dst, *a, **k):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise OSError("synthetic link failure")
        return real_link(src, dst)

    monkeypatch.setattr(os, "link", flaky)
    store.finish()
    got = sorted(os.listdir(new / "foo.parquet"))
    assert got == ["a.parquet", "b.parquet"]
    assert (new / "foo.parquet" / "b.parquet").read_bytes() == b"bbb"


def test_state_bucket_count_fixed_at_relation_creation(spark, tmp_path):
    """A relation's bucket count is baked in at its first write (recorded
    in its sidecar): a later append reuses the recorded count even when
    spark.sql.shuffle.partitions has changed since, so the linked-forward
    files and the delta's files stay one bucketing."""
    import re

    from kamu_engine_flink_spark.engine.state import StateStore

    def write(prev, new, lo, append):
        store = StateStore(spark, prev, new)
        rows = spark.range(lo, lo + 20).selectExpr("id as k", "-id as v")
        store.save_df("rows", rows, bucket_by=["k"], append=append)
        store.flush_deferred()
        store.finish()

    cp0, cp1 = str(tmp_path / "cp0"), str(tmp_path / "cp1")
    prev_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        write(None, cp0, 0, append=False)
        spark.conf.set("spark.sql.shuffle.partitions", "6")
        write(cp0, cp1, 20, append=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_partitions)

    with open(os.path.join(cp1, "rows.buckets.json")) as f:
        assert json.load(f)["num_buckets"] == 4
    files = [
        e for e in os.listdir(os.path.join(cp1, "rows.parquet"))
        if not e.startswith(("_", "."))
    ]
    ids = {int(re.search(r"_(\d{5})\.c\d{3}", e).group(1)) for e in files}
    assert ids == {0, 1, 2, 3}
    # Both generations are present: 4 linked files plus the delta's.
    assert len(files) == 8
    loaded = StateStore(spark, cp1, str(tmp_path / "scratch")).load_df("rows")
    assert sorted(tuple(r) for r in loaded.collect()) == sorted(
        (i, -i) for i in range(40)
    )
