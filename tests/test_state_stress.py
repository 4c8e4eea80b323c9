"""Scale-stress: stateful-transform checkpoint state must stay
horizon-bounded across invocations, not grow with cumulative input.

Reference contract: the Flink engine's join buffers hold only rows whose
interval can still match future input (EngineJoinStreamToStreamTest.scala:
178-226 shows buffered rows NULL-padding and leaving state once the
watermark passes their horizon); window/over/CEP state is likewise bounded
by the frame/pattern horizon, and rank state by keys x N.

Each scenario drives 3 identical-shape invocations whose watermarks advance
past almost all of each slice, then asserts the persisted state relation
row-counts are (a) flat between invocation 2 and 3 and (b) a small fraction
of the cumulative input — i.e. O(horizon), not O(history).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from kamu_engine_flink_spark.protocol.model import DatasetVocabulary

from .helpers import TransformRunner, ticker_slice, ts, write_input_slice
from .test_topn import match_scores_slice


def _state_rows(runner: TransformRunner, suffix: str) -> int:
    """Total rows across state relations whose name contains `suffix` in
    the runner's latest checkpoint."""
    total = 0
    for entry in os.listdir(runner.prev_checkpoint):
        if suffix in entry and entry.endswith(".parquet"):
            total += pq.read_table(
                os.path.join(runner.prev_checkpoint, entry)
            ).num_rows
    return total


def _mts(hour: int, minute: int):
    return ts(1, hour, minute)


# ---------------------------------------------------------------- interval join

STRESS_JOIN_QUERY = """SELECT
  o.event_time as order_time,
  o.order_id,
  o.quantity as order_quantity,
  CAST(s.event_time as TIMESTAMP(3)) as shipped_time,
  COALESCE(s.num_shipped, 0) as shipped_quantity
FROM
  orders as o
LEFT JOIN shipments as s
ON
  o.order_id = s.order_id
  AND s.event_time BETWEEN o.event_time AND o.event_time + INTERVAL '2' MINUTE"""


def _orders_slice(path, rows):
    cols = list(zip(*rows))
    write_input_slice(
        path,
        {
            "offset": list(cols[0]),
            "op": [0] * len(rows),
            "system_time": list(cols[1]),
            "event_time": list(cols[2]),
            "order_id": list(cols[3]),
            "quantity": list(cols[4]),
        },
        {
            "offset": pa.int64(),
            "op": pa.int32(),
            "system_time": pa.timestamp("ms", tz="UTC"),
            "event_time": pa.timestamp("ms", tz="UTC"),
            "order_id": pa.int64(),
            "quantity": pa.int64(),
        },
    )


def _shipments_slice(path, rows):
    cols = list(zip(*rows))
    write_input_slice(
        path,
        {
            "offset": list(cols[0]),
            "op": [0] * len(rows),
            "system_time": list(cols[1]),
            "event_time": list(cols[2]),
            "order_id": list(cols[3]),
            "num_shipped": list(cols[4]),
        },
        {
            "offset": pa.int64(),
            "op": pa.int32(),
            "system_time": pa.timestamp("ms", tz="UTC"),
            "event_time": pa.timestamp("ms", tz="UTC"),
            "order_id": pa.int64(),
            "num_shipped": pa.int64(),
        },
    )


def test_interval_join_state_horizon_bounded(spark, tmp_path):
    """3 invocations x 300 orders + 120 shipments with a 2-minute join
    horizon and watermarks trailing 5 minutes: buffers must hold only the
    above-horizon tail (~minutes 53-59 of each hour), NOT the cumulative
    900-order history."""
    runner = TransformRunner(
        spark,
        tmp_path,
        queries=[(STRESS_JOIN_QUERY, None)],
        vocab=DatasetVocabulary(event_time_column="order_time"),
    )
    per_minute_orders = 5
    sizes = []
    o_off = s_off = 0
    for inv in (1, 2, 3):
        st = ts(2 + inv)
        orders, ships = [], []
        for minute in range(60):
            et = _mts(inv, minute)
            for j in range(per_minute_orders):
                orders.append((o_off, st, et, o_off, 10 + j))
                o_off += 1
            for j in range(2):
                ships.append((s_off, st, et, o_off - 1 - j, 5))
                s_off += 1
        o_path = str(tmp_path / "orders" / f"o{inv}.parquet")
        s_path = str(tmp_path / "ship" / f"s{inv}.parquet")
        _orders_slice(o_path, orders)
        _shipments_slice(s_path, ships)
        wm = _mts(inv, 55)
        runner.run(
            [
                {"alias": "orders", "data_paths": [o_path], "schema_file": o_path, "watermark": wm},
                {"alias": "shipments", "data_paths": [s_path], "schema_file": s_path, "watermark": wm},
            ],
            system_time=st,
        )
        sizes.append(
            _state_rows(runner, "left-buffer") + _state_rows(runner, "right-buffer")
        )
    total_input = 3 * (300 + 120)
    # Flat across steady-state invocations (identical slice shapes).
    assert sizes[2] <= sizes[1] + 5
    # Horizon-bounded: ~7 minutes of orders (35) + shipments tail, far
    # below one slice (420) let alone the cumulative history (1260).
    assert sizes[2] <= 0.2 * 420, sizes
    assert sizes[2] <= 0.1 * total_input, sizes


# ---------------------------------------------------------------- keyed top-n

STRESS_KEYED_TOPN_QUERY = """select
  cast(now() as timestamp(3)) as placed_at,
  *
from (
  select
    row_number() over (partition by player_name order by score desc) AS place,
    match_time,
    player_name,
    score
  from match_scores
) where place <= 2"""


def test_keyed_topn_state_bounded_by_keys(spark, tmp_path):
    """3 invocations x 300 rows over 40 keys: rank state is exactly the
    per-key top-2 table — <= 80 rows no matter how much history flowed."""
    runner = TransformRunner(
        spark,
        tmp_path,
        queries=[(STRESS_KEYED_TOPN_QUERY, None)],
        vocab=DatasetVocabulary(event_time_column="placed_at"),
    )
    vocab_in = DatasetVocabulary(event_time_column="match_time")
    keys = 40
    off = 0
    for inv in (1, 2, 3):
        rows = []
        for minute in range(60):
            for j in range(5):
                player = f"p{(off * 7 + j) % keys:02d}"
                score = (off * 13 + j * 31) % 1000
                rows.append((off, 0, ts(2 + inv), _mts(inv, minute), player, score))
                off += 1
        path = str(tmp_path / "in" / f"s{inv}.parquet")
        match_scores_slice(path, rows)
        runner.run(
            [{"alias": "match_scores", "data_paths": [path], "schema_file": path, "vocab": vocab_in}],
            system_time=ts(2 + inv),
        )
        assert _state_rows(runner, "keyed-topn-state") <= keys * 2


# ---------------------------------------------------------------- over agg

STRESS_OVER_QUERY = """select
  event_time, symbol, price,
  sum(price) over (partition by symbol order by event_time
    range between interval '2' minute preceding and current row) as roll_sum,
  count(*) over (partition by symbol order by event_time
    range between interval '2' minute preceding and current row) as roll_cnt
from tickers"""


def test_over_agg_state_horizon_bounded(spark, tmp_path):
    """3 invocations x 300 ticks over 20 symbols, 2-minute backward RANGE
    frame, watermark trailing 5 minutes: buffered rows are the pending tail
    plus frame context — O(horizon x keys), flat across invocations."""
    runner = TransformRunner(spark, tmp_path, queries=[(STRESS_OVER_QUERY, None)])
    sizes = []
    off = 0
    for inv in (1, 2, 3):
        rows = []
        for minute in range(60):
            for j in range(5):
                sym = f"S{(off + j) % 20:02d}"
                rows.append((off, 0, ts(2 + inv), _mts(inv, minute), sym, 1 + off % 50))
                off += 1
        path = str(tmp_path / "in" / f"s{inv}.parquet")
        ticker_slice(path, rows)
        runner.run(
            [
                {
                    "alias": "tickers",
                    "data_paths": [path],
                    "schema_file": path,
                    "watermark": _mts(inv, 55),
                }
            ],
            system_time=ts(2 + inv),
        )
        sizes.append(_state_rows(runner, "over-buffer"))
    assert sizes[2] <= sizes[1] + 5
    # Above-watermark tail (minutes 56-59, 20 rows) + 2-minute frame
    # context; far below one 300-row slice.
    assert sizes[2] <= 0.3 * 300, sizes


STRESS_OVER_UNBOUNDED_QUERY = """select
  event_time, symbol, price,
  sum(price) over (partition by symbol order by event_time rows unbounded preceding) as rsum,
  count(*) over (partition by symbol order by event_time rows unbounded preceding) as rcnt
from tickers"""


def test_over_agg_unbounded_state_is_o_keys(spark, tmp_path):
    """UNBOUNDED PRECEDING keeps a per-key accumulator, not history: acc
    state == #keys after every invocation; pending buffer only holds the
    above-watermark tail."""
    runner = TransformRunner(
        spark, tmp_path, queries=[(STRESS_OVER_UNBOUNDED_QUERY, None)]
    )
    keys = 25
    off = 0
    for inv in (1, 2, 3):
        rows = []
        for minute in range(60):
            for j in range(5):
                sym = f"S{(off + j) % keys:02d}"
                rows.append((off, 0, ts(2 + inv), _mts(inv, minute), sym, 1))
                off += 1
        path = str(tmp_path / "in" / f"s{inv}.parquet")
        ticker_slice(path, rows)
        runner.run(
            [
                {
                    "alias": "tickers",
                    "data_paths": [path],
                    "schema_file": path,
                    "watermark": _mts(inv, 55),
                }
            ],
            system_time=ts(2 + inv),
        )
        assert _state_rows(runner, "over-acc") <= keys
        # pending = rows above the watermark only (minutes 56-59).
        assert _state_rows(runner, "over-pending") <= 4 * 5 + 5


# ---------------------------------------------------------------- match recognize

STRESS_MR_QUERY = """select * from tickers
MATCH_RECOGNIZE (
  PARTITION BY symbol
  ORDER BY event_time
  MEASURES
    FIRST(A.event_time) AS start_time,
    LAST(C.event_time) AS event_time,
    COUNT(B.*) AS n_mid,
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


def test_match_recognize_state_horizon_bounded(spark, tmp_path):
    """3 invocations x 300 ticks over 15 symbols whose prices cycle
    5 -> 50 -> 150 (every 3rd row completes a match): the CEP buffer holds
    only the above-watermark tail plus at most one in-flight attempt per
    key — not cumulative history; match counters stay O(keys)."""
    runner = TransformRunner(spark, tmp_path, queries=[(STRESS_MR_QUERY, None)])
    cycle = [5, 50, 150]
    keys = 15
    off = 0
    per_key_seq = {f"S{k:02d}": 0 for k in range(keys)}
    for inv in (1, 2, 3):
        rows = []
        for minute in range(60):
            for j in range(5):
                sym = f"S{(off + j) % keys:02d}"
                price = cycle[per_key_seq[sym] % 3]
                per_key_seq[sym] += 1
                rows.append((off, 0, ts(2 + inv), _mts(inv, minute), sym, price))
                off += 1
        path = str(tmp_path / "in" / f"s{inv}.parquet")
        ticker_slice(path, rows)
        runner.run(
            [
                {
                    "alias": "tickers",
                    "data_paths": [path],
                    "schema_file": path,
                    "watermark": _mts(inv, 55),
                }
            ],
            system_time=ts(2 + inv),
        )
        assert _state_rows(runner, "mr-counts") <= keys
        buf_dir = next(
            os.path.join(runner.prev_checkpoint, e)
            for e in os.listdir(runner.prev_checkpoint)
            if "mr-buffer" in e
        )
        buf = pq.read_table(buf_dir)
        # No history: every buffered row is from THIS invocation's hour —
        # prior slices were fully consumed or matched out of state.
        if buf.num_rows:
            min_et = min(r["event_time"] for r in buf.to_pylist())
            assert min_et >= _mts(inv, 0), min_et
        # Count bound: the above-watermark tail (4 min x 5 rows) plus at
        # most ~2 in-flight attempt rows per key (A [B*] awaiting C under
        # SKIP PAST LAST ROW with this price cycle).
        assert buf.num_rows <= 4 * 5 + 2 * keys + 5, buf.num_rows


# ---------------------------------------------------------------- unbounded agg

STRESS_UA_QUERY = """select
  cast(now() as timestamp(3)) as placed_at,
  symbol,
  count(*) as n,
  sum(price) as total
from tickers group by symbol"""


def test_unbounded_agg_state_is_o_keys(spark, tmp_path):
    """Continuous aggregation keeps ONE accumulator row per distinct key —
    state never grows with input volume, only with key cardinality."""
    from kamu_engine_flink_spark.protocol.model import DatasetVocabulary

    runner = TransformRunner(
        spark,
        tmp_path,
        queries=[(STRESS_UA_QUERY, None)],
        vocab=DatasetVocabulary(event_time_column="placed_at"),
    )
    keys = 30
    off = 0
    for inv in (1, 2, 3):
        rows = []
        for minute in range(60):
            for j in range(5):
                sym = f"S{(off + j) % keys:02d}"
                rows.append((off, 0, ts(2 + inv), _mts(inv, minute), sym, 1 + off % 9))
                off += 1
        path = str(tmp_path / "in" / f"s{inv}.parquet")
        ticker_slice(path, rows)
        runner.run(
            [
                {
                    "alias": "tickers",
                    "data_paths": [path],
                    "schema_file": path,
                    "watermark": _mts(inv, 55),
                }
            ],
            system_time=ts(2 + inv),
        )
        assert _state_rows(runner, "unbounded-acc") == keys


def test_append_only_state_compacts_past_file_bound(spark, tmp_path, monkeypatch):
    """Append-only relations add ~num_buckets files per invocation; past
    state._COMPACT_AFTER_FILES the append folds every generation
    into one bucketed rewrite (LSM-style), keeping file counts bounded on
    long-lived streams while rows stay exact."""
    import os

    from pyspark.sql import functions as F

    from kamu_engine_flink_spark.engine import state as state_mod
    from kamu_engine_flink_spark.engine.state import StateStore

    monkeypatch.setattr(state_mod, "_COMPACT_AFTER_FILES", 12)
    prev_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        prev = None
        total = 0
        for inv in range(6):
            new_dir = str(tmp_path / f"cp-{inv}")
            st = StateStore(spark, prev, new_dir)
            delta = spark.range(inv * 10, inv * 10 + 10).select(
                (F.col("id") % 7).alias("k"), F.col("id").alias("v")
            )
            st.save_df("rows", delta, bucket_by=["k"], append=True)
            st.flush_deferred()
            total += 10
            rel = os.path.join(new_dir, "rows.parquet")
            n_files = sum(
                1 for e in os.listdir(rel) if not e.startswith(("_", "."))
            )
            assert n_files <= 12 + 4, f"inv {inv}: {n_files} files"
            loaded = StateStore(spark, new_dir, str(tmp_path / "scratch")).load_df("rows")
            assert loaded.count() == total
            assert loaded.agg(F.sum("v")).collect()[0][0] == sum(
                range(inv * 10 + 10)
            )
            prev = new_dir
        # At least one compaction must have fired across 6 x 4-file gens.
        final_files = sum(
            1
            for e in os.listdir(os.path.join(prev, "rows.parquet"))
            if not e.startswith(("_", "."))
        )
        assert final_files < 24
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_partitions)
