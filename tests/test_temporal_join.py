"""Temporal (as-of) join parity — mirrors
EngineJoinStreamToTemporalTableTest.scala:54-451.

Covers: LATERAL TABLE and FOR SYSTEM_TIME AS OF spellings, probe-row
buffering until the joint watermark, version history across invocations,
dotted dataset aliases.
"""

from datetime import timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kamu_engine_flink_spark.engine import state as state_mod

from .helpers import TransformRunner, ticker_slice, ts, write_input_slice

LATERAL_QUERY = """SELECT
  t.event_time,
  t.symbol,
  owned.volume as volume,
  t.price as current_price,
  owned.volume * t.price as current_value
FROM
  tickers as t,
  LATERAL TABLE (`stocks.owned`(t.event_time)) AS owned
WHERE t.symbol = owned.symbol"""

SYSTEM_TIME_QUERY = """SELECT
  t.event_time,
  t.symbol,
  owned.volume as volume,
  t.price as current_price,
  owned.volume * t.price as current_value
FROM tickers as t
JOIN `stocks.owned` FOR SYSTEM_TIME AS OF t.event_time AS owned
ON t.symbol = owned.symbol"""


def stocks_owned_slice(path: str, rows: list[tuple]):
    """rows: (offset, system_time, event_time, symbol, volume)"""
    cols = list(zip(*rows))
    write_input_slice(
        path,
        {
            "offset": list(cols[0]),
            "op": [0] * len(rows),
            "system_time": list(cols[1]),
            "event_time": list(cols[2]),
            "symbol": list(cols[3]),
            "volume": list(cols[4]),
        },
        {
            "offset": pa.int64(),
            "op": pa.int32(),
            "system_time": pa.timestamp("ms", tz="UTC"),
            "event_time": pa.timestamp("ms", tz="UTC"),
            "symbol": pa.string(),
            "volume": pa.int32(),
        },
    )


def _rows(out_path):
    table = pq.read_table(out_path)
    rows = [
        (
            r["system_time"].replace(tzinfo=timezone.utc),
            r["event_time"].replace(tzinfo=timezone.utc),
            r["symbol"],
            r["volume"],
            r["current_price"],
            r["current_value"],
        )
        for r in table.to_pylist()
    ]
    return sorted(rows, key=lambda r: (r[1], r[2]))


def _run_scenario(spark, tmp_path, query):
    runner = TransformRunner(
        spark,
        tmp_path,
        queries=[(query, None)],
        temporal_tables=[("stocks.owned", "symbol")],
    )
    t1 = str(tmp_path / "tickers" / "t1.parquet")
    ticker_slice(
        t1,
        [
            (0, 0, ts(5), ts(1), "A", 10),
            (1, 0, ts(5), ts(1), "B", 20),
            (2, 0, ts(5), ts(2), "A", 10),
            (3, 0, ts(5), ts(2), "B", 20),
            (4, 0, ts(5), ts(3), "A", 12),
            (5, 0, ts(5), ts(3), "B", 22),
            (6, 0, ts(5), ts(4), "A", 14),
            (7, 0, ts(5), ts(4), "B", 24),
        ],
    )
    s1 = str(tmp_path / "stocks" / "s1.parquet")
    stocks_owned_slice(s1, [(0, ts(4), ts(2), "A", 100), (1, ts(4), ts(3), "B", 200)])

    resp, out = runner.run(
        [
            {"alias": "tickers", "data_paths": [t1], "schema_file": t1, "watermark": ts(4)},
            {"alias": "stocks.owned", "data_paths": [s1], "schema_file": s1, "watermark": ts(3)},
        ],
        system_time=ts(10),
    )
    assert (resp.new_offset_interval.start, resp.new_offset_interval.end) == (0, 2)
    assert resp.new_watermark == ts(3)
    assert _rows(out) == [
        (ts(10), ts(2), "A", 100, 10, 1000),
        (ts(10), ts(3), "A", 100, 12, 1200),
        (ts(10), ts(3), "B", 200, 22, 4400),
    ]

    # Second invocation: buffered ts(4) probe rows release; B's volume was
    # updated to 250 effective ts(4).
    t2 = str(tmp_path / "tickers" / "t2.parquet")
    ticker_slice(t2, [(8, 0, ts(6), ts(5), "A", 15), (9, 0, ts(6), ts(5), "B", 25)])
    s2 = str(tmp_path / "stocks" / "s2.parquet")
    stocks_owned_slice(s2, [(2, ts(5), ts(4), "B", 250)])

    runner.next_offset = 3
    resp, out = runner.run(
        [
            {"alias": "tickers", "data_paths": [t2], "schema_file": t2, "watermark": ts(5)},
            {"alias": "stocks.owned", "data_paths": [s2], "schema_file": s2, "watermark": ts(4)},
        ],
        system_time=ts(20),
    )
    assert (resp.new_offset_interval.start, resp.new_offset_interval.end) == (3, 4)
    assert resp.new_watermark == ts(4)
    assert _rows(out) == [
        (ts(20), ts(4), "A", 100, 14, 1400),
        (ts(20), ts(4), "B", 250, 24, 6000),
    ]


def test_temporal_join_lateral_table(spark, tmp_path):
    _run_scenario(spark, tmp_path, LATERAL_QUERY)


def test_temporal_join_for_system_time(spark, tmp_path):
    _run_scenario(spark, tmp_path, SYSTEM_TIME_QUERY)


def test_temporal_join_version_state_compacts(spark, tmp_path):
    """Version state appends O(slice) per invocation and compacts past the
    size trigger (forced to zero): superseded versions drop once the joint
    watermark passes them, and buffered probes keep resolving correctly."""
    import os

    query = """SELECT t.event_time as event_time, t.symbol as symbol,
  t.price as price, s.volume as volume
FROM tickers as t
JOIN `stocks.owned` FOR SYSTEM_TIME AS OF t.event_time AS s
ON t.symbol = s.symbol"""
    runner = TransformRunner(
        spark, tmp_path, queries=[(query, None)],
        temporal_tables=[("stocks.owned", "symbol")],
    )
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(state_mod, "_FOLD_MIN_BYTES", 0)
        n_inv = 8
        for i in range(1, n_inv + 1):
            t = str(tmp_path / "tickers" / f"t{i}.parquet")
            s = str(tmp_path / "stocks" / f"s{i}.parquet")
            # One new version of A per invocation (volume 100*i at day i)
            # and one probe just after it.
            ticker_slice(t, [(i, 0, ts(20 + i), ts(i, 1), "A", i)])
            stocks_owned_slice(s, [(i, ts(20 + i), ts(i), "A", 100 * i)])
            resp, out = runner.run(
                [{"alias": "tickers", "data_paths": [t], "schema_file": t,
                  "watermark": ts(i, 12)},
                 {"alias": "stocks.owned", "data_paths": [s], "schema_file": s,
                  "watermark": ts(i, 12)}],
                system_time=ts(20 + i),
            )
            rows = [
                (r["symbol"], r["price"], r["volume"])
                for r in pq.read_table(out).to_pylist()
            ]
            assert rows == [("A", i, 100 * i)], rows
        vdirs = [
            e for e in os.listdir(runner.prev_checkpoint)
            if e.endswith("-versions-stocks__owned.parquet")
        ]
        assert len(vdirs) == 1, os.listdir(runner.prev_checkpoint)
        n_rows = pq.read_table(
            os.path.join(runner.prev_checkpoint, vdirs[0])
        ).num_rows
        # 8 versions written; only the reachable tail (plus at most a
        # couple of uncompacted generations) survives.
        assert n_rows <= 4, f"versions not compacted: {n_rows} rows"


# ---------------------------------------------------------------------------
# COMPOSITE primary keys (beyond reference parity: the reference throws on
# them, TransformEngine.scala:194-197). Versions are keyed by the FULL
# (symbol, region) tuple — two keys sharing a symbol must not shadow each
# other's version history — and state persists across invocations.
# ---------------------------------------------------------------------------


def _rates2_slice(path, rows):
    """rows: (offset, system_time, event_time, symbol, region, rate)"""
    cols = list(zip(*rows)) if rows else [[]] * 6
    write_input_slice(
        path,
        {
            "offset": list(cols[0]),
            "op": [0] * len(rows),
            "system_time": list(cols[1]),
            "event_time": list(cols[2]),
            "symbol": list(cols[3]),
            "region": list(cols[4]),
            "rate": list(cols[5]),
        },
        {
            "offset": pa.int64(),
            "op": pa.int32(),
            "system_time": pa.timestamp("ms", tz="UTC"),
            "event_time": pa.timestamp("ms", tz="UTC"),
            "symbol": pa.string(),
            "region": pa.string(),
            "rate": pa.int32(),
        },
    )


def _probe2_slice(path, rows):
    """rows: (offset, system_time, event_time, symbol, region, qty)"""
    cols = list(zip(*rows)) if rows else [[]] * 6
    write_input_slice(
        path,
        {
            "offset": list(cols[0]),
            "op": [0] * len(rows),
            "system_time": list(cols[1]),
            "event_time": list(cols[2]),
            "symbol": list(cols[3]),
            "region": list(cols[4]),
            "qty": list(cols[5]),
        },
        {
            "offset": pa.int64(),
            "op": pa.int32(),
            "system_time": pa.timestamp("ms", tz="UTC"),
            "event_time": pa.timestamp("ms", tz="UTC"),
            "symbol": pa.string(),
            "region": pa.string(),
            "qty": pa.int32(),
        },
    )


COMPOSITE_QUERY = """SELECT
  t.event_time, t.symbol, t.region, t.qty, r.rate AS rate,
  t.qty * r.rate AS total
FROM trades AS t
JOIN rates FOR SYSTEM_TIME AS OF t.event_time AS r
ON t.symbol = r.symbol AND t.region = r.region"""


def test_composite_pk_temporal_join(spark, tmp_path):
    runner = TransformRunner(
        spark,
        str(tmp_path),
        [(COMPOSITE_QUERY, None)],
        temporal_tables=[("rates", ("symbol", "region"))],
    )
    # Invocation 1: versions for (A, eu)=10@t1, (A, us)=20@t1 — same
    # symbol, different region. Probe (A, eu)@t2 must take 10, (A, us)@t2
    # must take 20 (a symbol-only key would collapse these).
    r1 = str(tmp_path / "r1.parquet")
    _rates2_slice(r1, [
        (0, ts(5), ts(1), "A", "eu", 10),
        (1, ts(5), ts(1), "A", "us", 20),
    ])
    p1 = str(tmp_path / "p1.parquet")
    _probe2_slice(p1, [
        (0, ts(5), ts(2), "A", "eu", 3),
        (1, ts(5), ts(2), "A", "us", 4),
    ])
    _, out1 = runner.run(
        [
            {"alias": "rates", "schema_file": r1, "data_paths": [r1],
             "watermark": ts(2)},
            {"alias": "trades", "schema_file": p1, "data_paths": [p1],
             "watermark": ts(2)},
        ],
        system_time=ts(5),
    )
    got1 = sorted(
        (r.symbol, r.region, r.qty, r.rate, r.total)
        for r in spark.read.parquet(out1).collect()
    )
    assert got1 == [("A", "eu", 3, 10, 30), ("A", "us", 4, 20, 80)]

    # Invocation 2: a NEW version for (A, eu)=11@t3 only; probes at t4 —
    # (A, eu) resolves the new version, (A, us) still the t1 version
    # restored from cross-invocation state.
    r2 = str(tmp_path / "r2.parquet")
    _rates2_slice(r2, [(2, ts(6), ts(3), "A", "eu", 11)])
    p2 = str(tmp_path / "p2.parquet")
    _probe2_slice(p2, [
        (2, ts(6), ts(4), "A", "eu", 5),
        (3, ts(6), ts(4), "A", "us", 6),
    ])
    _, out2 = runner.run(
        [
            {"alias": "rates", "schema_file": r2, "data_paths": [r2],
             "watermark": ts(4)},
            {"alias": "trades", "schema_file": p2, "data_paths": [p2],
             "watermark": ts(4)},
        ],
        system_time=ts(6),
    )
    got2 = sorted(
        (r.symbol, r.region, r.qty, r.rate, r.total)
        for r in spark.read.parquet(out2).collect()
    )
    assert got2 == [("A", "eu", 5, 11, 55), ("A", "us", 6, 20, 120)]


def test_composite_pk_requires_all_key_columns(spark, tmp_path):
    """A changelog build that fails to project every composite key column
    rejects loudly naming the full key list."""
    from kamu_engine_flink_spark.protocol.model import InvalidQueryError

    runner = TransformRunner(
        spark,
        str(tmp_path),
        [
            (
                "SELECT cast(now() as timestamp(3)) as event_time, "
                "symbol, count(*) as n FROM a GROUP BY symbol",
                "agg",
            ),
            (
                "SELECT t.event_time, t.symbol, r.n AS n FROM a AS t "
                "JOIN agg FOR SYSTEM_TIME AS OF t.event_time AS r "
                "ON t.symbol = r.symbol",
                None,
            ),
        ],
        temporal_tables=[("agg", ("symbol", "missing_col"))],
    )
    path = str(tmp_path / "a1.parquet")
    ticker_slice(path, [(0, 0, ts(1), ts(1, 1), "A", 1)])
    import pytest as _pytest

    with _pytest.raises(InvalidQueryError, match="symbol, missing_col"):
        runner.run(
            [{"alias": "a", "schema_file": path, "data_paths": [path],
              "watermark": ts(1, 1)}],
            system_time=ts(2),
        )
