"""Regressions for the round-8 ADVICE findings.

1. streaming/structured.py `_changelog_topn_fn`: None doubled as both
   "no row at this place" and a NULL value occupying a place — retracting
   or replacing a NULL-valued place emitted a spurious op-0 insert. Fixed
   with the `_ABSENT` sentinel.
2. operators/temporal_join.py `execute_changelog_temporal_join`: late
   build versions were dropped against the previous BUILD watermark, but
   probe releases gate on the JOINT watermark — when the build side runs
   ahead (dimension-ahead-of-facts), versions in (joint_wm, build_wm]
   affect only still-buffered probes and must be kept (Flink keeps them).
3. engine/transform.py emission stamp: once keyed on total INPUT slice
   bytes; the stamp is now one serial window over the emission itself,
   so large-input/small-emission and amplifying chains both stamp
   exactly their emission.
"""

import os
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

from .helpers import TransformRunner, ticker_slice, ts


def _cl_slice(path, rows):
    """rows: (key, value, op); value may be None (NULL double)."""
    cols = list(zip(*rows)) if rows else [[], [], []]
    pq.write_table(
        pa.table(
            {
                "key": pa.array(list(cols[0]), pa.string()),
                "value": pa.array(list(cols[1]), pa.float64()),
                "op": pa.array(list(cols[2]), pa.int32()),
            }
        ),
        path,
        compression="snappy",
    )


def test_streaming_changelog_topn_null_place_retracts(spark, tmp_path):
    """A NULL-valued row occupying a visible place must diff as a VALUE:
    its retraction emits op-1 (and its replacement an op-2/3 pair), never
    a bare op-0 insert that would leave two live rows at one place."""
    from kamu_engine_flink_spark.streaming.structured import StreamingChangelogTopN

    d = {k: str(tmp_path / k) for k in ["in", "chk", "out"]}
    os.makedirs(d["in"])
    job = StreamingChangelogTopN(
        input_dir=d["in"], checkpoint_dir=d["chk"], output_dir=d["out"], n=2
    )

    def _read():
        try:
            rows = spark.read.parquet(d["out"]).collect()
        except Exception:
            return []
        return [(r.op, r.key, r.place, r.value) for r in rows]

    # Run 1: [5.0, NULL] — NULL sorts last but occupies place 2.
    _cl_slice(os.path.join(d["in"], "s1.parquet"),
              [("A", 5.0, 0), ("A", None, 0)])
    job.run_available_now(spark)
    out1 = sorted(_read(), key=lambda r: (r[2], r[0]))
    assert out1 == [(0, "A", 1, 5.0), (0, "A", 2, None)]

    # Run 2: a real value arrives — NULL is pushed out of the top-2 by
    # 3.0: place 2 CHANGES NULL -> 3.0, an op-2/3 pair (the buggy code
    # emitted a lone op-0 insert for place 2).
    _cl_slice(os.path.join(d["in"], "s2.parquet"), [("A", 3.0, 0)])
    job.run_available_now(spark)
    delta2 = Counter(_read()) - Counter(out1)
    assert dict(delta2) == {(2, "A", 2, None): 1, (3, "A", 2, 3.0): 1}

    # Run 3: 3.0 retracts — NULL returns to place 2 (op-2/3 back).
    snap = _read()
    _cl_slice(os.path.join(d["in"], "s3.parquet"), [("A", 3.0, 1)])
    job.run_available_now(spark)
    delta3 = Counter(_read()) - Counter(snap)
    assert dict(delta3) == {(2, "A", 2, 3.0): 1, (3, "A", 2, None): 1}

    # Run 4: the NULL row itself retracts — place 2 DISAPPEARS: op-1
    # with a NULL value (the buggy code emitted op-0 here too).
    snap = _read()
    _cl_slice(os.path.join(d["in"], "s4.parquet"), [("A", None, 1)])
    job.run_available_now(spark)
    delta4 = Counter(_read()) - Counter(snap)
    assert dict(delta4) == {(1, "A", 2, None): 1}


RATES = """SELECT max(event_time) as event_time,
  symbol, sum(price) as rate FROM r GROUP BY symbol"""

ASOF = """SELECT o.event_time as event_time, o.symbol as symbol,
  o.price as qty, rt.rate as rate
FROM o JOIN rates FOR SYSTEM_TIME AS OF o.event_time AS rt
ON o.symbol = rt.symbol"""


def _inputs(tmp_path, name, r_rows, o_rows, r_wm, o_wm):
    r = str(tmp_path / "in" / f"r_{name}.parquet")
    o = str(tmp_path / "in" / f"o_{name}.parquet")
    ticker_slice(r, r_rows)
    ticker_slice(o, o_rows)
    return [
        {"alias": "r", "data_paths": [r] if r_rows else [], "schema_file": r,
         "watermark": r_wm},
        {"alias": "o", "data_paths": [o] if o_rows else [], "schema_file": o,
         "watermark": o_wm},
    ]


def test_asof_build_ahead_of_probe_keeps_midband_versions(spark, tmp_path):
    """Dimension-ahead-of-facts: the build watermark runs ahead of the
    probe watermark, so releases gate on the (lower) joint watermark. A
    next-invocation version with event_time in (prev joint_wm,
    prev build_wm] can only affect still-buffered probes — it must be
    KEPT, and those probes must resolve against it (matching a batch
    recompute and Flink's behavior)."""
    runner = TransformRunner(
        spark, tmp_path, queries=[(RATES, "rates"), (ASOF, None)],
        temporal_tables=[("rates", "symbol")],
    )

    # Invocation 1: version A=10@d1. Build watermark d6 (far ahead);
    # probe watermark d2 -> joint d2. The d2 probe releases against 10.
    resp, out = runner.run(
        _inputs(
            tmp_path, "r1",
            [(0, 0, ts(10), ts(1, 0, 0), "A", 10)],
            [(0, 0, ts(10), ts(2, 0, 0), "A", 100)],
            ts(6), ts(2),
        ),
        system_time=ts(10),
    )
    rows = [(r["symbol"], r["qty"], r["rate"])
            for r in pq.read_table(out).to_pylist()]
    assert rows == [("A", 100, 10)]

    # Invocation 2: a rate event at d4 corrects A to 17 with version time
    # d4 — BEHIND the previous build watermark (d6) but AHEAD of the
    # previous joint watermark (d2): no released probe ever saw the d4
    # slot, so the version is live history, not late. A probe at d5 must
    # see 17. (The buggy build-watermark gate dropped the version and
    # resolved 10.)
    resp2, out2 = runner.run(
        _inputs(
            tmp_path, "r2",
            [(1, 0, ts(12), ts(4, 0, 0), "A", 7)],
            [(1, 0, ts(12), ts(5, 0, 0), "A", 200)],
            ts(8), ts(6),
        ),
        system_time=ts(12),
    )
    rows2 = [(r["symbol"], r["qty"], r["rate"])
             for r in pq.read_table(out2).to_pylist()]
    assert rows2 == [("A", 200, 17)]

    # Invocation 3: a version at d1 12:00 — at or before the joint
    # watermark already used for releases (d6) — IS late (the d2 and d5
    # probes were emitted over that history) and still drops.
    resp3, out3 = runner.run(
        _inputs(
            tmp_path, "r3",
            [(2, 0, ts(14), ts(1, 12, 0), "A", 1000)],
            [(2, 0, ts(14), ts(6, 12, 0), "A", 300)],
            ts(9), ts(8),
        ),
        system_time=ts(14),
    )
    rows3 = [(r["symbol"], r["qty"], r["rate"])
             for r in pq.read_table(out3).to_pylist()]
    assert rows3 == [("A", 300, 17)]


AGG = """SELECT cast(now() as timestamp(3)) as event_time,
  symbol, sum(price) as s FROM a GROUP BY symbol"""
PROJ = "SELECT event_time, symbol, s FROM g"


def _agg_inputs(tmp_path, name, rows, wm):
    a = str(tmp_path / "in" / f"a_{name}.parquet")
    ticker_slice(a, rows)
    return [{"alias": "a", "data_paths": [a] if rows else [],
             "schema_file": a, "watermark": wm}]


def test_stamp_gate_keys_on_emission_not_input(spark, tmp_path):
    """A many-row input folding to a one-row emission, and a small input
    emitting one row per key through a WHERE consumer (the non-dense,
    pinned-and-counted stamp), both output exactly their emission."""
    # Case A: 200 input rows fold to ONE key -> emission of 1 row.
    runner = TransformRunner(
        spark, tmp_path, queries=[(AGG, "g"), (PROJ, None)],
    )
    rows = [(i, 0, ts(2), ts(1, 0, 1), "X", 1) for i in range(200)]
    resp, out = runner.run(
        _agg_inputs(tmp_path, "big_in", rows, ts(1, 1)), system_time=ts(2)
    )
    got = [(r["op"], r["symbol"], r["s"])
           for r in pq.read_table(out).to_pylist()]
    assert got == [(0, "X", 200)]

    # Case B: 8 input rows over 8 keys -> emission of 8 rows.
    runner2 = TransformRunner(
        spark, tmp_path / "b",
        queries=[(AGG, "g"),
                 ("SELECT event_time, symbol, s FROM g WHERE s >= 0", None)],
    )
    rows2 = [(i, 0, ts(2), ts(1, 0, 1), f"S{i}", 10 + i) for i in range(8)]
    resp2, out2 = runner2.run(
        _agg_inputs(tmp_path / "b", "small_in", rows2, ts(1, 1)),
        system_time=ts(2),
    )
    got2 = sorted((r["op"], r["symbol"], r["s"])
                  for r in pq.read_table(out2).to_pylist())
    assert got2 == [(0, f"S{i}", 10 + i) for i in range(8)]
