"""Temporal (as-of) join over an UPDATING build side — the versioned view
maintained by a changelog (Flink's event-time temporal join with a
changelog-fed versioned table; reference surface via planner delegation,
TransformEngine.scala:252-262).

The continuous aggregate's correction stream IS the version history: each
op-0/op-3 row is a version at its emitted event time, op-1 is a tombstone,
op-2 is pair bookkeeping. A probe row resolves the latest live version at
its event time — so an old probe sees the OLD rate even after the
aggregate corrected it, and a probe inside a tombstone interval sees
nothing. Versions are stamped by the changelog's OWN rowtime (here
max(event_time), the mainline rates-table shape — Flink uses the changelog
row's rowtime identically); rows arriving at or before the build watermark
already used for releases are late and dropped, like Flink's late
changelog handling.
"""

import os

import pyarrow.parquet as pq
import pytest

from kamu_engine_flink_spark.engine import state as state_mod
from kamu_engine_flink_spark.protocol.model import InvalidQueryError

from .helpers import TransformRunner, ticker_slice, ts

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


def _rows(out):
    table = pq.read_table(out)
    return sorted(
        (r["symbol"], r["event_time"].isoformat(), r["qty"], r["rate"])
        for r in table.to_pylist()
    )


def test_asof_over_continuous_agg(spark, tmp_path):
    """Probe rows resolve against the version of the aggregate that was
    live AT THEIR TIME: after a correction, an old probe still sees the
    old rate; probes before the first version match nothing (inner)."""
    runner = TransformRunner(
        spark, tmp_path, queries=[(RATES, "rates"), (ASOF, None)],
        temporal_tables=[("rates", "symbol")],
    )

    # Invocation 1: rate events at day 1 -> versions A=10@d1, B=5@d1.
    # Probes: day 0 (before any version -> dropped), day 2 (sees A=10).
    resp, out = runner.run(
        _inputs(
            tmp_path, "r1",
            [(0, 0, ts(10), ts(1, 0, 1), "A", 10),
             (1, 0, ts(10), ts(1, 0, 2), "B", 5)],
            [(0, 0, ts(10), ts(1, 0, 0), "A", 100),
             (1, 0, ts(10), ts(2, 0, 0), "A", 200)],
            ts(3), ts(3),
        ),
        system_time=ts(10),
    )
    assert _rows(out) == [("A", ts(2).isoformat(), 200, 10)]

    # Invocation 2: A's rate corrects 10 -> 17 with version time day 5.
    # Probe at day 4 sees the OLD rate 10; probe at day 5+1min sees 17;
    # probe on B sees its unchanged version.
    resp2, out2 = runner.run(
        _inputs(
            tmp_path, "r2",
            [(2, 0, ts(12), ts(5, 0, 0), "A", 7)],
            [(2, 0, ts(12), ts(4, 0, 0), "A", 300),
             (3, 0, ts(12), ts(5, 0, 1), "A", 400),
             (4, 0, ts(12), ts(4, 0, 0), "B", 500)],
            ts(6), ts(6),
        ),
        system_time=ts(12),
    )
    assert _rows(out2) == [
        ("A", ts(4).isoformat(), 300, 10),
        ("A", ts(5, 0, 1).isoformat(), 400, 17),
        ("B", ts(4).isoformat(), 500, 5),
    ]


def test_asof_probe_buffers_until_watermark(spark, tmp_path):
    """A probe row beyond the joint watermark buffers and releases on a
    later invocation — against the version live at its time, even if the
    aggregate corrected in between."""
    runner = TransformRunner(
        spark, tmp_path, queries=[(RATES, "rates"), (ASOF, None)],
        temporal_tables=[("rates", "symbol")],
    )
    # Invocation 1: version A=10@d1; probe at day 2 arrives but the
    # watermark (day 1 12:00) hasn't passed it -> buffers.
    resp, out = runner.run(
        _inputs(
            tmp_path, "r1",
            [(0, 0, ts(10), ts(1, 0, 0), "A", 10)],
            [(0, 0, ts(10), ts(2, 0, 0), "A", 100)],
            ts(1, 12), ts(1, 12),
        ),
        system_time=ts(10),
    )
    assert not os.path.exists(out)

    # Invocation 2: rate corrects to 17 at day 5; watermark passes day 2
    # -> the buffered probe releases against the version live at ITS
    # time (10, not 17).
    resp2, out2 = runner.run(
        _inputs(tmp_path, "r2",
                [(1, 0, ts(12), ts(5, 0, 0), "A", 7)], [],
                ts(6), ts(6)),
        system_time=ts(12),
    )
    assert _rows(out2) == [("A", ts(2).isoformat(), 100, 10)]


def test_asof_tombstone_excludes_dead_key(spark, tmp_path):
    """A key whose aggregate state DIES (op-1) leaves a tombstone at the
    delete row's emitted rowtime: probes resolving into the dead interval
    match nothing (without tombstone handling the stale version would
    still match with an open validity interval)."""
    per_symbol = """SELECT max(event_time) as event_time,
  symbol, count(*) as n FROM a GROUP BY symbol"""
    hist = """SELECT max(event_time) as event_time,
  n, count(*) as n_symbols FROM per_symbol GROUP BY n"""
    probe = """SELECT o.event_time as event_time, o.price as bucket,
  h.n_symbols as n_symbols
FROM o JOIN hist FOR SYSTEM_TIME AS OF o.event_time AS h
ON o.price = h.n"""
    runner = TransformRunner(
        spark, tmp_path,
        queries=[(per_symbol, "per_symbol"), (hist, "hist"), (probe, None)],
        temporal_tables=[("hist", "n")],
    )

    def _in(name, a_rows, o_rows, wm):
        a = str(tmp_path / "in" / f"a_{name}.parquet")
        o = str(tmp_path / "in" / f"o_{name}.parquet")
        ticker_slice(a, a_rows)
        ticker_slice(o, o_rows)
        return [
            {"alias": "a", "data_paths": [a] if a_rows else [],
             "schema_file": a, "watermark": wm},
            {"alias": "o", "data_paths": [o] if o_rows else [],
             "schema_file": o, "watermark": wm},
        ]

    # Invocation 1 (watermark held low so the later death is not late):
    # A has 1 event at day 2 -> hist bucket n=1 holds 1 symbol (version
    # at day 2).
    runner.run(_in("r1", [(0, 0, ts(10), ts(2, 0, 0), "A", 10)], [],
                   ts(1, 6)), system_time=ts(10))
    # Invocation 2: A's second event (day 5) -> bucket 1 DIES. The op-1
    # delete carries the bucket's last values, so the tombstone lands at
    # day 2 with a later emission seq — bucket 1 is dead from day 2 on.
    # Bucket 2 is born with version time day 5.
    runner.run(_in("r2", [(1, 0, ts(12), ts(5, 0, 0), "A", 11)], [],
                   ts(1, 12)), system_time=ts(12))
    # Invocation 3: probes. bucket=1 at day 3 -> tombstoned, no match;
    # bucket=2 at day 6 -> alive; bucket=1 at day 1 12:00 -> before any
    # version, no match.
    resp3, out3 = runner.run(
        _in("r3", [],
            [(0, 0, ts(14), ts(3), "X", 1),
             (1, 0, ts(14), ts(6), "X", 2),
             (2, 0, ts(14), ts(1, 12), "X", 1)],
            ts(9)),
        system_time=ts(14),
    )
    rows = sorted(
        (r["bucket"], r["event_time"].isoformat(), r["n_symbols"])
        for r in pq.read_table(out3).to_pylist()
    )
    assert rows == [(2, ts(6).isoformat(), 1)]


def test_asof_late_version_dropped_for_consistency(spark, tmp_path):
    """A version row at or before the build watermark already used for
    releases is LATE: accepting it would contradict probes already
    emitted, so it drops (Flink's late changelog handling) and later
    probes keep resolving the established history."""
    per_symbol = """SELECT max(event_time) as event_time,
  symbol, count(*) as n FROM a GROUP BY symbol"""
    hist = """SELECT max(event_time) as event_time,
  n, count(*) as n_symbols FROM per_symbol GROUP BY n"""
    probe = """SELECT o.event_time as event_time, o.price as bucket,
  h.n_symbols as n_symbols
FROM o JOIN hist FOR SYSTEM_TIME AS OF o.event_time AS h
ON o.price = h.n"""
    runner = TransformRunner(
        spark, tmp_path,
        queries=[(per_symbol, "per_symbol"), (hist, "hist"), (probe, None)],
        temporal_tables=[("hist", "n")],
    )

    def _in(name, a_rows, o_rows, wm):
        a = str(tmp_path / "in" / f"a_{name}.parquet")
        o = str(tmp_path / "in" / f"o_{name}.parquet")
        ticker_slice(a, a_rows)
        ticker_slice(o, o_rows)
        return [
            {"alias": "a", "data_paths": [a] if a_rows else [],
             "schema_file": a, "watermark": wm},
            {"alias": "o", "data_paths": [o] if o_rows else [],
             "schema_file": o, "watermark": wm},
        ]

    # Invocation 1: bucket 1 version at day 2; watermark day 4 -> probe
    # (bucket 1, day 3) releases and EMITS a match against it.
    resp, out = runner.run(
        _in("r1", [(0, 0, ts(10), ts(2, 0, 0), "A", 10)],
            [(0, 0, ts(10), ts(3), "X", 1)], ts(4)),
        system_time=ts(10),
    )
    rows = [(r["bucket"], r["n_symbols"]) for r in pq.read_table(out).to_pylist()]
    assert rows == [(1, 1)]

    # Invocation 2: A's second event (day 5) kills bucket 1 — but the
    # op-1 tombstone lands at day 2, BEHIND the day-4 build watermark
    # already used for releases: it is late and drops. A new probe at
    # day 3.5 must match bucket 1 exactly like the emitted one did.
    resp2, out2 = runner.run(
        _in("r2", [(1, 0, ts(12), ts(5, 0, 0), "A", 11)],
            [(1, 0, ts(12), ts(3, 12), "X", 1)], ts(7)),
        system_time=ts(12),
    )
    rows2 = [(r["bucket"], r["n_symbols"]) for r in pq.read_table(out2).to_pylist()]
    assert rows2 == [(1, 1)]


def test_asof_updating_probe_star_rejects(spark, tmp_path):
    """An updating PROBE side now executes (test_changelog_asof_probe.py),
    but a star projection — which would collide with the threaded op
    tags — still rejects loudly."""
    left_join = """SELECT a.event_time as event_time, a.symbol as symbol,
  a.price as a_price, b.price as b_price
FROM a LEFT JOIN b ON a.symbol = b.symbol"""
    asof = """SELECT * FROM j JOIN rt FOR SYSTEM_TIME AS OF j.event_time AS rt
ON j.symbol = rt.symbol"""
    runner = TransformRunner(
        spark, tmp_path,
        queries=[(left_join, "j"), (asof, None)],
        temporal_tables=[("rt", "symbol")],
    )
    a = str(tmp_path / "in" / "a.parquet")
    b = str(tmp_path / "in" / "b.parquet")
    rt = str(tmp_path / "in" / "rt.parquet")
    ticker_slice(a, [(0, 0, ts(2), ts(1, 0, 1), "A", 10)])
    ticker_slice(b, [])
    ticker_slice(rt, [(0, 0, ts(2), ts(1, 0, 2), "A", 7)])
    with pytest.raises(InvalidQueryError, match="explicit projection"):
        runner.run(
            [{"alias": "a", "data_paths": [a], "schema_file": a, "watermark": ts(1, 1)},
             {"alias": "b", "data_paths": [], "schema_file": b, "watermark": ts(1, 1)},
             {"alias": "rt", "data_paths": [rt], "schema_file": rt, "watermark": ts(1, 1)}],
            system_time=ts(2),
        )


def test_asof_changelog_version_state_compacts(spark, tmp_path):
    """Superseded versions compact away once the joint watermark passes
    them (threshold forced to zero), and resolution stays correct."""
    runner = TransformRunner(
        spark, tmp_path, queries=[(RATES, "rates"), (ASOF, None)],
        temporal_tables=[("rates", "symbol")],
    )
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(state_mod, "_FOLD_MIN_BYTES", 0)
        n_inv = 8
        for i in range(1, n_inv + 1):
            # Rate grows by 1 each invocation (version at day i); a
            # same-invocation probe sees the freshest version.
            resp, out = runner.run(
                _inputs(
                    tmp_path, f"r{i}",
                    [(i, 0, ts(20 + i), ts(i, 0, 0), "A", 1)],
                    [(i, 0, ts(20 + i), ts(i, 0, 1), "A", i)],
                    ts(i, 12), ts(i, 12),
                ),
                system_time=ts(20 + i),
            )
            assert _rows(out) == [("A", ts(i, 0, 1).isoformat(), i, i)]
        vdirs = [
            e for e in os.listdir(runner.prev_checkpoint)
            if e.endswith("-cl-versions.parquet")
        ]
        assert len(vdirs) == 1
        n_rows = pq.read_table(
            os.path.join(runner.prev_checkpoint, vdirs[0])
        ).num_rows
        # 8 versions written; only the latest (plus at most a couple of
        # uncompacted generations) survive the watermark prune.
        assert n_rows <= 4, f"versions not compacted: {n_rows} rows"


def test_asof_left_join_pads_before_first_version(spark, tmp_path):
    """LEFT JOIN ... FOR SYSTEM_TIME AS OF over the updating build side:
    probes before the key's first version (or on unseen keys) pad NULL
    instead of dropping."""
    asof_left = """SELECT o.event_time as event_time, o.symbol as symbol,
  o.price as qty, rt.rate as rate
FROM o LEFT JOIN rates FOR SYSTEM_TIME AS OF o.event_time AS rt
ON o.symbol = rt.symbol"""
    runner = TransformRunner(
        spark, tmp_path, queries=[(RATES, "rates"), (asof_left, None)],
        temporal_tables=[("rates", "symbol")],
    )
    resp, out = runner.run(
        _inputs(
            tmp_path, "r1",
            [(0, 0, ts(10), ts(2, 0, 0), "A", 10)],
            [(0, 0, ts(10), ts(1, 0, 0), "A", 100),   # before first version
             (1, 0, ts(10), ts(2, 0, 1), "A", 200),   # matches
             (2, 0, ts(10), ts(2, 0, 1), "Z", 300)],  # unseen key
            ts(3), ts(3),
        ),
        system_time=ts(10),
    )
    assert _rows(out) == [
        ("A", ts(1).isoformat(), 100, None),
        ("A", ts(2, 0, 1).isoformat(), 200, 10),
        ("Z", ts(2, 0, 1).isoformat(), 300, None),
    ]


def test_asof_lateral_table_spelling(spark, tmp_path):
    """The LATERAL TABLE (rates(o.event_time)) spelling resolves through
    the same changelog-versioned executor."""
    lateral = """SELECT o.event_time as event_time, o.symbol as symbol,
  o.price as qty, rt.rate as rate
FROM o, LATERAL TABLE (rates(o.event_time)) AS rt
WHERE o.symbol = rt.symbol"""
    runner = TransformRunner(
        spark, tmp_path, queries=[(RATES, "rates"), (lateral, None)],
        temporal_tables=[("rates", "symbol")],
    )
    resp, out = runner.run(
        _inputs(
            tmp_path, "r1",
            [(0, 0, ts(10), ts(1, 0, 1), "A", 10),
             (1, 0, ts(10), ts(1, 0, 2), "B", 5)],
            [(0, 0, ts(10), ts(2, 0, 0), "A", 100),
             (1, 0, ts(10), ts(2, 0, 0), "B", 200)],
            ts(3), ts(3),
        ),
        system_time=ts(10),
    )
    assert _rows(out) == [
        ("A", ts(2).isoformat(), 100, 10),
        ("B", ts(2).isoformat(), 200, 5),
    ]


@pytest.mark.parametrize("seed,n_inv", [(7, 3), (23, 4)])
def test_asof_random_slicing_matches_brute_force(spark, tmp_path, seed, n_inv):
    """Randomized scenario vs a Python brute-force model of the full
    contract: continuous-agg version history (max-event-time rowtime,
    monotone vseq), late-version drops against the prior build watermark,
    probe buffering until the joint watermark, and latest-live-version
    resolution. Seeded, so failures reproduce."""
    import random

    rng = random.Random(seed)
    syms = [f"S{i}" for i in range(4)]
    rate_events = [
        (rng.choice(syms), ts(rng.randint(1, 18), rng.randint(0, 23)),
         rng.randint(1, 9))
        for _ in range(28)
    ]
    probe_events = [
        (rng.choice(syms), ts(rng.randint(1, 18), rng.randint(0, 23)), 1000 + i)
        for i in range(24)
    ]
    rng.shuffle(rate_events)
    rng.shuffle(probe_events)

    def chunk(evts, k):
        out = [[] for _ in range(k)]
        for e in evts:
            out[rng.randrange(k)].append(e)
        return out

    r_slices = chunk(rate_events, n_inv)
    p_slices = chunk(probe_events, n_inv)
    wms = [ts(5 + i * (16 // n_inv)) for i in range(n_inv - 1)] + [ts(21)]

    # ---- brute-force model -------------------------------------------
    agg = {}       # sym -> [sum, max_ts]
    versions = {}  # sym -> [(vt, vseq, rate)]
    pending, emitted, prev_bw, vseq = [], [], None, 0
    for rs, ps, wm in zip(r_slices, p_slices, wms):
        touched = set()
        for sym, t, price in rs:
            s, m = agg.get(sym, (0, None))
            agg[sym] = (s + price, t if m is None or t > m else m)
            touched.add(sym)
        for sym in sorted(touched):
            s, m = agg[sym]
            if prev_bw is not None and m <= prev_bw:
                continue  # late version: contradicts released probes
            versions.setdefault(sym, []).append((m, vseq, s))
            vseq += 1
        pending += ps
        release = [p for p in pending if p[1] <= wm]
        pending = [p for p in pending if p[1] > wm]
        for sym, t, qty in release:
            vs = [v for v in versions.get(sym, []) if v[0] <= t]
            if vs:
                emitted.append((sym, t.isoformat(), qty, max(vs)[2]))
        prev_bw = wm

    # ---- engine -------------------------------------------------------
    runner = TransformRunner(
        spark, tmp_path, queries=[(RATES, "rates"), (ASOF, None)],
        temporal_tables=[("rates", "symbol")],
    )
    got = []
    for i, (rs, ps, wm) in enumerate(zip(r_slices, p_slices, wms)):
        r_rows = [(j, 0, ts(25), t, sym, price)
                  for j, (sym, t, price) in enumerate(rs)]
        p_rows = [(j, 0, ts(25), t, sym, qty)
                  for j, (sym, t, qty) in enumerate(ps)]
        resp, out = runner.run(
            _inputs(tmp_path, f"rnd{i}", r_rows, p_rows, wm, wm),
            system_time=ts(25, i),
        )
        if os.path.exists(out):
            got += [
                (r["symbol"], r["event_time"].isoformat(), r["qty"], r["rate"])
                for r in pq.read_table(out).to_pylist()
            ]
    assert sorted(got) == sorted(emitted)


def test_asof_output_chains_into_continuous_agg(spark, tmp_path):
    """The as-of join's output is append-only, so it chains freely — here
    into a continuous aggregate that emits corrections as more probes
    resolve across invocations."""
    agg = """SELECT max(event_time) as event_time,
  symbol, sum(rate) as rate_total, count(*) as n FROM jx GROUP BY symbol"""
    runner = TransformRunner(
        spark, tmp_path,
        queries=[(RATES, "rates"), (ASOF, "jx"), (agg, None)],
        temporal_tables=[("rates", "symbol")],
    )

    def _r(out):
        return sorted(
            (r["op"], r["symbol"], r["rate_total"], r["n"])
            for r in pq.read_table(out).to_pylist()
        )

    # Invocation 1: version A=10@d1; probes at d2 and d3 -> two resolved
    # rows -> agg (A, 20, 2).
    resp, out = runner.run(
        _inputs(
            tmp_path, "r1",
            [(0, 0, ts(10), ts(1, 0, 0), "A", 10)],
            [(0, 0, ts(10), ts(2, 0, 0), "A", 100),
             (1, 0, ts(10), ts(3, 0, 0), "A", 200)],
            ts(4), ts(4),
        ),
        system_time=ts(10),
    )
    assert _r(out) == [(0, "A", 20, 2)]

    # Invocation 2: rate corrects to 17 at d5; a probe at d6 resolves 17
    # -> the agg corrects (A, 20, 2) -> (A, 37, 3) as one op-2/3 pair.
    resp2, out2 = runner.run(
        _inputs(
            tmp_path, "r2",
            [(1, 0, ts(12), ts(5, 0, 0), "A", 7)],
            [(2, 0, ts(12), ts(6, 0, 0), "A", 300)],
            ts(7), ts(7),
        ),
        system_time=ts(12),
    )
    assert _r(out2) == [(2, "A", 20, 2), (3, "A", 37, 3)]
