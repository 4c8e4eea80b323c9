"""Regression tests for the round-7 advisor findings.

1. (high) Changelog Top-N GSEQ stamping: an op-2/op-3 correction pair
   ties on (key, rank), so the emission-order window must break the tie
   on SUB — CorrectFrom always stamps before CorrectTo, preserving the
   pair-adjacency contract downstream consumers (the changelog filter
   rewrite) depend on.
2. (medium) _changelog_union's window-function guard ran against a
   paren-masked string where `over\\s*\\(` can never match — an OVER
   branch silently computed the window aggregate over retraction rows.
   It must reject loudly; literals containing 'over (' must NOT trip it.
3. (low) The changelog Top-N ledger compacts: with churn on a key every
   invocation, state tracks LIVE rows (netted multiset), not changelog
   volume.
4. (low) A star branch in a changelog UNION ALL expands __op at
   execution; injecting another __op on the text duplicates the column.
"""

import os

import pyarrow.parquet as pq
import pytest

from kamu_engine_flink_spark.engine import state as state_mod
from kamu_engine_flink_spark.protocol.model import InvalidQueryError

from .helpers import TransformRunner, ticker_slice, ts

LEFT_JOIN = """SELECT a.event_time as event_time, a.symbol as symbol,
  a.price as a_price, b.price as b_price
FROM a LEFT JOIN b ON a.symbol = b.symbol"""


def _two_stream_inputs(tmp_path, name, a_rows, b_rows, wm):
    a = str(tmp_path / "in" / f"a_{name}.parquet")
    b = str(tmp_path / "in" / f"b_{name}.parquet")
    ticker_slice(a, a_rows)
    ticker_slice(b, b_rows)
    return [
        {"alias": "a", "data_paths": [a] if a_rows else [], "schema_file": a,
         "watermark": wm},
        {"alias": "b", "data_paths": [b] if b_rows else [], "schema_file": b,
         "watermark": wm},
    ]


def test_changelog_topn_pair_order_many_keys(spark, tmp_path):
    """Many keys correcting in ONE invocation: every op-2 must precede its
    op-3 partner in emission (file) order — the SUB tie-break in the GSEQ
    stamp (advisor round-7 high)."""
    agg = """SELECT cast(now() as timestamp(3)) as event_time,
  symbol, sum(price) as s FROM a GROUP BY symbol"""
    topn = """SELECT cast(now() as timestamp(3)) as event_time, symbol, s, rnk FROM (
  SELECT symbol, s, row_number() over (partition by symbol order by s desc) as rnk FROM g
) WHERE rnk <= 1"""
    runner = TransformRunner(spark, tmp_path, queries=[(agg, "g"), (topn, None)])

    def _run(name, rows, i):
        p = str(tmp_path / "in" / f"a_{name}.parquet")
        ticker_slice(p, rows)
        return runner.run(
            [{"alias": "a", "data_paths": [p], "schema_file": p,
              "watermark": ts(1, i, 0)}],
            system_time=ts(1 + i),
        )

    n_keys = 24
    _run("r1", [(k, 0, ts(2), ts(1, 0, 1), f"S{k:02d}", 10 + k)
                for k in range(n_keys)], 1)
    # Every key's sum corrects in the same invocation -> 24 op-2/op-3
    # pairs stamped in one window pass.
    resp2, out2 = _run(
        "r2",
        [(n_keys + k, 0, ts(3), ts(1, 0, 2), f"S{k:02d}", 100 + k)
         for k in range(n_keys)],
        2,
    )
    rows = [(r["op"], r["symbol"], r["s"]) for r in pq.read_table(out2).to_pylist()]
    assert len(rows) == 2 * n_keys
    for i in range(0, len(rows), 2):
        op_a, sym_a, _ = rows[i]
        op_b, sym_b, _ = rows[i + 1]
        assert sym_a == sym_b, f"pair not adjacent at {i}: {rows[i:i+2]}"
        assert (op_a, op_b) == (2, 3), f"CorrectTo before CorrectFrom: {rows[i:i+2]}"


def test_changelog_topn_into_filter_pair_rewrite(spark, tmp_path):
    """Changelog Top-N chained into a WHERE over its updating output: the
    filter's lag/lead pair rewrite only works when op-2 is emitted
    adjacent-before op-3 (the contract the GSEQ SUB tie-break protects)."""
    agg = """SELECT cast(now() as timestamp(3)) as event_time,
  symbol, sum(price) as s FROM a GROUP BY symbol"""
    topn = """SELECT cast(now() as timestamp(3)) as event_time, symbol, s, rnk FROM (
  SELECT symbol, s, row_number() over (partition by symbol order by s desc) as rnk FROM g
) WHERE rnk <= 1"""
    flt = "SELECT event_time, symbol, s FROM t WHERE s >= 50"
    runner = TransformRunner(
        spark, tmp_path, queries=[(agg, "g"), (topn, "t"), (flt, None)]
    )

    def _run(name, rows, i):
        p = str(tmp_path / "in" / f"a_{name}.parquet")
        ticker_slice(p, rows)
        return runner.run(
            [{"alias": "a", "data_paths": [p], "schema_file": p,
              "watermark": ts(1, i, 0)}],
            system_time=ts(1 + i),
        )

    n_keys = 16
    resp, out = _run(
        "r1",
        [(k, 0, ts(2), ts(1, 0, 1), f"S{k:02d}", 10 + k) for k in range(n_keys)],
        1,
    )
    # All sums 10..25 < 50: nothing enters the filtered view.
    assert not os.path.exists(out)

    # Every key's sum corrects above 50 in one invocation: old half fails
    # the predicate, new passes -> each pair rewrites to ONE op-0 insert.
    resp2, out2 = _run(
        "r2",
        [(n_keys + k, 0, ts(3), ts(1, 0, 2), f"S{k:02d}", 100) for k in range(n_keys)],
        2,
    )
    rows = [(r["op"], r["symbol"], r["s"]) for r in pq.read_table(out2).to_pylist()]
    assert sorted(rows) == [(0, f"S{k:02d}", 110 + k) for k in range(n_keys)]


def test_changelog_union_rejects_over_branch(spark, tmp_path):
    """A window-aggregate branch over an updating alias must reject: OVER
    would compute across op-1/op-2 retraction rows as if they were appends
    (advisor round-7 medium — the guard regex was dead on the paren mask)."""
    union = ("SELECT symbol, sum(b_price) OVER (PARTITION BY symbol) as w FROM j "
             "UNION ALL SELECT symbol, price as w FROM c")
    runner = TransformRunner(
        spark, tmp_path, queries=[(LEFT_JOIN, "j"), (union, None)]
    )
    a = str(tmp_path / "in" / "a.parquet")
    b = str(tmp_path / "in" / "b.parquet")
    c = str(tmp_path / "in" / "c.parquet")
    ticker_slice(a, [(0, 0, ts(2), ts(1, 0, 1), "A", 10)])
    ticker_slice(b, [])
    ticker_slice(c, [(0, 0, ts(2), ts(1, 0, 2), "C", 42)])
    with pytest.raises(InvalidQueryError, match="plain projections"):
        runner.run(
            [{"alias": "a", "data_paths": [a], "schema_file": a, "watermark": ts(1, 1)},
             {"alias": "b", "data_paths": [], "schema_file": b, "watermark": ts(1, 1)},
             {"alias": "c", "data_paths": [c], "schema_file": c, "watermark": ts(1, 1)}],
            system_time=ts(2),
        )


def test_changelog_union_literal_over_is_not_a_window(spark, tmp_path):
    """A string literal containing 'over (' must NOT trip the guard (the
    fix masks literals, keeps parens)."""
    union = ("SELECT event_time, symbol, b_price, 'rolled over (x)' as tag FROM j "
             "UNION ALL SELECT event_time, symbol, price as b_price, 'c' as tag FROM c")
    runner = TransformRunner(
        spark, tmp_path, queries=[(LEFT_JOIN, "j"), (union, None)]
    )
    a = str(tmp_path / "in" / "a.parquet")
    b = str(tmp_path / "in" / "b.parquet")
    c = str(tmp_path / "in" / "c.parquet")
    ticker_slice(a, [(0, 0, ts(2), ts(1, 0, 1), "A", 10)])
    ticker_slice(b, [])
    ticker_slice(c, [(0, 0, ts(2), ts(1, 0, 2), "C", 42)])
    resp, out = runner.run(
        [{"alias": "a", "data_paths": [a], "schema_file": a, "watermark": ts(1, 1)},
         {"alias": "b", "data_paths": [], "schema_file": b, "watermark": ts(1, 1)},
         {"alias": "c", "data_paths": [c], "schema_file": c, "watermark": ts(1, 1)}],
        system_time=ts(2),
    )
    rows = [(r["op"], r["symbol"], r["b_price"], r["tag"])
            for r in pq.read_table(out).to_pylist()]
    assert rows == [(0, "A", None, "rolled over (x)"), (0, "C", 42, "c")]


def test_changelog_union_star_branch(spark, tmp_path):
    """`SELECT * FROM <updating view>` as a UNION ALL branch: the star
    already expands __op — no duplicate injection (advisor round-7 low)."""
    union = ("SELECT * FROM j UNION ALL "
             "SELECT event_time, symbol, price as a_price, price as b_price FROM c")
    runner = TransformRunner(
        spark, tmp_path, queries=[(LEFT_JOIN, "j"), (union, None)]
    )

    def _in(name, a_rows, b_rows, c_rows, wm):
        out = []
        for alias, rows in (("a", a_rows), ("b", b_rows), ("c", c_rows)):
            p = str(tmp_path / "in" / f"{alias}_{name}.parquet")
            ticker_slice(p, rows)
            out.append({"alias": alias, "data_paths": [p] if rows else [],
                        "schema_file": p, "watermark": wm})
        return out

    def _r(out):
        table = pq.read_table(out)
        return [(r["op"], r["symbol"], r["a_price"], r["b_price"])
                for r in table.to_pylist()]

    resp, out = runner.run(
        _in("r1", [(0, 0, ts(2), ts(1, 0, 1), "A", 10)], [],
            [(0, 0, ts(2), ts(1, 0, 2), "C", 42)], ts(1, 1, 0)),
        system_time=ts(2),
    )
    assert _r(out) == [(0, "A", 10, None), (0, "C", 42, 42)]

    # A's partner lands: the star branch forwards j's op-1 pad retraction
    # and op-0 pair intact.
    resp2, out2 = runner.run(
        _in("r2", [], [(0, 0, ts(3), ts(1, 0, 3), "A", 7)], [], ts(1, 2, 0)),
        system_time=ts(3),
    )
    assert _r(out2) == [(1, "A", 10, None), (0, "A", 10, 7)]


def test_changelog_topn_ledger_compacts(spark, tmp_path):
    """Per-invocation churn on one key: the persisted ledger must track
    LIVE rows (netted multiset), not total changelog volume (advisor
    round-7 low). Compaction minimum forced to zero."""
    agg = """SELECT cast(now() as timestamp(3)) as event_time,
  symbol, sum(price) as s FROM a GROUP BY symbol"""
    topn = """SELECT cast(now() as timestamp(3)) as event_time, symbol, s, rnk FROM (
  SELECT symbol, s, row_number() over (partition by symbol order by s desc) as rnk FROM g
) WHERE rnk <= 2"""
    runner = TransformRunner(spark, tmp_path, queries=[(agg, "g"), (topn, None)])
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(state_mod, "_FOLD_MIN_BYTES", 0)
        n_inv = 10
        state = {}
        for i in range(1, n_inv + 1):
            p = str(tmp_path / "in" / f"a_r{i}.parquet")
            ticker_slice(p, [(i, 0, ts(2), ts(1, 0, 1), "A", i),
                             (100 + i, 0, ts(2), ts(1, 0, 2), "B", 2 * i)])
            resp, out = runner.run(
                [{"alias": "a", "data_paths": [p], "schema_file": p,
                  "watermark": ts(1, i, 0)}],
                system_time=ts(1 + i, i),
            )
            if os.path.exists(out):
                for r in pq.read_table(out).to_pylist():
                    if r["op"] in (0, 3):
                        state[(r["symbol"], r["rnk"])] = r["s"]
                    elif r["op"] == 1:
                        state.pop((r["symbol"], r["rnk"]), None)
        # Folded changelog equals the batch rank table.
        tot_a = sum(range(1, n_inv + 1))
        assert state == {("A", 1): tot_a, ("B", 1): 2 * tot_a}
        # Ledger state is netted: 2 live tuples (+ at most a couple of
        # uncompacted generations), nowhere near the ~40 signed rows the
        # changelog produced.
        ledger_dirs = [
            e for e in os.listdir(runner.prev_checkpoint)
            if e.endswith("-cl-topn-ledger.parquet")
        ]
        assert len(ledger_dirs) == 1
        n_rows = pq.read_table(
            os.path.join(runner.prev_checkpoint, ledger_dirs[0])
        ).num_rows
        assert n_rows <= 8, f"ledger not compacted: {n_rows} rows"


def test_changelog_join_ledger_compacts(spark, tmp_path):
    """The changelog JOIN's signed ledgers net-compact too (same
    maintenance as the Top-N ledger): per-invocation correction churn on
    one key must leave state tracking live rows, not changelog volume,
    with the joined changelog still folding to the batch answer."""
    agg = """SELECT max(event_time) as event_time,
  symbol, sum(price) as s FROM a GROUP BY symbol"""
    join = """SELECT g.event_time as event_time, g.symbol as symbol,
  g.s as s, c.price as c_price
FROM g JOIN c ON g.symbol = c.symbol"""
    runner = TransformRunner(
        spark, tmp_path, queries=[(agg, "g"), (join, None)]
    )
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(state_mod, "_FOLD_MIN_BYTES", 0)
        n_inv = 10
        state = {}
        for i in range(1, n_inv + 1):
            a = str(tmp_path / "in" / f"a_r{i}.parquet")
            c = str(tmp_path / "in" / f"c_r{i}.parquet")
            ticker_slice(a, [(i, 0, ts(20 + i), ts(i), "A", i)])
            ticker_slice(c, [(0, 0, ts(21), ts(1), "A", 99)] if i == 1 else [])
            resp, out = runner.run(
                [{"alias": "a", "data_paths": [a], "schema_file": a,
                  "watermark": ts(i, 12)},
                 {"alias": "c", "data_paths": [c] if i == 1 else [],
                  "schema_file": c, "watermark": ts(i, 12)}],
                system_time=ts(20 + i),
            )
            if os.path.exists(out):
                for r in pq.read_table(out).to_pylist():
                    key = (r["symbol"], r["c_price"])
                    if r["op"] in (0, 3):
                        state[key] = r["s"]
                    elif r["op"] == 1:
                        state.pop(key, None)
        assert state == {("A", 99): sum(range(1, n_inv + 1))}
        for side in ("cj-left", "cj-right"):
            dirs = [
                e for e in os.listdir(runner.prev_checkpoint)
                if e.endswith(f"-{side}.parquet")
            ]
            assert len(dirs) == 1, (side, dirs)
            n_rows = pq.read_table(
                os.path.join(runner.prev_checkpoint, dirs[0])
            ).num_rows
            assert n_rows <= 6, f"{side} not compacted: {n_rows} rows"
