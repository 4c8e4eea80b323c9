"""The mid-chain emission-order stamp (engine/transform.py): a changelog
alias consumed by a MAP step is stamped with its emission order by one
single-partition window, so correction-pair adjacency and per-branch
union order survive into the consumer's output."""

import os

import pyarrow.parquet as pq

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


def test_map_over_changelog_order(spark, tmp_path):
    """The pad retraction precedes the replacing pair through a
    projection over the LEFT JOIN changelog."""
    runner = TransformRunner(
        spark, tmp_path,
        queries=[(LEFT_JOIN, "j"),
                 ("SELECT event_time, symbol, b_price FROM j", None)],
    )

    def _r(out):
        table = pq.read_table(out)
        return [(r["op"], r["symbol"], r["b_price"]) for r in table.to_pylist()]

    resp, out = runner.run(
        _two_stream_inputs(
            tmp_path, "r1", [(0, 0, ts(2), ts(1, 0, 1), "A", 10)], [], ts(1, 1, 0)
        ),
        system_time=ts(2),
    )
    assert _r(out) == [(0, "A", None)]
    resp2, out2 = runner.run(
        _two_stream_inputs(
            tmp_path, "r2", [], [(0, 0, ts(3), ts(1, 0, 2), "A", 7)], ts(1, 2, 0)
        ),
        system_time=ts(3),
    )
    assert _r(out2) == [(1, "A", None), (0, "A", 7)]


def test_changelog_topn_filter_pairs(spark, tmp_path):
    """Many correction pairs from many input partitions: the filter's
    lag/lead pair rewrite still sees op-2 adjacent-before op-3 (the pairs
    tie on GSEQ's key/rank prefix and split only on SUB)."""
    agg = """SELECT cast(now() as timestamp(3)) as event_time,
  symbol, sum(price) as s FROM a GROUP BY symbol"""
    topn = """SELECT cast(now() as timestamp(3)) as event_time, symbol, s, rnk FROM (
  SELECT symbol, s, row_number() over (partition by symbol order by s desc) as rnk FROM g
) WHERE rnk <= 1"""
    flt = "SELECT event_time, symbol, s FROM t WHERE s >= 90"
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

    n_keys = 48  # > defaultParallelism: pairs come from several partitions
    resp, out = _run(
        "r1",
        [(k, 0, ts(2), ts(1, 0, 1), f"S{k:02d}", 10 + k) for k in range(n_keys)],
        1,
    )
    assert not os.path.exists(out)
    resp2, out2 = _run(
        "r2",
        [(n_keys + k, 0, ts(3), ts(1, 0, 2), f"S{k:02d}", 100) for k in range(n_keys)],
        2,
    )
    rows = [(r["op"], r["symbol"], r["s"]) for r in pq.read_table(out2).to_pylist()]
    assert sorted(rows) == [(0, f"S{k:02d}", 110 + k) for k in range(n_keys)]


def test_union_branch_order(spark, tmp_path):
    """Branch-major union emission order survives the stamp
    (order_cols = [branch, seq] sorts on the branch first)."""
    union = ("SELECT event_time, symbol, b_price FROM j "
             "UNION ALL SELECT event_time, symbol, price as b_price FROM c")
    agg = """SELECT cast(now() as timestamp(3)) as event_time,
  symbol, count(*) as n, sum(b_price) as s FROM u GROUP BY symbol"""
    runner = TransformRunner(
        spark, tmp_path,
        queries=[(LEFT_JOIN, "j"), (union, "u"), (agg, None)],
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
        return [(r["op"], r["symbol"], r["n"], r["s"]) for r in table.to_pylist()]

    resp, out = runner.run(
        _in("r1", [(0, 0, ts(2), ts(1, 0, 1), "A", 10)], [],
            [(0, 0, ts(2), ts(1, 0, 2), "C", 42)], ts(1, 1, 0)),
        system_time=ts(2),
    )
    assert sorted(_r(out)) == [(0, "A", 1, None), (0, "C", 1, 42)]
    resp2, out2 = runner.run(
        _in("r2", [], [(0, 0, ts(3), ts(1, 0, 3), "A", 7)], [], ts(1, 2, 0)),
        system_time=ts(3),
    )
    assert _r(out2) == [(2, "A", 1, None), (3, "A", 1, 7)]
