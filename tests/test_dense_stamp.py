"""The dense-seq output fast path (transform._assemble_output): when the
final step is a pure projection over an alias the engine SERIALLY
stamped, offsets become __seq + next_offset and the second serial
repartition(1) + window pass is skipped. The output file (offsets, row
order, every cell) must be IDENTICAL to the non-dense path's."""

from types import SimpleNamespace

import pyarrow.parquet as pq
from pyspark.sql import Window
from pyspark.sql import functions as F

import kamu_engine_flink_spark.operators.map_step as map_step
from kamu_engine_flink_spark.engine.transform import (
    _assemble_output,
    _dense_chain_to_output,
)
from kamu_engine_flink_spark.operators.base import StepContext, StepResult
from kamu_engine_flink_spark.protocol.model import Transform, TransformRequest

from .helpers import TransformRunner, ticker_slice, ts

AGG = """SELECT cast(now() as timestamp(3)) as event_time,
  symbol, sum(price) as s FROM a GROUP BY symbol"""
PROJ = "SELECT event_time, symbol, s FROM g"


def _chain_outputs(spark, tmp_path, subdir, queries):
    """Run a 2-invocation agg->projection chain; return both raw outputs
    (every column, file order) and the offset-interval responses."""
    base = tmp_path / subdir
    base.mkdir()
    runner = TransformRunner(spark, base, queries=queries)
    outs = []
    for i in (1, 2):
        p = str(base / "in" / f"a_r{i}.parquet")
        ticker_slice(
            p,
            [
                (k, 0, ts(1 + i), ts(1, 0, i), f"S{k:02d}", 10 * i + k)
                for k in range(61)
            ],
        )
        resp, out = runner.run(
            [{"alias": "a", "data_paths": [p], "schema_file": p,
              "watermark": ts(1, i, 0)}],
            system_time=ts(1 + i),
        )
        # now() in the agg maps to real wall clock -> event_time
        # differs between the A and B runs; drop it (every other
        # cell, the offsets and the file row order must be equal).
        outs.append(
            (
                resp.new_offset_interval,
                [
                    {k: v for k, v in r.items() if k != "event_time"}
                    for r in pq.read_table(out).to_pylist()
                ],
            )
        )
    return outs


def _no_dense(monkeypatch):
    monkeypatch.setattr(map_step, "_dense_projection", lambda *a, **k: False)


def test_dense_output_identical_to_windowed_path(spark, tmp_path, monkeypatch):
    queries = [(AGG, "g"), (PROJ, None)]
    dense = _chain_outputs(spark, tmp_path, "dense", queries)
    _no_dense(monkeypatch)
    slow = _chain_outputs(spark, tmp_path, "slow", queries)
    assert dense == slow  # offsets, file row order, every cell
    # And the dense run's own invariants: contiguous offsets across runs.
    (oi1, rows1), (oi2, rows2) = dense
    assert [r["offset"] for r in rows1] == list(range(oi1.start, oi1.end + 1))
    assert oi2.start == oi1.end + 1
    assert [r["offset"] for r in rows2] == list(range(oi2.start, oi2.end + 1))


def test_dense_propagates_through_chained_projection(spark, tmp_path, monkeypatch):
    """proj1 over the stamped agg is itself dense (its identity re-stamp
    is skipped); proj2 over proj1 still emits the correction pairs
    adjacent and byte-identical to the non-dense chain."""
    queries = [(AGG, "g"), ("SELECT event_time, symbol, s FROM g", "p1"),
               ("SELECT event_time, symbol, s FROM p1", None)]
    dense = _chain_outputs(spark, tmp_path, "dense", queries)
    _no_dense(monkeypatch)
    slow = _chain_outputs(spark, tmp_path, "slow", queries)
    assert dense == slow
    # Invocation 2 rewrites all 61 keys: op-2 retract immediately before
    # its op-3 replacement, per key, in file order.
    rows2 = dense[1][1]
    ops = [r["op"] for r in rows2]
    assert ops == [2, 3] * 61
    for a, b in zip(rows2[::2], rows2[1::2]):
        assert a["symbol"] == b["symbol"]


def _steps(*qa):
    return [SimpleNamespace(query=q, alias=a) for q, a in qa]


def test_dense_chain_walk():
    """The stamp's chain predictor (skip the pin + count or not): alias
    must reach the FINAL step through single-consumer pure projections
    only."""
    names = {"a", "g", "p1", "t"}
    ok = _steps(("SELECT x, y FROM g", None))
    assert _dense_chain_to_output("g", ok, names)
    two_hop = _steps(("SELECT x, y FROM g", "p1"), ("SELECT x FROM p1", None))
    assert _dense_chain_to_output("g", two_hop, names)
    bad = [
        # WHERE hop (correction-pair rewrite changes cardinality)
        _steps(("SELECT x FROM g WHERE x > 0", None)),
        # final step does not read the chain
        _steps(("SELECT x, y FROM g", "p1"), ("SELECT x FROM a", None)),
        # a second consumer reads the alias too
        _steps(("SELECT x FROM g", "p1"),
               ("SELECT x FROM g", "t"),
               ("SELECT x FROM p1", None)),
        # non-MAP hop (aggregation)
        _steps(("SELECT x, count(*) AS n FROM g GROUP BY x", None)),
        # name rebound away from the chain before consumption
        _steps(("SELECT x FROM a", "g"), ("SELECT x FROM g", None)),
        # join hop
        _steps(("SELECT g.x FROM g JOIN a ON g.x = a.x", None)),
    ]
    for steps in bad:
        assert not _dense_chain_to_output("g", steps, names), steps


def test_dense_chain_skips_gate_count(spark, tmp_path, monkeypatch):
    """A dense-eligible chain stamps with NO materialization: no count()
    action at all (the emission computes once, inside the output job)."""
    # Patch the implementation class the session ACTUALLY returns (ADVICE
    # r13: a hardcoded pyspark.sql.classic import pins the spy to the
    # non-Connect path and a module move would leave it observing nothing;
    # the non-dense control below proves the spy fires at all).
    CDF = type(spark.range(1))

    counts = []
    real_count = CDF.count

    def spy(self):
        counts.append(1)
        return real_count(self)

    monkeypatch.setattr(CDF, "count", spy)
    _chain_outputs(spark, tmp_path, "nocnt", [(AGG, "g"), (PROJ, None)])
    assert not counts, "dense chain must not count the emission"
    _chain_outputs(
        spark, tmp_path, "cnt",
        [(AGG, "g"), ("SELECT event_time, symbol, s FROM g WHERE s >= 0", None)],
    )
    assert len(counts) >= 2, "a non-dense chain pins and counts per invocation"


def test_dense_projection_disqualifiers(spark):
    """Shapes that change cardinality, destroy physical order, or rename
    __seq must never be marked dense."""
    views = {"g": spark.range(1).selectExpr("id", "id as __seq")}
    ctx = StepContext(
        spark=spark, state=None, step_key="s0", request=None, views=views,
        event_time_cols={}, prev_wms={}, new_wms={},
        dense_seq_views={"g"},
    )
    ok = "SELECT id FROM g"
    assert map_step._dense_projection(ctx, ok, ["g"])
    bad = [
        "SELECT id FROM g WHERE id > 0",          # drops rows
        "SELECT id FROM g JOIN h ON g.id = h.id", # multiplies rows
        "SELECT sum(id) OVER () as t FROM g",     # window destroys order
        "SELECT id, tag FROM g, UNNEST(tags) AS t(tag)",  # expands rows
        "SELECT explode(tags) FROM g",            # expands rows
        "SELECT id as __seq FROM g",              # user-shadowed seq
        "SELECT id FROM g, h",                    # comma join
    ]
    for sql in bad:
        assert not map_step._dense_projection(ctx, sql, ["g"]), sql
    # Source not dense-stamped this invocation -> not dense.
    ctx.dense_seq_views.clear()
    assert not map_step._dense_projection(ctx, ok, ["g"])


def test_stamp_without_order_cols_is_positional(spark, tmp_path):
    """An emission with no order_cols keeps its natural order: over a
    4-partition input, offset = next_offset + row position, rows in the
    order the window-numbered stamp gave, and no Window in the plan."""
    df = spark.range(0, 1000, 1, 4).select(
        "id", F.timestamp_seconds("id").alias("event_time")
    )
    assert df.rdd.getNumPartitions() == 4
    request = TransformRequest(
        transform=Transform(queries=[]),
        query_inputs=[],
        system_time=ts(2),
        next_offset=17,
        prev_checkpoint_path=None,
        new_checkpoint_path=str(tmp_path / "cp"),
        new_data_path=str(tmp_path / "out.parquet"),
    )
    out = _assemble_output(spark, request, StepResult(df=df, watermark=None))
    rows = [(r["offset"], r["id"]) for r in out.collect()]
    assert rows == [(17 + i, i) for i in range(1000)]
    w = Window.partitionBy(F.lit(0)).orderBy(F.monotonically_increasing_id())
    windowed = df.coalesce(1).withColumn("offset", F.row_number().over(w) + 16)
    assert [(r["offset"], r["id"]) for r in windowed.collect()] == rows

    def plan(frame):
        return frame._jdf.queryExecution().executedPlan().toString()

    assert "Window" in plan(windowed)
    assert "Window" not in plan(out)
