"""The seq_ordered output path (transform._assemble_output): when the
final step is an order-preserving projection over a seq_ordered view —
here an alias the engine SERIALLY stamped — offsets are numbered by
position and the output's own repartition(1) + sort is skipped. The
output file (offsets, row order, every cell) must be IDENTICAL to the
sorted path's."""

from types import SimpleNamespace

import pyarrow.parquet as pq
from pyspark.sql import Window
from pyspark.sql import functions as F

import kamu_engine_flink_spark.operators.map_step as map_step
from kamu_engine_flink_spark.engine.transform import (
    _assemble_output,
    _ordered_chain_to_output,
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


def _no_seq_order(monkeypatch):
    monkeypatch.setattr(StepContext, "seq_ordered", lambda self, view: False)


def test_dense_output_identical_to_windowed_path(spark, tmp_path, monkeypatch):
    """Positional output equals the sorted path's."""
    queries = [(AGG, "g"), (PROJ, None)]
    positional = _chain_outputs(spark, tmp_path, "positional", queries)
    _no_seq_order(monkeypatch)
    slow = _chain_outputs(spark, tmp_path, "slow", queries)
    assert positional == slow  # offsets, file row order, every cell
    # And the positional run's own invariants: contiguous offsets across runs.
    (oi1, rows1), (oi2, rows2) = positional
    assert [r["offset"] for r in rows1] == list(range(oi1.start, oi1.end + 1))
    assert oi2.start == oi1.end + 1
    assert [r["offset"] for r in rows2] == list(range(oi2.start, oi2.end + 1))


def test_dense_propagates_through_chained_projection(spark, tmp_path, monkeypatch):
    """proj1 over the stamped agg is itself seq_ordered (its re-stamp is
    skipped); proj2 over proj1 still emits the correction pairs adjacent
    and identical to the sorted chain."""
    queries = [(AGG, "g"), ("SELECT event_time, symbol, s FROM g", "p1"),
               ("SELECT event_time, symbol, s FROM p1", None)]
    positional = _chain_outputs(spark, tmp_path, "positional", queries)
    _no_seq_order(monkeypatch)
    slow = _chain_outputs(spark, tmp_path, "slow", queries)
    assert positional == slow
    # Invocation 2 rewrites all 61 keys: op-2 retract immediately before
    # its op-3 replacement, per key, in file order.
    rows2 = positional[1][1]
    ops = [r["op"] for r in rows2]
    assert ops == [2, 3] * 61
    for a, b in zip(rows2[::2], rows2[1::2]):
        assert a["symbol"] == b["symbol"]


def _steps(*qa):
    return [SimpleNamespace(query=q, alias=a) for q, a in qa]


def test_dense_chain_walk():
    """The chain predictor: alias must reach the FINAL step through
    single-consumer order-preserving projections only. The stamp's
    pin/count decision (allow_where=False) also demands 1:1 hops; the
    raw-input order check (allow_where=True) lets a WHERE hop through."""
    names = {"a", "g", "p1", "t"}

    def walk(steps, allow_where=False):
        return _ordered_chain_to_output("g", steps, names, allow_where=allow_where)

    ok = _steps(("SELECT x, y FROM g", None))
    assert walk(ok)
    two_hop = _steps(("SELECT x, y FROM g", "p1"), ("SELECT x FROM p1", None))
    assert walk(two_hop)
    # WHERE hop: keeps order, but the correction-pair rewrite of a
    # changelog filter changes cardinality, so it pins and counts.
    where = _steps(("SELECT x FROM g WHERE x > 0", "p1"), ("SELECT x FROM p1", None))
    assert not walk(where)
    assert walk(where, allow_where=True)
    bad = [
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
        for allow_where in (False, True):
            assert not walk(steps, allow_where), steps


def test_dense_chain_skips_gate_count(spark, tmp_path, monkeypatch):
    """A chain of 1:1 projections to the output stamps with NO materialization: no count()
    action at all (the emission computes once, inside the output job)."""
    # Patch the implementation class the session ACTUALLY returns (ADVICE
    # r13: a hardcoded pyspark.sql.classic import pins the spy to the
    # non-Connect path and a module move would leave it observing nothing;
    # the WHERE control below proves the spy fires at all).
    CDF = type(spark.range(1))

    counts = []
    real_count = CDF.count

    def spy(self):
        counts.append(1)
        return real_count(self)

    monkeypatch.setattr(CDF, "count", spy)
    _chain_outputs(spark, tmp_path, "nocnt", [(AGG, "g"), (PROJ, None)])
    assert not counts, "a 1:1 projection chain must not count the emission"
    _chain_outputs(
        spark, tmp_path, "cnt",
        [(AGG, "g"), ("SELECT event_time, symbol, s FROM g WHERE s >= 0", None)],
    )
    assert len(counts) >= 2, "a WHERE chain pins and counts per invocation"


def test_seq_ordered_disqualifiers(spark):
    """Shapes that multiply rows, destroy physical order, or rename
    __seq never carry seq_ordered over; a WHERE does (it drops rows but
    keeps their order), yet is not 1:1 for the pin/count walk."""
    views = {"g": spark.range(1).selectExpr("id", "id as __seq")}
    ctx = StepContext(
        spark=spark, state=None, step_key="s0", request=None, views=views,
        event_time_cols={}, prev_wms={}, new_wms={},
        seq_ordered_views={"g"},
    )

    def carries(sql):
        return map_step.ordered_shape(sql, ["g"]) and ctx.seq_ordered("g")

    assert carries("SELECT id FROM g")
    where = "SELECT id FROM g WHERE id > 0"
    assert carries(where)
    assert not map_step.ordered_shape(where, ["g"], allow_where=False)
    bad = [
        "SELECT id FROM g JOIN h ON g.id = h.id", # multiplies rows
        "SELECT sum(id) OVER () as t FROM g",     # window destroys order
        "SELECT id, tag FROM g, UNNEST(tags) AS t(tag)",  # expands rows
        "SELECT explode(tags) FROM g",            # expands rows
        "SELECT explode_outer(tags) FROM g",      # expands rows
        "SELECT id as __seq FROM g",              # user-shadowed seq
        "SELECT id FROM g, h",                    # comma join
        "SELECT id FROM g ORDER BY id",           # reorders
        "SELECT id FROM g DISTRIBUTE BY id",      # repartitions
        "SELECT id FROM g SORT BY id",            # reorders
        "SELECT /*+ REPARTITION(4) */ id FROM g", # repartitions
    ]
    for sql in bad:
        assert not carries(sql), sql
    # Source not seq_ordered this invocation -> not carried.
    ctx.seq_ordered_views.clear()
    assert not carries("SELECT id FROM g")


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
