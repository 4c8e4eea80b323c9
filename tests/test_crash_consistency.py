"""Crash consistency of a resumed invocation.

An invocation that dies in any phase — a state write inside
`flush_deferred`, right after the output write, or just before
`StateStore.finish` — must leave the previous checkpoint dir untouched
(same file names and bytes; append relations hard-link its files
forward, so a write into a shared inode would show here), and a retry
from that checkpoint into a fresh dir must reproduce the uninterrupted
run: a byte-identical output file and the same `new_offset_interval`.
"""

from __future__ import annotations

import os

import pytest

from kamu_engine_flink_spark.engine import transform
from kamu_engine_flink_spark.engine.state import StateStore

from .helpers import TransformRunner, ticker_slice, ts

# Inner regular join (full-history rows relations, appended and linked
# forward) feeding a tumbling window (a rewritten window buffer): two
# stateful steps, three state relations queued per invocation.
QUERIES = [
    (
        """SELECT a.event_time as event_time, a.symbol as symbol,
  a.price as a_price, b.price as b_price
FROM a JOIN b ON a.symbol = b.symbol""",
        "j",
    ),
    (
        """SELECT
  TUMBLE_START(event_time, INTERVAL '1' DAY) as event_time,
  symbol, count(*) as n, sum(a_price * b_price) as total
FROM j
GROUP BY TUMBLE(event_time, INTERVAL '1' DAY), symbol""",
        None,
    ),
]


class _Injected(RuntimeError):
    pass


def _inputs(root, inv: int, a_rows, b_rows, wm):
    out = []
    for alias, rows in (("a", a_rows), ("b", b_rows)):
        path = os.path.join(root, f"{alias}{inv}.parquet")
        ticker_slice(path, rows)
        out.append(
            {"alias": alias, "data_paths": [path], "schema_file": path, "watermark": wm}
        )
    return out


def _invoke(spark, workdir, prev_cp, next_offset, inputs, system_time):
    runner = TransformRunner(spark, str(workdir), queries=QUERIES)
    runner.prev_checkpoint, runner.next_offset = prev_cp, next_offset
    resp, out = runner.run(inputs, system_time=system_time)
    return runner.prev_checkpoint, resp, out


def _snapshot(root: str) -> dict[str, bytes]:
    files = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                files[os.path.relpath(p, root)] = f.read()
    return files


@pytest.fixture(scope="module")
def chain(spark, tmp_path_factory):
    """Invocation 1, then the uninterrupted invocation 2 as the reference."""
    root = tmp_path_factory.mktemp("crash")
    inputs1 = _inputs(
        root, 1,
        [(0, 0, ts(5), ts(1, 1), "A", 1), (1, 0, ts(5), ts(1, 2), "B", 2)],
        [(0, 0, ts(5), ts(1, 3), "A", 10)],
        ts(1, 12),
    )
    cp1, resp1, _ = _invoke(spark, root / "inv1", None, 0, inputs1, ts(5))
    next_offset = (
        resp1.new_offset_interval.end + 1 if resp1.new_offset_interval else 0
    )
    inputs2 = _inputs(
        root, 2,
        [(2, 0, ts(6), ts(2, 1), "A", 3), (3, 0, ts(6), ts(2, 2), "B", 4)],
        [(1, 0, ts(6), ts(2, 3), "B", 20), (2, 0, ts(6), ts(2, 4), "A", 30)],
        ts(3),
    )
    _, ref, ref_out = _invoke(spark, root / "ref", cp1, next_offset, inputs2, ts(6))
    assert ref.new_offset_interval is not None
    with open(ref_out, "rb") as f:
        ref_bytes = f.read()
    return root, cp1, next_offset, inputs2, ref, ref_bytes


def _fail_one_state_write(monkeypatch):
    real = StateStore._write_df

    def write(self, name, *args, **kwargs):
        if name.endswith("-rj-right"):
            raise _Injected(f"state write {name}")
        return real(self, name, *args, **kwargs)

    monkeypatch.setattr(StateStore, "_write_df", write)


def _fail_after_output_write(monkeypatch):
    real = transform.write_single_parquet

    def write(*args, **kwargs):
        real(*args, **kwargs)
        raise _Injected("after output write")

    monkeypatch.setattr(transform, "write_single_parquet", write)


def _fail_before_finish(monkeypatch):
    def finish(self):
        raise _Injected("before finish")

    monkeypatch.setattr(StateStore, "finish", finish)


@pytest.mark.parametrize(
    "inject",
    [_fail_one_state_write, _fail_after_output_write, _fail_before_finish],
    ids=["flush_state_write", "after_output_write", "before_finish"],
)
def test_failed_invocation_leaves_checkpoint_and_retry_is_exact(
    spark, chain, inject, tmp_path
):
    root, cp1, next_offset, inputs2, ref, ref_bytes = chain
    before = _snapshot(cp1)

    with pytest.MonkeyPatch.context() as mp:
        inject(mp)
        with pytest.raises(_Injected):
            _invoke(spark, tmp_path / "failed", cp1, next_offset, inputs2, ts(6))

    assert _snapshot(cp1) == before

    _, resp, out = _invoke(spark, tmp_path / "retry", cp1, next_offset, inputs2, ts(6))
    with open(out, "rb") as f:
        assert f.read() == ref_bytes
    assert resp.new_offset_interval == ref.new_offset_interval
