"""Tests for the benchmark's pure helpers: span self time, percentiles,
the checkpoint walk, output checks and Spark counter deltas.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

import os
from types import SimpleNamespace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from checks import FailureLog, check_invocation
from counters import SparkCounters, checkpoint_files
from stats import percentile, summary
from tracing import Span, Tracer, invocation_breakdown, self_times, union_length


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, None, "invocation", 0.0, 10.0),
        Span(1, 0, "a", 1.0, 4.0),
        Span(2, 0, "b", 3.0, 5.0),  # overlaps a: the union counts once
        Span(3, 1, "c", 2.0, 3.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 4)
    assert st[1] == pytest.approx(3 - 1)
    assert st[3] == pytest.approx(1)


def test_breakdown_top_level_plus_self_equals_wall():
    clock = FakeClock()
    tr = Tracer(clock=clock)
    with tr.span("invocation"):
        clock.t = 1.0
        with tr.span("sources.read"):
            clock.t = 3.0
        with tr.span("operators.map"):
            clock.t = 4.0
            with tr.span("sink.write"):
                clock.t = 6.0
        clock.t = 7.0
    b = invocation_breakdown(tr.spans)
    assert b["wall_s"] == 7.0
    assert b["engine.self_s"] == pytest.approx(2.0)
    assert b["top_level_s"] + b["engine.self_s"] == pytest.approx(b["wall_s"])
    assert b["layers"] == {"sources.read_s": 2.0, "operators.map_s": 1.0, "sink.write_s": 2.0}
    assert b["calls"]["sink.write"] == 1


def test_wrapper_records_span_and_returns_value():
    clock = FakeClock()
    tr = Tracer(clock=clock)
    f = tr.wrap(lambda x: x + 1, "plans.classify")
    with tr.span("invocation"):
        assert f(1) == 2
    assert [s.name for s in tr.spans] == ["invocation", "plans.classify"]
    assert tr.spans[1].parent == 0


def test_percentile_and_sample_count():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 50) == pytest.approx(np.percentile(xs, 50))
    assert percentile(xs, 90) == pytest.approx(np.percentile(xs, 90))
    assert percentile([5.0], 99) == 5.0
    assert summary(xs) == {"n": 4, "p50": 2.5}
    with pytest.raises(ValueError):
        percentile([], 50)


def test_checkpoint_walk_separates_written_from_linked(tmp_path):
    prev = tmp_path / "prev" / "topn.parquet"
    new = tmp_path / "new"
    prev.mkdir(parents=True)
    (new / "topn.parquet").mkdir(parents=True)
    (new / "other.parquet").mkdir()
    (prev / "part-0.parquet").write_bytes(b"x" * 10)
    os.link(prev / "part-0.parquet", new / "topn.parquet" / "part-0.parquet")
    (new / "topn.parquet" / "part-1.parquet").write_bytes(b"y" * 7)
    (new / "topn.parquet" / ".part-1.parquet.crc").write_bytes(b"c")
    (new / "other.parquet" / "_SUCCESS").write_bytes(b"")
    (new / "watermarks.json").write_bytes(b"{}")
    out = checkpoint_files(str(new))
    assert out == {
        "state.relations_written": 1,
        "state.files_written": 3,
        "state.bytes_written": 9,
        "state.files_linked": 1,
    }


def _ledger(path, offsets, ops):
    pq.write_table(
        pa.table({"offset": pa.array(offsets, pa.int64()), "op": pa.array(ops, pa.int32())}),
        path,
    )


def test_check_invocation_accepts_contiguous_output(tmp_path):
    p = str(tmp_path / "out.parquet")
    _ledger(p, [10, 11, 12], [0, 1, 2])
    assert check_invocation({"new_offset_interval": {"start": 10, "end": 12}}, p, 10) == []


def test_check_invocation_finds_each_problem(tmp_path):
    p = str(tmp_path / "out.parquet")
    _ledger(p, [10, 12, 13], [0, 7, 0])
    problems = check_invocation({"new_offset_interval": {"start": 10, "end": 13}}, p, 10)
    assert len(problems) == 3
    assert check_invocation({"kind": "internalError", "message": "boom"}, p, 10)
    missing = str(tmp_path / "none.parquet")
    assert check_invocation({}, missing, 0) == []
    assert check_invocation({"new_offset_interval": {"start": 0, "end": 1}}, missing, 0)


def test_failure_log_counts_each_invocation_once():
    log = FailureLog()
    a, b, _ = log.new_invocation(), log.new_invocation(), log.new_invocation()
    log.fail(a, "offsets")
    log.fail(a, "ops")
    log.fail(b, "net")
    assert (log.attempted, log.failed) == (3, 2)
    assert log.reasons() == ["offsets", "ops", "net"]


class _Seq:
    def __init__(self, items):
        self.items = list(items)

    def size(self):
        return len(self.items)

    def apply(self, i):
        return self.items[i]


def _stage(sid, attempt, tasks, failed=0, status="COMPLETE"):
    return SimpleNamespace(
        stageId=lambda: sid,
        attemptId=lambda: attempt,
        status=lambda: SimpleNamespace(toString=lambda: status),
        numTasks=lambda: tasks,
        numFailedTasks=lambda: failed,
        executorRunTime=lambda: 1000 * tasks,
        jvmGcTime=lambda: 0,
        shuffleWriteBytes=lambda: 0,
    )


def _job(jid, stage_ids):
    return SimpleNamespace(jobId=lambda: jid, stageIds=lambda: _Seq(stage_ids))


class _Store:
    def __init__(self):
        self.jobs, self.stages = [], []

    def jobsList(self, _):
        return _Seq(sorted(self.jobs, key=lambda j: -j.jobId()))

    def stageList(self, *_):
        return _Seq(sorted(self.stages, key=lambda s: (-s.stageId(), -s.attemptId())))


def _fake_sc(store):
    gateway = SimpleNamespace(new_array=lambda *a: [], jvm=SimpleNamespace(double=float))
    jsc = SimpleNamespace(sc=lambda: SimpleNamespace(statusStore=lambda: store))
    return SimpleNamespace(_jsc=jsc, _gateway=gateway)


def test_spark_counters_count_new_work_and_retry_attempts():
    store = _Store()
    store.jobs = [_job(0, [0])]
    store.stages = [_stage(0, 0, 4)]
    counters = SparkCounters(_fake_sc(store))  # earlier work is not counted
    assert counters.delta()["spark.jobs"] == 0

    # A new job re-runs stage 0 as attempt 1 (one task failed) and runs
    # stage 1; stage 2 is skipped.
    store.jobs.append(_job(1, [0, 1, 2]))
    store.stages += [_stage(0, 1, 2, failed=1), _stage(1, 0, 1), _stage(2, 0, 8, status="SKIPPED")]
    d = counters.delta()
    assert d["spark.jobs"] == 1
    assert d["spark.tasks"] == 3
    assert d["spark.tasks_failed"] == 1
    assert d["spark.single_task_stages"] == 1
    assert d["spark.task_s"] == pytest.approx(3.0)
    assert counters.delta()["spark.tasks"] == 0


def test_chain_sums_add_up_each_chain():
    from run import PER_LAYER, chain_sums

    rows = [{k: 0.0 for k in PER_LAYER} for _ in range(4)]
    for i, r in enumerate(rows):
        r["sink.rows"] = i + 1
    sums = chain_sums(rows, 2)
    assert [s["sink.rows"] for s in sums] == [3, 7]
    assert set(sums[0]) == set(PER_LAYER)
