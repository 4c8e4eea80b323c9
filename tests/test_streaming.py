"""Structured Streaming surface: incremental windowed aggregation with
data-derived watermarks, availableNow trigger, cross-run checkpoint state.

Mirrors the reference's multi-invocation aggregation scenario
(EngineAggregationTest.scala:54-440) in the continuous/derived-watermark
mode. Trigger.AvailableNow keeps running micro-batches until the stream
settles, including a final flush batch under the advanced watermark — so
windows the new data closes are emitted in the SAME invocation, matching
the reference's process-available-then-suspend behavior
(TransformEngine.scala:338-380), and exactly once across runs via the
checkpoint.
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kamu_engine_flink_spark.streaming.structured import StreamingWindowAgg

from .helpers import ts


def _slice(path, rows):
    cols = list(zip(*rows)) if rows else [[], [], []]
    pq.write_table(
        pa.table(
            {
                "event_time": pa.array(list(cols[0]), pa.timestamp("ms", tz="UTC")),
                "symbol": pa.array(list(cols[1]), pa.string()),
                "price": pa.array(list(cols[2]), pa.int32()),
            }
        ),
        path,
        compression="snappy",
    )


@pytest.fixture()
def dirs(tmp_path):
    d = {k: str(tmp_path / k) for k in ["in", "chk", "out"]}
    os.makedirs(d["in"])
    return d


def _read_out(spark, path):
    try:
        rows = spark.read.parquet(path).collect()
    except Exception:
        return []
    return sorted((r.event_time, r.symbol, r.min_price, r.max_price) for r in rows)


def test_incremental_window_agg_across_runs(spark, dirs):
    job = StreamingWindowAgg(
        input_dir=dirs["in"],
        checkpoint_dir=dirs["chk"],
        output_dir=dirs["out"],
        window_duration="1 day",
        watermark_delay="1 hour",
        event_time_col="event_time",
        group_keys=["symbol"],
        aggs={"min_price": "min(price)", "max_price": "max(price)"},
    )

    # Run 1: days 1-2. Derived watermark settles at day2 01:00 - 1h =
    # day2 00:00 -> day 1's window closes and emits in this run; day 2
    # stays open in checkpointed state.
    _slice(
        os.path.join(dirs["in"], "slice-1.parquet"),
        [
            (ts(1, 1), "A", 10),
            (ts(1, 2), "A", 12),
            (ts(1, 1), "B", 20),
            (ts(2, 1), "A", 11),
        ],
    )
    job.run_available_now(spark)
    out1 = _read_out(spark, dirs["out"])
    assert [(r[1], r[2], r[3]) for r in out1] == [("A", 10, 12), ("B", 20, 20)]

    # Run 2: a day-3 slice advances the watermark to day3 00:00, closing
    # day 2 (buffered from run 1 in the checkpoint) exactly once.
    _slice(os.path.join(dirs["in"], "slice-2.parquet"), [(ts(3, 1), "A", 99)])
    job.run_available_now(spark)
    out2 = _read_out(spark, dirs["out"])
    new = [r for r in out2 if r not in out1]
    assert [(r[1], r[2], r[3]) for r in new] == [("A", 11, 11)]
    # Day-1 windows did not re-emit (exactly-once append across runs).
    assert len(out2) == len(out1) + 1


# ---------------------------------------------------------------------------
# Stream-to-stream interval join (always-on mode)
# ---------------------------------------------------------------------------

from kamu_engine_flink_spark.streaming.structured import (  # noqa: E402
    StreamingDedup,
    StreamingIntervalJoin,
)


def _orders_slice(path, rows):
    cols = list(zip(*rows)) if rows else [[], [], []]
    pq.write_table(
        pa.table(
            {
                "order_time": pa.array(list(cols[0]), pa.timestamp("ms", tz="UTC")),
                "order_id": pa.array(list(cols[1]), pa.int64()),
                "quantity": pa.array(list(cols[2]), pa.int32()),
            }
        ),
        path,
        compression="snappy",
    )


def _shipments_slice(path, rows):
    cols = list(zip(*rows)) if rows else [[], [], []]
    pq.write_table(
        pa.table(
            {
                "ship_time": pa.array(list(cols[0]), pa.timestamp("ms", tz="UTC")),
                "ship_order_id": pa.array(list(cols[1]), pa.int64()),
                "shipped": pa.array(list(cols[2]), pa.int32()),
            }
        ),
        path,
        compression="snappy",
    )


@pytest.fixture()
def join_dirs(tmp_path):
    d = {k: str(tmp_path / k) for k in ["orders", "shipments", "chk", "out"]}
    os.makedirs(d["orders"])
    os.makedirs(d["shipments"])
    return d


def _join_job(d, how):
    return StreamingIntervalJoin(
        left_dir=d["orders"],
        right_dir=d["shipments"],
        checkpoint_dir=d["chk"],
        output_dir=d["out"],
        left_time="order_time",
        right_time="ship_time",
        equi_keys=[("order_id", "ship_order_id")],
        lower="0 seconds",
        upper="2 days",
        watermark_delay_left="1 hour",
        watermark_delay_right="1 hour",
        how=how,
    )


def test_streaming_interval_join_matches_across_runs(spark, join_dirs):
    """The reference's cross-invocation scenario
    (EngineJoinStreamToStreamTest.scala:178-226): an order from run 1 is
    matched by a shipment that only arrives in run 2 — the join buffer
    lives in the checkpoint."""
    job = _join_job(join_dirs, "inner")

    _orders_slice(
        os.path.join(join_dirs["orders"], "s1.parquet"),
        [(ts(1, 1), 1, 10), (ts(2, 1), 2, 20)],
    )
    _shipments_slice(
        os.path.join(join_dirs["shipments"], "s1.parquet"),
        [(ts(1, 2), 1, 10)],
    )
    job.run_available_now(spark)
    out1 = sorted(
        (r.order_id, r.shipped) for r in spark.read.parquet(join_dirs["out"]).collect()
    )
    assert out1 == [(1, 10)]

    # Run 2: shipment for order 2 arrives within the interval.
    _shipments_slice(
        os.path.join(join_dirs["shipments"], "s2.parquet"),
        [(ts(2, 3), 2, 20)],
    )
    job.run_available_now(spark)
    out2 = sorted(
        (r.order_id, r.shipped) for r in spark.read.parquet(join_dirs["out"]).collect()
    )
    assert out2 == [(1, 10), (2, 20)]


def test_streaming_interval_join_left_outer_null_pads_on_expiry(spark, join_dirs):
    """LEFT join: the unmatched order is emitted null-padded only once the
    watermarks prove no match can arrive (order 3 from run 1 emitted in a
    later run — EngineJoinStreamToStreamTest.scala:222-225)."""
    job = _join_job(join_dirs, "left_outer")

    _orders_slice(
        os.path.join(join_dirs["orders"], "s1.parquet"),
        [(ts(1, 1), 1, 10), (ts(3, 1), 3, 30)],
    )
    _shipments_slice(
        os.path.join(join_dirs["shipments"], "s1.parquet"),
        [(ts(1, 2), 1, 10)],
    )
    job.run_available_now(spark)
    out1 = sorted(
        (r.order_id, r.shipped) for r in spark.read.parquet(join_dirs["out"]).collect()
    )
    # Order 3's horizon (order_time + 2 days + delay) hasn't passed.
    assert out1 == [(1, 10)]

    # Run 2: far-future rows on both sides push both watermarks past
    # order 3's horizon -> null-padded row flushes.
    _orders_slice(
        os.path.join(join_dirs["orders"], "s2.parquet"), [(ts(20, 1), 99, 1)]
    )
    _shipments_slice(
        os.path.join(join_dirs["shipments"], "s2.parquet"), [(ts(20, 1), 99, 1)]
    )
    job.run_available_now(spark)
    rows = spark.read.parquet(join_dirs["out"]).collect()
    padded = [(r.order_id, r.shipped) for r in rows if r.shipped is None]
    assert padded == [(3, None)]


def _scores_slice(path, rows):
    cols = list(zip(*rows)) if rows else [[], [], []]
    pq.write_table(
        pa.table(
            {
                "game": pa.array(list(cols[0]), pa.string()),
                "player_id": pa.array(list(cols[1]), pa.int64()),
                "score": pa.array(list(cols[2]), pa.float64()),
            }
        ),
        path,
        compression="snappy",
    )


def test_streaming_topn_changelog_corrections_across_runs(spark, dirs):
    """The reference's ranked-changelog scenario (EngineTopNTest.scala:
    92-128): run 1 publishes the Top-2; a better score arriving in run 2
    corrects place 2 with a CorrectFrom/CorrectTo (op=2/3) pair, via
    ranking state restored from the stream checkpoint."""
    from kamu_engine_flink_spark.streaming.structured import StreamingTopN

    job = StreamingTopN(
        input_dir=dirs["in"],
        checkpoint_dir=dirs["chk"],
        output_dir=dirs["out"],
        n=2,
        id_col="player_id",
        score_col="score",
        partition_col="game",
    )
    _scores_slice(
        os.path.join(dirs["in"], "s1.parquet"),
        [("chess", 1, 10.0), ("chess", 2, 8.0), ("go", 7, 5.0)],
    )
    job.run_available_now(spark)
    out1 = sorted(
        (r.scope, r.op, r.place, r.id, r.score)
        for r in spark.read.parquet(dirs["out"]).collect()
    )
    assert out1 == [
        ("chess", 0, 1, 1, 10.0),
        ("chess", 0, 2, 2, 8.0),
        ("go", 0, 1, 7, 5.0),
    ]

    # Run 2: player 3 scores 9.0 in chess -> displaces player 2 at place 2.
    _scores_slice(os.path.join(dirs["in"], "s2.parquet"), [("chess", 3, 9.0)])
    job.run_available_now(spark)
    out2 = sorted(
        (r.scope, r.op, r.place, r.id, r.score)
        for r in spark.read.parquet(dirs["out"]).collect()
    )
    new = sorted(set(out2) - set(out1))
    assert new == [
        ("chess", 2, 2, 2, 8.0),  # CorrectFrom: old occupant of place 2
        ("chess", 3, 2, 3, 9.0),  # CorrectTo: new occupant
    ]


def _kv_slice(path, rows):
    cols = list(zip(*rows)) if rows else [[], [], []]
    pq.write_table(
        pa.table(
            {
                "pk": pa.array(list(cols[0]), pa.string()),
                "event_time": pa.array(list(cols[1]), pa.timestamp("ms", tz="UTC")),
                "value": pa.array(list(cols[2]), pa.float64()),
            }
        ),
        path,
        compression="snappy",
    )


@pytest.fixture()
def asof_dirs(tmp_path):
    d = {k: str(tmp_path / k) for k in ["versions", "probes", "chk", "out"]}
    os.makedirs(d["versions"])
    os.makedirs(d["probes"])
    return d


def test_streaming_asof_join_finalizes_on_watermark_across_runs(spark, asof_dirs):
    """Temporal join in always-on mode: a probe emits only once the global
    (min-of-sides) watermark passes its time — proving no earlier version
    can still arrive — so the day-2 probe buffered in run 1 emits in run 2
    with the day-1 version, and a version-less probe null-pads under
    how='left' (EngineJoinStreamToTemporalTableTest cross-run scenario)."""
    from kamu_engine_flink_spark.streaming.structured import StreamingAsOfJoin

    job = StreamingAsOfJoin(
        version_dir=asof_dirs["versions"],
        probe_dir=asof_dirs["probes"],
        checkpoint_dir=asof_dirs["chk"],
        output_dir=asof_dirs["out"],
        how="left",
    )
    # Run 1: version A@day1=100; probes A@day2, B@day2. Version-side
    # watermark is only day1 -> neither probe is final yet.
    _kv_slice(os.path.join(asof_dirs["versions"], "s1.parquet"), [("A", ts(1), 100.0)])
    _kv_slice(
        os.path.join(asof_dirs["probes"], "s1.parquet"),
        [("A", ts(2), 5.0), ("B", ts(2), 7.0)],
    )
    job.run_available_now(spark)
    assert _asof_out(spark, asof_dirs["out"]) == []

    # Run 2: version A@day3=110 and probe A@day4 push both watermarks to
    # >= day2 -> run-1 probes finalize: A joins the day-1 version (the
    # day-3 version is later than the probe), B has none -> NULL.
    _kv_slice(os.path.join(asof_dirs["versions"], "s2.parquet"), [("A", ts(3), 110.0)])
    _kv_slice(os.path.join(asof_dirs["probes"], "s2.parquet"), [("A", ts(4), 6.0)])
    job.run_available_now(spark)
    assert _asof_out(spark, asof_dirs["out"]) == [
        ("A", ts(2), 5.0, 100.0),
        ("B", ts(2), 7.0, None),
    ]

    # Run 3: watermarks reach day9 -> the day-4 probe emits with the NEWER
    # day-3 version (proving version state advanced and pruning kept
    # correctness), and the day-9 probe finalizes at the watermark
    # boundary (wm >= t) with the same-timestamp day-9 version (vt <= t
    # is inclusive, the as-of convention).
    _kv_slice(os.path.join(asof_dirs["versions"], "s3.parquet"), [("A", ts(9), 120.0)])
    _kv_slice(os.path.join(asof_dirs["probes"], "s3.parquet"), [("A", ts(9), 1.0)])
    job.run_available_now(spark)
    assert _asof_out(spark, asof_dirs["out"]) == [
        ("A", ts(2), 5.0, 100.0),
        ("A", ts(4), 6.0, 110.0),
        ("A", ts(9), 1.0, 120.0),
        ("B", ts(2), 7.0, None),
    ]


def _asof_out(spark, path):
    try:
        rows = spark.read.parquet(path).collect()
    except Exception:
        return []
    from datetime import datetime, timezone

    return sorted(
        (
            r.pk,
            datetime.fromtimestamp(r.probe_ts_ms / 1000, tz=timezone.utc),
            r.probe_val,
            r.version_val,
        )
        for r in rows
    )


def test_streaming_dedup_within_watermark(spark, dirs):
    """First occurrence per key wins; duplicates within the watermark
    horizon are dropped, including across runs via checkpointed state."""
    job = StreamingDedup(
        input_dir=dirs["in"],
        checkpoint_dir=dirs["chk"],
        output_dir=dirs["out"],
        keys=["symbol"],
        event_time_col="event_time",
        watermark_delay="1 day",
    )
    _slice(
        os.path.join(dirs["in"], "s1.parquet"),
        [(ts(1, 1), "A", 10), (ts(1, 2), "A", 12), (ts(1, 1), "B", 20)],
    )
    job.run_available_now(spark)
    out1 = sorted(
        (r.symbol, r.price) for r in spark.read.parquet(dirs["out"]).collect()
    )
    assert out1 == [("A", 10), ("B", 20)]

    # Run 2: another A duplicate within the horizon is dropped via state
    # restored from the checkpoint; C is new and passes.
    _slice(
        os.path.join(dirs["in"], "s2.parquet"),
        [(ts(1, 3), "A", 13), (ts(1, 2), "C", 30)],
    )
    job.run_available_now(spark)
    out2 = sorted(
        (r.symbol, r.price) for r in spark.read.parquet(dirs["out"]).collect()
    )
    assert out2 == [("A", 10), ("B", 20), ("C", 30)]


# ---------------------------------------------------------------------------
# Session windows (native streaming session_window) + sliding windows
# ---------------------------------------------------------------------------

from kamu_engine_flink_spark.streaming.structured import (  # noqa: E402
    StreamingSessionWindow,
)


def test_streaming_session_window_extends_across_runs(spark, dirs):
    """A run-2 event inside the gap EXTENDS the run-1 session (merged in
    the checkpointed session store); the session emits exactly once, only
    when the derived watermark proves no event can extend it."""
    job = StreamingSessionWindow(
        input_dir=dirs["in"],
        checkpoint_dir=dirs["chk"],
        output_dir=dirs["out"],
        gap="30 minutes",
        watermark_delay="0 seconds",
        event_time_col="event_time",
        group_keys=["symbol"],
        aggs={"n_events": "count(1)", "max_price": "max(price)"},
    )
    # Run 1: A has a burst at day1 01:00-01:20; watermark settles at the
    # max event time (day1 10:00 from B), which is past 01:20+30m -> A's
    # session closes THIS run. B's lone event at 10:00 stays open.
    _slice(
        os.path.join(dirs["in"], "s1.parquet"),
        [(ts(1, 1, 0), "A", 10), (ts(1, 1, 20), "A", 12), (ts(1, 10, 0), "B", 20)],
    )
    job.run_available_now(spark)
    out1 = sorted(
        (r.symbol, r.session_start, r.session_end, r.n_events, r.max_price)
        for r in spark.read.parquet(dirs["out"]).collect()
    )
    assert [(r[0], r[3], r[4]) for r in out1] == [("A", 2, 12)]
    # session spans first event .. last event + gap: 01:00 .. 01:50
    assert (out1[0][2] - out1[0][1]).total_seconds() == 50 * 60

    # Run 2: B event at 10:20 is INSIDE B's open session gap -> extends it;
    # day-2 event advances the watermark past 10:20+30m, closing B's
    # merged session (2 events spanning 10:00-10:50) exactly once.
    _slice(
        os.path.join(dirs["in"], "s2.parquet"),
        [(ts(1, 10, 20), "B", 21), (ts(2, 0, 0), "A", 99)],
    )
    job.run_available_now(spark)
    out2 = sorted(
        (r.symbol, r.session_start, r.session_end, r.n_events, r.max_price)
        for r in spark.read.parquet(dirs["out"]).collect()
    )
    new = [r for r in out2 if r not in out1]
    assert [(r[0], r[3], r[4]) for r in new] == [("B", 2, 21)]
    b = new[0]
    assert (b[2] - b[1]).total_seconds() == 50 * 60  # 10:00 .. 10:20+30m


def test_streaming_sliding_window(spark, dirs):
    """slide_duration turns the tumbling agg into hopping windows: each
    event lands in window_duration/slide_duration overlapping windows."""
    job = StreamingWindowAgg(
        input_dir=dirs["in"],
        checkpoint_dir=dirs["chk"],
        output_dir=dirs["out"],
        window_duration="2 hours",
        slide_duration="1 hour",
        watermark_delay="0 seconds",
        event_time_col="event_time",
        group_keys=["symbol"],
        aggs={"min_price": "min(price)", "max_price": "max(price)"},
    )
    # One event at day1 05:30 -> belongs to windows [04:00,06:00) and
    # [05:00,07:00); a day-2 event closes both.
    _slice(
        os.path.join(dirs["in"], "s1.parquet"),
        [(ts(1, 5, 30), "A", 10), (ts(2, 0, 0), "B", 1)],
    )
    job.run_available_now(spark)
    out = sorted(
        (r.event_time, r.symbol, r.min_price, r.max_price)
        for r in spark.read.parquet(dirs["out"]).collect()
        if r.symbol == "A"
    )
    assert len(out) == 2
    assert [o[0].hour for o in out] == [4, 5]
    assert all(o[2] == 10 and o[3] == 10 for o in out)


def test_streaming_cumulate_across_runs(spark, dirs):
    """Cumulative windows in always-on mode: growing hourly windows within
    a 4h span emit as the end-column watermark passes each end; a run-2
    row inside the span merges into the still-open later windows without
    re-emitting closed ones."""
    job = StreamingWindowAgg(
        input_dir=dirs["in"],
        checkpoint_dir=dirs["chk"],
        output_dir=dirs["out"],
        window_duration="4 hour",
        cumulate_step="1 hour",
        watermark_delay="2 hours",
        event_time_col="event_time",
        group_keys=["symbol"],
        aggs={"min_price": "min(price)", "max_price": "max(price)"},
    )

    # Run 1: rows at 00:30 and 01:30 explode to ends 01:00..04:00; the
    # end watermark settles at 04:00 - 2h = 02:00, closing ends <= 02:00.
    _slice(
        os.path.join(dirs["in"], "c-1.parquet"),
        [(ts(1, 0, 30), "A", 10), (ts(1, 1, 30), "A", 12)],
    )
    job.run_available_now(spark)
    out1 = _read_out(spark, dirs["out"])
    assert [(r[0].hour, r[2], r[3]) for r in out1] == [(1, 10, 10), (2, 10, 12)]

    # Run 2: a 02:30 row merges into the span's open 03:00/04:00 windows,
    # and a next-span row advances the end watermark to 06:00, flushing
    # them exactly once with the merged min.
    _slice(
        os.path.join(dirs["in"], "c-2.parquet"),
        [(ts(1, 2, 30), "A", 7), (ts(1, 6, 30), "A", 99)],
    )
    job.run_available_now(spark)
    out2 = _read_out(spark, dirs["out"])
    new = [r for r in out2 if r not in out1]
    assert [(r[0].hour, r[2], r[3]) for r in new] == [(3, 7, 12), (4, 7, 12)]
    assert len(out2) == len(out1) + 2


def _overagg_slice(path, rows):
    """rows: (symbol, event_time, value)"""
    cols = list(zip(*rows)) if rows else [[], [], []]
    pq.write_table(
        pa.table(
            {
                "symbol": pa.array(list(cols[0]), pa.string()),
                "event_time": pa.array(list(cols[1]), pa.timestamp("us", tz="UTC")),
                "value": pa.array(list(cols[2]), pa.float64()),
            }
        ),
        path,
        compression="snappy",
    )


def test_streaming_over_agg_rolling_frame(spark, dirs):
    """Always-on row-time over-aggregation: rows emit once the derived
    watermark passes them, frames reach back across micro-batch runs,
    frame-horizon eviction bounds the state."""
    from datetime import timezone

    from kamu_engine_flink_spark.streaming.structured import StreamingOverAgg

    job = StreamingOverAgg(
        input_dir=dirs["in"],
        checkpoint_dir=dirs["chk"],
        output_dir=dirs["out"],
        frame="2 minutes",
        partition_col="symbol",
        watermark_delay="1 minute",
    )
    _overagg_slice(
        os.path.join(dirs["in"], "s1.parquet"),
        [("A", ts(1, 0, 1), 10.0), ("A", ts(1, 0, 2), 20.0), ("A", ts(1, 0, 4), 40.0)],
    )
    job.run_available_now(spark)  # first pass: watermark still at zero

    _overagg_slice(os.path.join(dirs["in"], "s2.parquet"), [("A", ts(1, 0, 10), 5.0)])
    job.run_available_now(spark)
    out = sorted(
        (r.key, r.event_time.replace(tzinfo=timezone.utc), r.value, r.roll_sum, r.roll_cnt)
        for r in spark.read.parquet(dirs["out"]).collect()
    )
    # The data batch runs under watermark 00:03 (emitting 00:01/00:02);
    # the event-time timeout then fires a trailing batch under the
    # advanced watermark 00:09, emitting the 00:04 row too (frame reaches
    # the retained 00:02 row). 00:10 stays pending.
    assert out == [
        ("A", ts(1, 0, 1), 10.0, 10.0, 1),
        ("A", ts(1, 0, 2), 20.0, 30.0, 2),
        ("A", ts(1, 0, 4), 40.0, 60.0, 2),
    ]

    _overagg_slice(os.path.join(dirs["in"], "s3.parquet"), [("A", ts(1, 0, 20), 1.0)])
    job.run_available_now(spark)
    out3 = sorted(
        (r.key, r.event_time.replace(tzinfo=timezone.utc), r.value, r.roll_sum, r.roll_cnt)
        for r in spark.read.parquet(dirs["out"]).collect()
    )
    # Watermark reaches 00:19 via the timeout batch: the 00:10 row emits
    # (its 2-minute frame holds only itself).
    assert sorted(set(out3) - set(out)) == [
        ("A", ts(1, 0, 10), 5.0, 5.0, 1),
    ]


def test_streaming_match_recognize_cross_run(spark, dirs):
    """Always-on CEP: a dip->spike pattern suspended in run 1 (greedy mid
    quantifier at the watermark boundary) resolves in run 2 with state
    carried in the stream checkpoint — same matcher as the micro-batch
    executor."""
    from datetime import timezone

    from kamu_engine_flink_spark.streaming.structured import StreamingMatchRecognize

    job = StreamingMatchRecognize(
        input_dir=dirs["in"],
        checkpoint_dir=dirs["chk"],
        output_dir=dirs["out"],
        pattern="A B* C",
        defines={
            "A": "value < 10",
            "B": "value >= 10 AND value < 100",
            "C": "value >= 100",
        },
        partition_col="symbol",
        watermark_delay="1 minute",
        event_time_col="event_time",
    )
    _overagg_slice(
        os.path.join(dirs["in"], "s1.parquet"),
        [("X", ts(1, 0, 1), 5.0), ("X", ts(1, 0, 2), 20.0), ("X", ts(1, 0, 3), 120.0)],
    )
    job.run_available_now(spark)  # watermark at zero: everything buffers

    _overagg_slice(os.path.join(dirs["in"], "s2.parquet"), [("X", ts(1, 0, 9), 1.0)])
    job.run_available_now(spark)
    # Watermark = 00:03 - 1min = 00:02: only rows <= 00:02 processed; the
    # attempt is pending (needs C) -> still nothing.
    _overagg_slice(os.path.join(dirs["in"], "s3.parquet"), [("X", ts(1, 0, 15), 2.0)])
    job.run_available_now(spark)
    # Watermark = 00:09 - 1min = 00:08: the 120 row processes; pattern
    # completes 5 -> [20] -> 120.
    out = [
        (
            r.key,
            r.start_time.replace(tzinfo=timezone.utc),
            r.end_time.replace(tzinfo=timezone.utc),
            r.n_rows,
        )
        for r in spark.read.parquet(dirs["out"]).collect()
    ]
    assert out == [("X", ts(1, 0, 1), ts(1, 0, 3), 3)]


def test_streaming_over_agg_idle_key_wakes_on_timeout(spark, dirs):
    """A key with pending rows must emit them when OTHER keys advance the
    watermark — the event-time timeout re-invokes the idle key's state
    function (the NoTimeout pitfall)."""
    from datetime import timezone

    from kamu_engine_flink_spark.streaming.structured import StreamingOverAgg

    job = StreamingOverAgg(
        input_dir=dirs["in"],
        checkpoint_dir=dirs["chk"],
        output_dir=dirs["out"],
        frame="2 minutes",
        partition_col="symbol",
        watermark_delay="1 minute",
    )
    _overagg_slice(os.path.join(dirs["in"], "s1.parquet"), [("A", ts(1, 0, 5), 10.0)])
    job.run_available_now(spark)  # A pending (wm at zero)

    # Only B arrives; its event time drives the watermark past A's row.
    _overagg_slice(os.path.join(dirs["in"], "s2.parquet"), [("B", ts(1, 0, 30), 1.0)])
    job.run_available_now(spark)
    out = sorted(
        (r.key, r.event_time.replace(tzinfo=timezone.utc), r.roll_sum)
        for r in spark.read.parquet(dirs["out"]).collect()
    )
    assert ("A", ts(1, 0, 5), 10.0) in out


def test_streaming_regular_join_unbounded_history(spark, join_dirs):
    """StreamingRegularJoin: NO time bound — a shipment arriving far
    outside any interval horizon still pairs with a run-1 order (full-
    history state, Flink's regular-join behavior)."""
    from kamu_engine_flink_spark.streaming.structured import StreamingRegularJoin

    job = StreamingRegularJoin(
        left_dir=join_dirs["orders"],
        right_dir=join_dirs["shipments"],
        checkpoint_dir=join_dirs["chk"],
        output_dir=join_dirs["out"],
        equi_keys=[("order_id", "ship_order_id")],
    )
    _orders_slice(
        os.path.join(join_dirs["orders"], "s1.parquet"),
        [(ts(1, 1), 1, 10), (ts(1, 2), 2, 20)],
    )
    _shipments_slice(os.path.join(join_dirs["shipments"], "s1.parquet"), [])
    job.run_available_now(spark)
    assert spark.read.parquet(join_dirs["out"]).count() == 0

    # 20 days later — far beyond any interval-join horizon — both orders
    # finally match, including double-pairing order 1.
    _shipments_slice(
        os.path.join(join_dirs["shipments"], "s2.parquet"),
        [(ts(21, 1), 1, 7), (ts(21, 2), 1, 3), (ts(21, 3), 2, 20)],
    )
    job.run_available_now(spark)
    out = sorted(
        (r.order_id, r.shipped) for r in spark.read.parquet(join_dirs["out"]).collect()
    )
    assert out == [(1, 3), (1, 7), (2, 20)]


def test_streaming_window_join_same_window_pairs(spark, join_dirs):
    from datetime import timezone

    """StreamingWindowJoin: rows pair iff they share the tumbling window
    AND the key; cross-run, a run-1 order pairs with a run-2 shipment
    landing in the same window (buffered side in the checkpoint)."""
    from kamu_engine_flink_spark.streaming.structured import StreamingWindowJoin

    job = StreamingWindowJoin(
        left_dir=join_dirs["orders"],
        right_dir=join_dirs["shipments"],
        checkpoint_dir=join_dirs["chk"],
        output_dir=join_dirs["out"],
        window_duration="10 minutes",
        equi_keys=[("order_id", "ship_order_id")],
        left_time_col="order_time",
        right_time_col="ship_time",
    )
    # Run 1: order 1 at 00:01; order 2 at 00:12 (next window); no
    # shipments yet.
    _orders_slice(
        os.path.join(join_dirs["orders"], "s1.parquet"),
        [(ts(1, 0, 1), 1, 10), (ts(1, 0, 12), 2, 20)],
    )
    _shipments_slice(os.path.join(join_dirs["shipments"], "s1.parquet"), [])
    job.run_available_now(spark)
    assert spark.read.parquet(join_dirs["out"]).count() == 0

    # Run 2: shipment for order 1 in the SAME [00:00, 00:10) window
    # pairs; a shipment for order 2 in a DIFFERENT window does not.
    _shipments_slice(
        os.path.join(join_dirs["shipments"], "s2.parquet"),
        [(ts(1, 0, 3), 1, 7), (ts(1, 0, 25), 2, 9)],
    )
    job.run_available_now(spark)
    out = sorted(
        (r.window_start.replace(tzinfo=timezone.utc), r.l_order_id, r.r_shipped)
        for r in spark.read.parquet(join_dirs["out"]).collect()
    )
    assert out == [(ts(1, 0, 0), 1, 7)]


def test_streaming_window_join_hop_boundary_across_runs(spark, join_dirs):
    from datetime import timezone

    """HOP window join twin: each row expands into one instance per
    CONTAINING window (size 10m, slide 5m -> two instances), instances
    pair independently, and across runs a row's EARLIER hop window can
    be past the watermark while its LATER one still pairs with new
    arrivals — the micro-batch executor's per-instance boundary rule."""
    from kamu_engine_flink_spark.streaming.structured import StreamingWindowJoin

    job = StreamingWindowJoin(
        left_dir=join_dirs["orders"],
        right_dir=join_dirs["shipments"],
        checkpoint_dir=join_dirs["chk"],
        output_dir=join_dirs["out"],
        window_duration="10 minutes",
        slide_duration="5 minutes",
        equi_keys=[("order_id", "ship_order_id")],
        left_time_col="order_time",
        right_time_col="ship_time",
    )
    # Run 1: order 1 at 00:07 (hops [00:00,00:10) and [00:05,00:15));
    # shipment at 00:08 shares BOTH instances -> two paired rows.
    _orders_slice(
        os.path.join(join_dirs["orders"], "s1.parquet"),
        [(ts(1, 0, 7), 1, 10)],
    )
    _shipments_slice(
        os.path.join(join_dirs["shipments"], "s1.parquet"),
        [(ts(1, 0, 8), 1, 7)],
    )
    job.run_available_now(spark)
    out1 = sorted(
        (r.window_start.replace(tzinfo=timezone.utc), r.l_order_id, r.r_shipped)
        for r in spark.read.parquet(join_dirs["out"]).collect()
    )
    assert out1 == [(ts(1, 0, 0), 1, 7), (ts(1, 0, 5), 1, 7)]

    # Run 2: a shipment at 00:12 (hops [00:05,00:15) and [00:10,00:20))
    # pairs the checkpoint-buffered order ONLY on the shared later hop
    # [00:05,00:15) — the order's earlier [00:00,00:10) instance is a
    # closed window the new arrival is not in.
    _shipments_slice(
        os.path.join(join_dirs["shipments"], "s2.parquet"),
        [(ts(1, 0, 12), 1, 9)],
    )
    job.run_available_now(spark)
    out2 = sorted(
        (r.window_start.replace(tzinfo=timezone.utc), r.l_order_id, r.r_shipped)
        for r in spark.read.parquet(join_dirs["out"]).collect()
    )
    assert out2 == [
        (ts(1, 0, 0), 1, 7),
        (ts(1, 0, 5), 1, 7),
        (ts(1, 0, 5), 1, 9),
    ]


def test_streaming_unbounded_agg_corrections_across_runs(spark, dirs):
    """Continuous GROUP BY changelog on the always-on path: run 1 emits
    op 0 per key; run 2's rows for an existing key emit exactly one
    op 2/3 correction pair, via accumulator state restored from the
    stream checkpoint."""
    from kamu_engine_flink_spark.streaming.structured import StreamingUnboundedAgg

    job = StreamingUnboundedAgg(
        input_dir=dirs["in"],
        checkpoint_dir=dirs["chk"],
        output_dir=dirs["out"],
        key_col="game",
        value_col="score",
    )
    _scores_slice(
        os.path.join(dirs["in"], "s1.parquet"),
        [("chess", 1, 10.0), ("chess", 2, 8.0), ("go", 7, 5.0)],
    )
    job.run_available_now(spark)
    out1 = sorted(
        (r.key, r.op, r.n, r.sum_v)
        for r in spark.read.parquet(dirs["out"]).collect()
    )
    assert out1 == [("chess", 0, 2, 18.0), ("go", 0, 1, 5.0)]

    # Run 2: two more chess rows — one correction pair, go untouched.
    _scores_slice(
        os.path.join(dirs["in"], "s2.parquet"),
        [("chess", 3, 2.0), ("chess", 4, 1.0)],
    )
    job.run_available_now(spark)
    out2 = sorted(
        (r.key, r.op, r.n, r.sum_v)
        for r in spark.read.parquet(dirs["out"]).collect()
    )
    new = sorted(set(out2) - set(out1))
    assert new == [("chess", 2, 2, 18.0), ("chess", 3, 4, 21.0)]


def _cl_slice(path, rows):
    """rows: (key, value, op)"""
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


def test_streaming_changelog_join_cross_run_retraction(spark, tmp_path):
    """Retraction-aware regular join on the always-on path: a left row
    published and joined in run 1 is RETRACTED in run 2 (op 1) — the
    signed ledgers restored from the stream checkpoint emit op-1 deletes
    for every joined pair it participated in; an op-2/3 correction pair
    folds to delete+insert of the affected pairs."""
    from kamu_engine_flink_spark.streaming.structured import StreamingChangelogJoin

    d = {k: str(tmp_path / k) for k in ["left", "right", "chk", "out"]}
    os.makedirs(d["left"])
    os.makedirs(d["right"])
    job = StreamingChangelogJoin(
        left_dir=d["left"],
        right_dir=d["right"],
        checkpoint_dir=d["chk"],
        output_dir=d["out"],
    )

    def _read():
        try:
            rows = spark.read.parquet(d["out"]).collect()
        except Exception:
            return []
        return sorted((r.op, r.key, r.l_value, r.r_value) for r in rows)

    # Run 1: left (A,1), (A,2); right (A,10) -> two joined pairs.
    _cl_slice(os.path.join(d["left"], "s1.parquet"),
              [("A", 1.0, 0), ("A", 2.0, 0)])
    _cl_slice(os.path.join(d["right"], "s1.parquet"), [("A", 10.0, 0)])
    job.run_available_now(spark)
    out1 = _read()
    assert out1 == [(0, "A", 1.0, 10.0), (0, "A", 2.0, 10.0)]

    # Run 2: left (A,1) retracts -> its joined pair deletes; and the
    # right side corrects 10 -> 20 (op 2/3 pair) -> the surviving left
    # row's pair deletes and re-inserts with the new value.
    _cl_slice(os.path.join(d["left"], "s2.parquet"), [("A", 1.0, 1)])
    job.run_available_now(spark)
    # Exact delta check: multiset difference.
    from collections import Counter

    delta2 = Counter(_read()) - Counter(out1)
    assert dict(delta2) == {(1, "A", 1.0, 10.0): 1}

    snapshot2 = _read()
    _cl_slice(os.path.join(d["right"], "s2.parquet"),
              [("A", 10.0, 2), ("A", 20.0, 3)])
    job.run_available_now(spark)
    delta3 = Counter(_read()) - Counter(snapshot2)
    assert dict(delta3) == {(1, "A", 2.0, 10.0): 1, (0, "A", 2.0, 20.0): 1}


def test_streaming_changelog_distinct_cross_run(spark, tmp_path):
    """Retraction-aware DISTINCT on the always-on path: a value enters
    (op 0) when its count rises from zero, emits NOTHING between positive
    counts, and leaves (op 1) when the last carrier retracts in a LATER
    run — per-value counts restored from the stream checkpoint."""
    from collections import Counter

    from kamu_engine_flink_spark.streaming.structured import (
        StreamingChangelogDistinct,
    )

    d = {k: str(tmp_path / k) for k in ["in", "chk", "out"]}
    os.makedirs(d["in"])
    job = StreamingChangelogDistinct(
        input_dir=d["in"], checkpoint_dir=d["chk"], output_dir=d["out"]
    )

    def _read():
        try:
            rows = spark.read.parquet(d["out"]).collect()
        except Exception:
            return []
        return sorted((r.op, r.key, r.value) for r in rows)

    # Run 1: two carriers of (A, 1.0), one of (A, 2.0) -> two op-0 rows.
    _cl_slice(os.path.join(d["in"], "s1.parquet"),
              [("A", 1.0, 0), ("A", 1.0, 0), ("A", 2.0, 0)])
    job.run_available_now(spark)
    out1 = _read()
    assert out1 == [(0, "A", 1.0), (0, "A", 2.0)]

    # Run 2: one carrier of (A, 1.0) retracts -> count 2 -> 1: silent.
    _cl_slice(os.path.join(d["in"], "s2.parquet"), [("A", 1.0, 1)])
    job.run_available_now(spark)
    assert _read() == out1

    # Run 3: the LAST carrier retracts -> (A, 1.0) leaves the view.
    _cl_slice(os.path.join(d["in"], "s3.parquet"), [("A", 1.0, 1)])
    job.run_available_now(spark)
    delta = Counter(_read()) - Counter(out1)
    assert dict(delta) == {(1, "A", 1.0): 1}


def test_streaming_changelog_topn_promotes_on_retraction(spark, tmp_path):
    """Retractable Top-N over a changelog input on the always-on path:
    run 2 retracts the run-1 leader — the runner-up beyond the visible
    top-2 promotes (full live multiset in the stream checkpoint), and a
    changed place emits an adjacent op-2/op-3 pair in order."""
    from collections import Counter

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

    # Run 1: values 9, 7, 5 -> top-2 = [9, 7]; 5 lives beyond the horizon.
    _cl_slice(os.path.join(d["in"], "s1.parquet"),
              [("A", 9.0, 0), ("A", 7.0, 0), ("A", 5.0, 0)])
    job.run_available_now(spark)
    out1 = sorted(_read())
    assert out1 == [(0, "A", 1, 9.0), (0, "A", 2, 7.0)]

    # Run 2: the leader retracts -> 7 takes place 1, the never-visible 5
    # promotes into place 2 (two correction pairs).
    _cl_slice(os.path.join(d["in"], "s2.parquet"), [("A", 9.0, 1)])
    job.run_available_now(spark)
    delta = Counter(_read()) - Counter(out1)
    assert dict(delta) == {
        (2, "A", 1, 9.0): 1, (3, "A", 1, 7.0): 1,
        (2, "A", 2, 7.0): 1, (3, "A", 2, 5.0): 1,
    }

    # Run 3: everything retracts -> both places leave (op 1).
    snapshot = _read()
    _cl_slice(os.path.join(d["in"], "s3.parquet"),
              [("A", 7.0, 1), ("A", 5.0, 1)])
    job.run_available_now(spark)
    delta3 = Counter(_read()) - Counter(snapshot)
    assert dict(delta3) == {(1, "A", 1, 7.0): 1, (1, "A", 2, 5.0): 1}


def test_streaming_changelog_join_null_value_retracts(spark, tmp_path):
    """A NULL-valued changelog row must cancel on retraction: pandas hands
    NULL doubles over as NaN, and a NaN-keyed fold would never match the
    earlier +1 (NaN != NaN) — the kernels normalize to None."""
    from collections import Counter

    from kamu_engine_flink_spark.streaming.structured import StreamingChangelogJoin

    d = {k: str(tmp_path / k) for k in ["left", "right", "chk", "out"]}
    os.makedirs(d["left"])
    os.makedirs(d["right"])
    job = StreamingChangelogJoin(
        left_dir=d["left"], right_dir=d["right"],
        checkpoint_dir=d["chk"], output_dir=d["out"],
    )

    def _read():
        try:
            rows = spark.read.parquet(d["out"]).collect()
        except Exception:
            return []
        return sorted(
            ((r.op, r.key, r.l_value, r.r_value) for r in rows),
            key=str,
        )

    # Run 1: a NULL-valued left row joins the right row.
    _cl_slice(os.path.join(d["left"], "s1.parquet"), [("A", None, 0)])
    _cl_slice(os.path.join(d["right"], "s1.parquet"), [("A", 10.0, 0)])
    job.run_available_now(spark)
    out1 = _read()
    assert out1 == [(0, "A", None, 10.0)]

    # Run 2: the NULL row retracts — its joined pair must delete (state
    # restored across the run boundary, None key matching).
    _cl_slice(os.path.join(d["left"], "s2.parquet"), [("A", None, 1)])
    job.run_available_now(spark)
    delta = Counter(map(str, _read())) - Counter(map(str, out1))
    assert dict(delta) == {str((1, "A", None, 10.0)): 1}


def _kv_op_slice(path, rows):
    """rows: (pk, event_time, value, op) — a versioned-view changelog."""
    cols = list(zip(*rows)) if rows else [[], [], [], []]
    pq.write_table(
        pa.table(
            {
                "pk": pa.array(list(cols[0]), pa.string()),
                "event_time": pa.array(list(cols[1]), pa.timestamp("ms", tz="UTC")),
                "value": pa.array(list(cols[2]), pa.float64()),
                "op": pa.array(list(cols[3]), pa.int32()),
            }
        ),
        path,
        compression="snappy",
    )


def test_streaming_changelog_asof_cross_run_version_retraction(spark, asof_dirs):
    """Streaming twin of the changelog-maintained as-of join
    (StreamingChangelogAsOfJoin): a version TOMBSTONED in a later run
    stops matching newly released probes while rows already emitted
    against it stand; a late version (at or before the used watermark)
    drops instead of resurrecting history; a post-tombstone version
    revives the key. Version state, probe buffers, and the used
    watermark all ride the stream checkpoint across runs."""
    from kamu_engine_flink_spark.streaming.structured import (
        StreamingChangelogAsOfJoin,
    )

    job = StreamingChangelogAsOfJoin(
        version_dir=asof_dirs["versions"],
        probe_dir=asof_dirs["probes"],
        checkpoint_dir=asof_dirs["chk"],
        output_dir=asof_dirs["out"],
        how="inner",
    )
    # Run 1: version A=10@d1 (op-0); probe at d2 buffers (joint wm d1).
    _kv_op_slice(
        os.path.join(asof_dirs["versions"], "s1.parquet"),
        [("A", ts(1), 10.0, 0)],
    )
    _kv_slice(os.path.join(asof_dirs["probes"], "s1.parquet"), [("A", ts(2), 100.0)])
    job.run_available_now(spark)
    assert _asof_out(spark, asof_dirs["out"]) == []

    # Run 2: the rate corrects via an op-2/op-3 pair (version 17@d3);
    # probes at d2:12 and d3:12 arrive. Joint wm d3 releases the d2 and
    # d2:12 probes against the OLD version 10 (17 is later than both);
    # the d3:12 probe stays buffered.
    _kv_op_slice(
        os.path.join(asof_dirs["versions"], "s2.parquet"),
        [("A", ts(1), 10.0, 2), ("A", ts(3), 17.0, 3)],
    )
    _kv_slice(
        os.path.join(asof_dirs["probes"], "s2.parquet"),
        [("A", ts(2, 12), 150.0), ("A", ts(3, 12), 200.0)],
    )
    job.run_available_now(spark)
    assert _asof_out(spark, asof_dirs["out"]) == [
        ("A", ts(2), 100.0, 10.0),
        ("A", ts(2, 12), 150.0, 10.0),
    ]

    # Run 3: A TOMBSTONES at d3:06 (op-1) — the buffered d3:12 probe now
    # lands in the dead interval and inner-drops, as does the new d6
    # probe; already-emitted rows stand. (A live version at d8 advances
    # the version watermark; joint wm = d6.)
    _kv_op_slice(
        os.path.join(asof_dirs["versions"], "s3.parquet"),
        [("A", ts(3, 6), 17.0, 1), ("A", ts(8), 25.0, 0)],
    )
    _kv_slice(os.path.join(asof_dirs["probes"], "s3.parquet"), [("A", ts(6), 300.0)])
    job.run_available_now(spark)
    assert _asof_out(spark, asof_dirs["out"]) == [
        ("A", ts(2), 100.0, 10.0),
        ("A", ts(2, 12), 150.0, 10.0),
    ]

    # Run 4: a LATE version (d5 <= used wm d6) drops — without the drop
    # the d7 probe would resurrect against 99. The d7 probe inner-drops
    # (still dead), the d9 probe revives against the d8 version, and the
    # d11 probe stays buffered (joint wm d10).
    _kv_op_slice(
        os.path.join(asof_dirs["versions"], "s4.parquet"),
        [("A", ts(5), 99.0, 0), ("A", ts(10), 30.0, 0)],
    )
    _kv_slice(
        os.path.join(asof_dirs["probes"], "s4.parquet"),
        [("A", ts(7), 400.0), ("A", ts(9), 450.0), ("A", ts(11), 500.0)],
    )
    job.run_available_now(spark)
    assert _asof_out(spark, asof_dirs["out"]) == [
        ("A", ts(2), 100.0, 10.0),
        ("A", ts(2, 12), 150.0, 10.0),
        ("A", ts(9), 450.0, 25.0),
    ]


def _probe_cl_slice(path, rows):
    """rows: (pk, event_time, value, op, seq) — an op-tagged probe ledger."""
    cols = list(zip(*rows)) if rows else [[], [], [], [], []]
    pq.write_table(
        pa.table(
            {
                "pk": pa.array(list(cols[0]), pa.string()),
                "event_time": pa.array(list(cols[1]), pa.timestamp("ms", tz="UTC")),
                "value": pa.array(list(cols[2]), pa.float64()),
                "op": pa.array(list(cols[3]), pa.int32()),
                "seq": pa.array(list(cols[4]), pa.int64()),
            }
        ),
        path,
        compression="snappy",
    )


def test_streaming_changelog_probe_asof_cross_run_pair_repair(spark, asof_dirs):
    """Streaming twin of the UPDATING-PROBE as-of join
    (StreamingChangelogProbeAsOfJoin): released changelog rows resolve at
    their own event time and forward op tags; a correction pair split by
    the watermark repairs to op-1 now and op-0 on the later run — each
    half against the version live at ITS time."""
    from kamu_engine_flink_spark.streaming.structured import (
        StreamingChangelogProbeAsOfJoin,
    )

    job = StreamingChangelogProbeAsOfJoin(
        version_dir=asof_dirs["versions"],
        probe_dir=asof_dirs["probes"],
        checkpoint_dir=asof_dirs["chk"],
        output_dir=asof_dirs["out"],
        how="inner",
    )

    def _read():
        try:
            rows = spark.read.parquet(asof_dirs["out"]).collect()
        except Exception:
            return []
        from datetime import datetime, timezone

        return sorted(
            (r.op, r.pk,
             datetime.fromtimestamp(r.probe_ts_ms / 1000, tz=timezone.utc),
             r.probe_val, r.version_val)
            for r in rows
        )

    # Run 1: version A=2@d1; probe insert (seq 0, d2, 10) buffers
    # (joint wm d1).
    _kv_slice(os.path.join(asof_dirs["versions"], "s1.parquet"),
              [("A", ts(1), 2.0)])
    _probe_cl_slice(os.path.join(asof_dirs["probes"], "s1.parquet"),
                    [("A", ts(2), 10.0, 0, 0)])
    job.run_available_now(spark)
    assert _read() == []

    # Run 2: version A=3@d3:12; the probe corrects via op-2 (seq 1, d2)
    # / op-3 (seq 2, d4). Joint wm d3:12 releases the insert and the
    # op-2 (both resolve rate 2) but NOT the op-3 — the dangling op-2
    # repairs to op-1.
    _kv_slice(os.path.join(asof_dirs["versions"], "s2.parquet"),
              [("A", ts(3, 12), 3.0)])
    _probe_cl_slice(os.path.join(asof_dirs["probes"], "s2.parquet"),
                    [("A", ts(2), 10.0, 2, 1), ("A", ts(4), 15.0, 3, 2)])
    job.run_available_now(spark)
    assert _read() == [
        (0, "A", ts(2), 10.0, 2.0),
        (1, "A", ts(2), 10.0, 2.0),
    ]

    # Run 3: watermarks pass d6 — the buffered op-3 releases alone and
    # repairs to op-0 against the rate live at d4 (3.0); a fresh insert
    # at d6 sees the d6 version.
    _kv_slice(os.path.join(asof_dirs["versions"], "s3.parquet"),
              [("A", ts(6), 9.0)])
    _probe_cl_slice(os.path.join(asof_dirs["probes"], "s3.parquet"),
                    [("A", ts(6), 99.0, 0, 3)])
    job.run_available_now(spark)
    assert _read() == [
        (0, "A", ts(2), 10.0, 2.0),
        (0, "A", ts(4), 15.0, 3.0),
        (0, "A", ts(6), 99.0, 9.0),
        (1, "A", ts(2), 10.0, 2.0),
    ]


def _val_slice(path, values):
    pq.write_table(
        pa.table({"value": pa.array(list(values), pa.float64())}),
        path,
        compression="snappy",
    )


def test_streaming_setop_except_cross_run_retraction(spark, tmp_path):
    """Streaming EXCEPT twin (operators/setop_step.py batch executor):
    a left value emitted in run 1 RETRACTS (op 1) when its right twin
    arrives in run 2 — per-value branch counts restored from the stream
    checkpoint."""
    from collections import Counter

    from kamu_engine_flink_spark.streaming.structured import StreamingSetOp

    d = {k: str(tmp_path / k) for k in ["left", "right", "chk", "out"]}
    os.makedirs(d["left"]); os.makedirs(d["right"])
    job = StreamingSetOp(
        left_dir=d["left"], right_dir=d["right"],
        checkpoint_dir=d["chk"], output_dir=d["out"], op="EXCEPT",
    )

    def _read():
        try:
            rows = spark.read.parquet(d["out"]).collect()
        except Exception:
            return []
        return sorted((r.op, r.value) for r in rows)

    _val_slice(os.path.join(d["left"], "s1.parquet"), [1.0, 2.0])
    _val_slice(os.path.join(d["right"], "s1.parquet"), [])
    job.run_available_now(spark)
    out1 = _read()
    assert out1 == [(0, 1.0), (0, 2.0)]

    # Run 2: 2.0 arrives on the right -> retraction; a fresh 3.0 enters.
    _val_slice(os.path.join(d["left"], "s2.parquet"), [3.0])
    _val_slice(os.path.join(d["right"], "s2.parquet"), [2.0])
    job.run_available_now(spark)
    delta = Counter(_read()) - Counter(out1)
    assert dict(delta) == {(1, 2.0): 1, (0, 3.0): 1}

    # Run 3: 2.0 re-arrives on the left — already dead, stays silent.
    _val_slice(os.path.join(d["left"], "s3.parquet"), [2.0])
    _val_slice(os.path.join(d["right"], "s3.parquet"), [])
    prev = _read()
    job.run_available_now(spark)
    assert _read() == prev


def test_streaming_setop_intersect_all_cross_run(spark, tmp_path):
    """Streaming INTERSECT ALL twin: live multiplicity is min(left,
    right) counts; a later right arrival raises the min and emits one
    more copy."""
    from collections import Counter

    from kamu_engine_flink_spark.streaming.structured import StreamingSetOp

    d = {k: str(tmp_path / k) for k in ["left", "right", "chk", "out"]}
    os.makedirs(d["left"]); os.makedirs(d["right"])
    job = StreamingSetOp(
        left_dir=d["left"], right_dir=d["right"],
        checkpoint_dir=d["chk"], output_dir=d["out"],
        op="INTERSECT", all_flag=True,
    )

    def _read():
        try:
            rows = spark.read.parquet(d["out"]).collect()
        except Exception:
            return []
        return sorted((r.op, r.value) for r in rows)

    # left: 5.0 x2; right: 5.0 x1 -> min 1 -> one copy.
    _val_slice(os.path.join(d["left"], "s1.parquet"), [5.0, 5.0])
    _val_slice(os.path.join(d["right"], "s1.parquet"), [5.0])
    job.run_available_now(spark)
    out1 = _read()
    assert out1 == [(0, 5.0)]

    # right: 5.0 x2 more -> min(2, 3) = 2 -> exactly one more copy.
    _val_slice(os.path.join(d["left"], "s2.parquet"), [])
    _val_slice(os.path.join(d["right"], "s2.parquet"), [5.0, 5.0])
    job.run_available_now(spark)
    delta = Counter(_read()) - Counter(out1)
    assert dict(delta) == {(0, 5.0): 1}


def test_streaming_setop_intersect_changelog_input(spark, tmp_path):
    """Streaming INTERSECT with a CHANGELOG left input (rows carry op
    tags): retracting the left value kills the intersection (op 1) in a
    later run — signed branch counts restored from the stream
    checkpoint, mirroring the batch executor's updating branches."""
    from collections import Counter

    from kamu_engine_flink_spark.streaming.structured import StreamingSetOp

    d = {k: str(tmp_path / k) for k in ["left", "right", "chk", "out"]}
    os.makedirs(d["left"]); os.makedirs(d["right"])
    job = StreamingSetOp(
        left_dir=d["left"], right_dir=d["right"],
        checkpoint_dir=d["chk"], output_dir=d["out"], op="INTERSECT",
    )

    def _cl(path, rows):
        """rows: (value, op)"""
        pq.write_table(
            pa.table({
                "value": pa.array([v for v, _ in rows], pa.float64()),
                "op": pa.array([o for _, o in rows], pa.int32()),
            }),
            path, compression="snappy",
        )

    def _read():
        try:
            rows = spark.read.parquet(d["out"]).collect()
        except Exception:
            return []
        return sorted((r.op, r.value) for r in rows)

    _cl(os.path.join(d["left"], "s1.parquet"), [(1.0, 0), (2.0, 0)])
    _val_slice(os.path.join(d["right"], "s1.parquet"), [1.0])
    job.run_available_now(spark)
    out1 = _read()
    assert out1 == [(0, 1.0)]

    # Run 2: the left 1.0 retracts -> the intersection loses it (op 1).
    _cl(os.path.join(d["left"], "s2.parquet"), [(1.0, 1)])
    _val_slice(os.path.join(d["right"], "s2.parquet"), [])
    job.run_available_now(spark)
    delta = Counter(_read()) - Counter(out1)
    assert dict(delta) == {(1, 1.0): 1}


def test_streaming_setop_unionall_cross_run(spark, tmp_path):
    """Streaming UNION ALL concatenation over a stateful EXCEPT sub-chain
    (the `(A EXCEPT B) UNION ALL C` twin, round 11): the sub-chain's
    op-0/op-1 changelog and the third append branch's op-0 inserts land
    in the SAME output; a left value emitted in run 1 retracts (op 1)
    when its right twin arrives in run 2, while third-branch rows pass
    through untouched in their arrival run — including a value the
    EXCEPT already killed (UNION ALL never dedups across branches)."""
    from collections import Counter

    from kamu_engine_flink_spark.streaming.structured import (
        StreamingSetOpUnionAll,
    )

    d = {k: str(tmp_path / k) for k in ["left", "right", "third", "chk", "out"]}
    for k in ("left", "right", "third"):
        os.makedirs(d[k])
    job = StreamingSetOpUnionAll(
        left_dir=d["left"], right_dir=d["right"], third_dir=d["third"],
        checkpoint_dir=d["chk"], output_dir=d["out"], op="EXCEPT",
    )

    def _read():
        try:
            rows = spark.read.parquet(d["out"]).collect()
        except Exception:
            return []
        return sorted((r.op, r.value) for r in rows)

    _val_slice(os.path.join(d["left"], "s1.parquet"), [1.0, 2.0])
    _val_slice(os.path.join(d["right"], "s1.parquet"), [])
    _val_slice(os.path.join(d["third"], "s1.parquet"), [9.0])
    job.run_available_now(spark)
    out1 = _read()
    assert out1 == [(0, 1.0), (0, 2.0), (0, 9.0)]

    # Run 2: 2.0 arrives on the right -> the sub-chain retracts it; the
    # third branch inserts 2.0 REGARDLESS (no cross-branch dedup) plus a
    # fresh 7.0.
    _val_slice(os.path.join(d["left"], "s2.parquet"), [])
    _val_slice(os.path.join(d["right"], "s2.parquet"), [2.0])
    _val_slice(os.path.join(d["third"], "s2.parquet"), [2.0, 7.0])
    job.run_available_now(spark)
    delta = Counter(_read()) - Counter(out1)
    assert dict(delta) == {(1, 2.0): 1, (0, 2.0): 1, (0, 7.0): 1}


def test_streaming_match_recognize_twin_cross_run_split(spark):
    """The oracle-backed CEP twin must genuinely split matches across
    the two availableNow runs (suspended dips resolving from checkpoint
    state) — both inv groups non-empty at the smoke scale factor."""
    import os

    import __spark_entry__ as entrymod

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    if not os.path.exists(os.path.join(sf, "events.parquet")):
        pytest.skip("test data not found")
    rows = entrymod.queries()["streaming_match_recognize_twin"](
        spark, sf
    ).collect()
    invs = {r.inv for r in rows}
    assert invs == {1, 2}
    for r in rows:
        assert r.dip_ts_us < r.spike_ts_us


def test_streaming_session_window_twin_cross_run_split(spark):
    """The oracle-backed native-session-window twin splits sessions
    across the two availableNow runs; ends are start+gap or later."""
    import os

    import __spark_entry__ as entrymod

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    if not os.path.exists(os.path.join(sf, "events.parquet")):
        pytest.skip("test data not found")
    rows = entrymod.queries()["streaming_session_window_twin"](
        spark, sf
    ).collect()
    assert {r.inv for r in rows} == {1, 2}
    gap_us = 30 * 60 * 1_000_000
    for r in rows:
        assert r.session_end_us >= r.session_start_us + gap_us
        assert r.n_events >= 1


def test_streaming_over_agg_twin_cross_run_split(spark):
    """The oracle-backed rolling-frame twin splits rows across runs and
    keeps frame invariants (sum >= own value, cnt >= 1)."""
    import os

    import __spark_entry__ as entrymod

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    if not os.path.exists(os.path.join(sf, "events.parquet")):
        pytest.skip("test data not found")
    rows = entrymod.queries()["streaming_over_agg_twin"](
        spark, sf
    ).collect()
    assert {r.inv for r in rows} == {1, 2}
    for r in rows:
        assert r.roll_cnt >= 1
        assert r.roll_sum >= r.cents or r.roll_cnt > 1


def test_streaming_hop_window_twin_cross_run_split(spark):
    """The oracle-backed sliding-window twin splits instances across
    runs; every 12h/6h instance is epoch-aligned to the 6h grid."""
    import os

    import __spark_entry__ as entrymod

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    if not os.path.exists(os.path.join(sf, "events.parquet")):
        pytest.skip("test data not found")
    rows = entrymod.queries()["streaming_hop_window_twin"](
        spark, sf
    ).collect()
    assert {r.inv for r in rows} == {1, 2}
    for r in rows:
        assert r.win_start_ms % 21_600_000 == 0
        assert r.n_events >= 1


def test_streaming_unbounded_agg_twin_correction_pairs(spark):
    """The oracle-backed continuous-aggregation twin: run-2 corrections
    come as op-2/op-3 pairs whose op-3 totals strictly grow."""
    import os
    from collections import defaultdict

    import __spark_entry__ as entrymod

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    if not os.path.exists(os.path.join(sf, "events.parquet")):
        pytest.skip("test data not found")
    rows = entrymod.queries()["streaming_unbounded_agg_twin"](
        spark, sf
    ).collect()
    by_key = defaultdict(dict)
    for r in rows:
        by_key[r.user_id][(r.inv, r.op)] = (r.n, r.sum_cents)
    corrected = 0
    for key, ops in by_key.items():
        if (2, 2) in ops or (2, 3) in ops:
            corrected += 1
            assert (2, 2) in ops and (2, 3) in ops
            assert ops[(2, 2)] == ops[(1, 0)]  # CorrectFrom = run-1 state
            assert ops[(2, 3)][0] > ops[(2, 2)][0]
    assert corrected > 0


def test_streaming_dedup_twin_cross_run_split(spark):
    """The oracle-backed native dedup twin: keys split across runs and
    never repeat across the checkpoint."""
    import os

    import __spark_entry__ as entrymod

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    if not os.path.exists(os.path.join(sf, "events.parquet")):
        pytest.skip("test data not found")
    rows = entrymod.queries()["streaming_dedup_twin"](spark, sf).collect()
    assert {r.inv for r in rows} == {1, 2}
    keys = [(r.user_id, r.event_type, r.day) for r in rows]
    assert len(keys) == len(set(keys))


def test_streaming_cumulate_twin_cross_run_split(spark):
    """The oracle-backed streaming CUMULATE twin: windows split across
    runs, ends sit on the hour grid, and each span's cumulative counts
    are monotone in the end."""
    import os
    from collections import defaultdict

    import __spark_entry__ as entrymod

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    if not os.path.exists(os.path.join(sf, "events.parquet")):
        pytest.skip("test data not found")
    rows = entrymod.queries()["streaming_cumulate_twin"](
        spark, sf
    ).collect()
    assert {r.inv for r in rows} == {1, 2}
    span_us = 6 * 3600 * 1_000_000
    by_span = defaultdict(list)
    for r in rows:
        assert r.win_end_us % 3_600_000_000 == 0
        span = (r.win_end_us - 1) // span_us
        by_span[(span, r.event_type)].append((r.win_end_us, r.n_events))
    for grp in by_span.values():
        grp.sort()
        for (_, a), (_, b) in zip(grp, grp[1:]):
            assert b >= a


def test_streaming_regular_join_twin_cross_run_split(spark):
    """The oracle-backed unbounded regular-join twin: pairs split across
    runs (run-2 rows joining run-1 state restored from checkpoint)."""
    import os

    import __spark_entry__ as entrymod

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    if not os.path.exists(os.path.join(sf, "events.parquet")):
        pytest.skip("test data not found")
    rows = entrymod.queries()["streaming_regular_join_twin"](
        spark, sf
    ).collect()
    assert {r.inv for r in rows} == {1, 2}
    # run-2 output must contain at least one CROSS-BAND pair: one side
    # below the band (run-1 state), the other above.
    band_us = 1705406400000000  # 2024-01-16 12:00:00 UTC (_RJ_BAND)
    crossed = [
        r for r in rows
        if r.inv == 2 and (
            (r.p_ts_us < band_us) != (r.c_ts_us < band_us)
        )
    ]
    assert crossed


def test_streaming_topn_twin_correction_pairs(spark):
    """The oracle-backed ranked-state twin: run-2 corrections come as
    op-2/op-3 pairs per (event_type, place)."""
    import os
    from collections import defaultdict

    import __spark_entry__ as entrymod

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    if not os.path.exists(os.path.join(sf, "events.parquet")):
        pytest.skip("test data not found")
    rows = entrymod.queries()["streaming_topn_twin"](spark, sf).collect()
    assert {r.inv for r in rows} == {1, 2}
    pairs = defaultdict(set)
    for r in rows:
        if r.inv == 2 and r.op in (2, 3):
            pairs[(r.event_type, r.place)].add(r.op)
    assert pairs
    for ops in pairs.values():
        assert ops == {2, 3}


def test_streaming_changelog_asof_twins_cross_run(spark):
    """The two changelog as-of twins (updating build / updating probe):
    both split across runs; probe-twin corrections come as op-2/3 pairs
    sharing a timestamp."""
    import os
    from collections import defaultdict

    import __spark_entry__ as entrymod

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    if not os.path.exists(os.path.join(sf, "events.parquet")):
        pytest.skip("test data not found")
    q = entrymod.queries()
    rows_b = q["streaming_changelog_asof_twin"](spark, sf).collect()
    assert {r.inv for r in rows_b} == {1, 2}
    rows_p = q["streaming_changelog_probe_asof_twin"](spark, sf).collect()
    assert {r.inv for r in rows_p} == {1, 2}
    pairs = defaultdict(set)
    for r in rows_p:
        if r.op in (2, 3):
            pairs[(r.user_id, r.probe_ts_ms)].add(r.op)
    assert pairs
    for ops in pairs.values():
        assert ops == {2, 3}


def test_probe_asof_twin_on_tie_bearing_corpus(spark, tmp_path):
    """Round-12 verdict latent-risk fix: the twin ledger derivations must
    stay deterministic on a corpus WITH (user_id, ts) duplicate purchases
    — the shipped testdata has none, so ordering ambiguity would
    otherwise first surface in a future driver run. Both the Spark entry
    and its DuckDB oracle now tie-break every ledger window on the unique
    event_id; this synthesizes duplicate-(user, ts) purchase pairs on
    both sides of the band and asserts cell-exact agreement."""
    import datetime as dt

    import duckdb

    import __spark_entry__ as entrymod

    UTC = dt.timezone.utc

    def t(day, hour=0):
        return dt.datetime(2024, 1, day, hour, tzinfo=UTC)

    # (event_id, ts, user_id, event_type, value): purchases carry
    # duplicate (user_id, ts) pairs straddling the 2024-01-16 band.
    rows = [
        (1, t(10), 1, "click", 0.50),
        (2, t(14), 1, "click", 0.70),
        (3, t(18), 1, "click", 0.80),
        (4, t(20, 12), 1, "click", 0.90),
        (10, t(10, 6), 1, "purchase", 1.00),
        (11, t(12), 1, "purchase", 2.00),   # tie pair, band 1
        (12, t(12), 1, "purchase", 3.00),
        (13, t(19), 1, "purchase", 4.00),
        (14, t(20), 1, "purchase", 5.00),   # tie pair, band 2
        (15, t(20), 1, "purchase", 6.00),
        (20, t(10), 2, "click", 0.40),
        (21, t(20, 12), 2, "click", 0.60),
        (22, t(11), 2, "purchase", 7.00),
        (23, t(11), 2, "purchase", 8.00),   # tie pair, band 1
        (24, t(19, 6), 2, "purchase", 9.00),
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("ms", tz="UTC")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array(["{}" for _ in rows], pa.string()),
            }
        ),
        str(tmp_path / "events.parquet"),
    )

    name = "streaming_changelog_probe_asof_twin"
    got = {
        (r.inv, r.op, r.user_id, r.probe_ts_ms, r.total_cents, r.rate_cents)
        for r in entrymod.queries()[name](spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'"
    )
    want = {
        tuple(r)
        for r in con.execute(entrymod.oracle_sql()[name]).fetchall()
    }
    assert got == want
    # The ties actually exercised the tie-break: correction pairs exist
    # at the duplicated timestamps in both runs.
    tie_ms = {int(t(12).timestamp() * 1000), int(t(20).timestamp() * 1000)}
    assert {m for (_, op, u, m, _, _) in got if op in (2, 3) and u == 1} >= tie_ms


def test_build_asof_twin_on_tie_bearing_corpus(spark, tmp_path):
    """The SECOND rewritten oracle (streaming_changelog_asof_twin): its
    rn=1 version-resolution also collapsed duplicate probe rows sharing
    a timestamp. This corpus plants BOTH flavors — a different-cents
    (user, ts) purchase pair and a FULL duplicate (same cents) pair —
    plus a tombstone interval, and asserts the entry and its oracle
    agree cell-exactly including row multiplicity."""
    import datetime as dt

    import duckdb

    import __spark_entry__ as entrymod

    UTC = dt.timezone.utc

    def t(day, hour=0):
        return dt.datetime(2024, 1, day, hour, tzinfo=UTC)

    rows = [
        # user 1: version history with a tombstone interval
        (1, t(10), 1, "signup", 1.00),
        (2, t(13), 1, "error", 0.00),
        (3, t(18), 1, "signup", 2.00),
        (10, t(11), 1, "purchase", 5.00),
        (11, t(12), 1, "purchase", 6.00),   # tie pair, different cents
        (12, t(12), 1, "purchase", 7.00),
        (13, t(14), 1, "purchase", 8.00),   # tombstone interval -> drop
        (14, t(19), 1, "purchase", 9.00),   # FULL duplicate pair
        (15, t(19), 1, "purchase", 9.00),
        # user 2: plain history, pushes the run-2 watermark past 01-20
        (20, t(10), 2, "signup", 0.40),
        (21, t(21), 2, "signup", 0.60),
        (22, t(12), 2, "purchase", 3.00),
        (23, t(20), 2, "purchase", 3.10),
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("ms", tz="UTC")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array(["{}" for _ in rows], pa.string()),
            }
        ),
        str(tmp_path / "events.parquet"),
    )

    name = "streaming_changelog_asof_twin"
    got = sorted(
        (r.inv, r.user_id, r.probe_ts_ms, r.probe_cents, r.version_cents)
        for r in entrymod.queries()[name](spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'"
    )
    want = sorted(tuple(r) for r in con.execute(entrymod.oracle_sql()[name]).fetchall())
    assert got == want
    # Multiplicity preserved: the full-duplicate pair appears twice.
    dup = [r for r in got if r[1] == 1 and r[2] == int(t(19).timestamp() * 1000)]
    assert len(dup) == 2 and dup[0] == dup[1]
    # The tombstone interval dropped the 01-14 probe in both engines.
    assert not [r for r in got if r[2] == int(t(14).timestamp() * 1000)]


def test_session_twin_on_boundary_corpus(spark, tmp_path):
    """Boundary corpus for the NATIVE session-window twin, probing the
    two exact boundaries shipped data never hits: (a) events exactly one
    gap apart MERGE (Spark merges adjacent [t, t+gap) windows — the
    oracle's gaps-and-islands must split only at diff > gap), and (b) a
    session whose end lands EXACTLY on the final watermark."""
    import datetime as dt

    import duckdb

    import __spark_entry__ as entrymod

    UTC = dt.timezone.utc

    def t(day, hour=0, minute=0):
        return dt.datetime(2024, 1, day, hour, minute, tzinfo=UTC)

    rows = [
        # user 4: clean early session, closes under wm1 (inv 1)
        (1, t(10, 1, 0), 4, "click", 0.10),
        # user 1: exact 30-min chain — ONE session [00:00, 01:30)
        (2, t(10, 10, 0), 1, "click", 0.20),
        (3, t(10, 10, 30), 1, "click", 0.30),
        (4, t(10, 11, 0), 1, "click", 0.40),
        # band-1 max: sets wm1 = 13:59 (covers both sessions above)
        (5, t(10, 14, 0), 5, "click", 0.50),
        # user 2: band-2 session whose end (10:30) == wm2 exactly
        (6, t(20, 10, 0), 2, "click", 0.60),
        # user 3: global max 10:31 -> wm2 = 10:30
        (7, t(20, 10, 31), 3, "click", 0.70),
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("ms", tz="UTC")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array(["{}" for _ in rows], pa.string()),
            }
        ),
        str(tmp_path / "events.parquet"),
    )

    name = "streaming_session_window_twin"
    got = sorted(
        (r.inv, r.user_id, r.session_start_us, r.session_end_us,
         r.n_events, r.cents_sum)
        for r in entrymod.queries()[name](spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'"
    )
    want = sorted(
        tuple(r) for r in con.execute(entrymod.oracle_sql()[name]).fetchall()
    )
    assert got == want
    # (a) the exact-gap chain merged into ONE 3-event session
    u1 = [r for r in got if r[1] == 1]
    assert len(u1) == 1 and u1[0][4] == 3
    # (b) the end==wm2 session is decided the same way by both engines
    # (got == want already asserts it; record which way for the reader)
    u2 = [r for r in got if r[1] == 2]
    assert len(u2) <= 1


def test_hop_twin_on_close_boundary_corpus(spark, tmp_path):
    """Close-boundary corpus for the native sliding-window twin: a hop
    window whose end lands EXACTLY on the final watermark must be
    decided the same way by the kernel (Spark's append-mode state-store
    close, non-strict — pinned for sessions too) and the oracle's
    end <= wm rule. The state-store close predicate is shared by the
    native tumbling/hop/cumulate/session paths, so this pins the whole
    family."""
    import datetime as dt

    import duckdb

    import __spark_entry__ as entrymod

    UTC = dt.timezone.utc

    def t(day, hour=0, minute=0):
        return dt.datetime(2024, 1, day, hour, minute, tzinfo=UTC)

    rows = [
        # band 1: a couple of clicks + the band-1 max-setter
        (1, t(10, 1, 0), 1, "click", 0.10),
        (2, t(10, 2, 0), 2, "click", 0.20),
        (3, t(10, 9, 1), 3, "view", 0.30),
        # band 2: rows inside the window [19@18:00, 20@06:00)
        (4, t(20, 1, 0), 1, "click", 0.40),
        (5, t(20, 5, 59), 2, "click", 0.50),
        # global max 06:01 -> wm2 = 06:00 == that window's end, exactly
        (6, t(20, 6, 1), 3, "view", 0.60),
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("ms", tz="UTC")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array(["{}" for _ in rows], pa.string()),
            }
        ),
        str(tmp_path / "events.parquet"),
    )

    name = "streaming_hop_window_twin"
    df = entrymod.queries()[name](spark, str(tmp_path))
    got = sorted(tuple(r) for r in df.collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'"
    )
    want = sorted(
        tuple(r) for r in con.execute(entrymod.oracle_sql()[name]).fetchall()
    )
    assert got == want
    # The boundary window (end == wm2) is present and EMITTED: the twin
    # reports window STARTS in ms; the 12h instance ending 01-20 06:00
    # starts 01-19 18:00 and holds both band-2 clicks.
    start_ms = int(t(19, 18).timestamp() * 1000)
    hit = [r for r in got if r[1] == start_ms and r[2] == "click"]
    assert hit and hit[0][3] == 2, got


def test_no_oracle_column_is_hugeint():
    """Every integer output of an oracle is cast to BIGINT: DuckDB types
    SUM(BIGINT) OVER (...) as a 128-bit HUGEINT, which its row fetch
    returns as Python ints (so a value comparison cannot see it) but a
    typed frame or hash does not. DuckDB only: the oracles are bound
    over sf0.001 and their column types read, nothing runs."""
    import sys

    import duckdb

    sys.path.insert(0, ".")
    sys.path.insert(0, "tools")
    import __spark_entry__ as entrymod
    import crosscheck

    from .test_dedup import SF_DIR

    con = duckdb.connect()
    for t in crosscheck.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    hugeint = []
    for name, sql in entrymod.oracle_sql().items():
        rel = con.sql(sql)
        hugeint += [
            f"{name}.{col}"
            for col, typ in zip(rel.columns, rel.types)
            if str(typ) == "HUGEINT"
        ]
    assert hugeint == []
