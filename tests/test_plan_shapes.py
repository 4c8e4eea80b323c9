"""Plan-shape guards for per-key state joins at high key cardinality.

The per-key state tables (OVER-aggregation accumulators, MATCH_RECOGNIZE
continuation markers/counts/tombstones) are O(distinct partition keys) —
unbounded at user_id-grade cardinality. These tests pin that the state
joins carry NO forced broadcast hint: with autoBroadcastJoinThreshold
disabled, the captured physical plans must contain no BroadcastExchange.
A hard F.broadcast() hint would ignore the threshold and reintroduce a
driver-OOM at 100x key cardinality (the round-2 verdict's scale-killer).

Evidence that size-based planning still broadcasts when the state is
genuinely small is in the default-threshold runs of test_over_agg.py /
test_match_recognize.py; here we only guard against forced hints.
"""

from contextlib import contextmanager

import pyarrow.parquet as pq

from .helpers import TransformRunner, ticker_slice, ts

N_KEYS = 100_000

OVER_QUERY = """select
  event_time, symbol, price,
  sum(price) over (partition by symbol order by event_time
    rows between unbounded preceding and current row) as run_sum
from tickers"""

MR_QUERY = """select * from tickers
MATCH_RECOGNIZE (
  PARTITION BY symbol
  ORDER BY event_time
  MEASURES
    LAST(B.event_time) AS event_time,
    MATCH_NUMBER() AS mno,
    A.price AS a_price,
    B.price AS b_price
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (A B)
  DEFINE
    A AS A.price < 10,
    B AS B.price >= 100
)"""


def _input(path, watermark):
    return {
        "alias": "tickers",
        "data_paths": [path] if path else [],
        "schema_file": path,
        "watermark": watermark,
    }


def _executions(spark):
    """Physical plan descriptions from the SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    lst = store.executionsList()
    return [lst.apply(i).physicalPlanDescription() for i in range(lst.size())]


@contextmanager
def _no_auto_broadcast(spark):
    """Disable size-based broadcast so any BroadcastExchange in a captured
    plan can only come from a forced hint."""
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    saved = {}
    for k in keys:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, "-1")
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _drain_listener_bus(spark):
    bus = spark.sparkContext._jsc.sc().listenerBus()
    try:
        bus.waitUntilEmpty()
    except Exception:
        import time

        time.sleep(2)


def _assert_no_broadcast(spark, n_before):
    _drain_listener_bus(spark)
    plans = _executions(spark)[:]
    new = plans[: max(0, len(plans) - n_before)] if plans else []
    # executionsList is oldest-first in some versions; just scan the ones
    # beyond the pre-run count regardless of ordering direction.
    new = plans[n_before:] if len(plans) > n_before else new
    offenders = [p for p in new if "BroadcastExchange" in p]
    assert not offenders, (
        f"forced broadcast found in {len(offenders)} plan(s); first:\n"
        + offenders[0][:4000]
    )


def test_over_agg_no_forced_broadcast_high_cardinality(spark, tmp_path):
    runner = TransformRunner(spark, tmp_path, queries=[(OVER_QUERY, None)])
    s1 = str(tmp_path / "in" / "s1.parquet")
    ticker_slice(
        s1,
        [
            (i, 0, ts(2), ts(1, 0, 1), f"k{i}", 1)
            for i in range(N_KEYS)
        ],
    )
    # Run 1 populates a 100k-key accumulator table.
    runner.run([_input(s1, ts(1, 0, 30))], system_time=ts(2))

    # Run 2 joins the 100k-key accumulator state with the new slice; with
    # auto-broadcast off, the plan must contain no BroadcastExchange.
    s2 = str(tmp_path / "in" / "s2.parquet")
    ticker_slice(
        s2,
        [
            (N_KEYS + i, 0, ts(3), ts(1, 0, 40), f"k{i}", 2)
            for i in range(N_KEYS)
        ],
    )
    with _no_auto_broadcast(spark):
        _drain_listener_bus(spark)
        n_before = len(_executions(spark))
        resp, out = runner.run([_input(s2, ts(1, 1, 0))], system_time=ts(3))
        _assert_no_broadcast(spark, n_before)

    # Cross-run accumulator correctness at this cardinality: every key's
    # second row sums run-1 state (1) with the new price (2).
    table = pq.read_table(out)
    assert table.num_rows == N_KEYS
    assert set(table.column("run_sum").to_pylist()) == {3}


def test_match_recognize_no_forced_broadcast_high_cardinality(spark, tmp_path):
    runner = TransformRunner(spark, tmp_path, queries=[(MR_QUERY, None)])
    s1 = str(tmp_path / "in" / "s1.parquet")
    # Run 1: one A row per key -> 100k open partial matches (markers state).
    ticker_slice(
        s1,
        [(i, 0, ts(2), ts(1, 0, 1), f"k{i}", 5) for i in range(N_KEYS)],
    )
    runner.run([_input(s1, ts(1, 0, 1))], system_time=ts(2))

    # Run 2: B rows (ahead of the run-1 watermark) complete every match;
    # the buffer joins 100k-key marker/count state — no BroadcastExchange
    # allowed with auto off.
    s2 = str(tmp_path / "in" / "s2.parquet")
    ticker_slice(
        s2,
        [(N_KEYS + i, 0, ts(3), ts(1, 0, 5), f"k{i}", 200) for i in range(N_KEYS)],
    )
    with _no_auto_broadcast(spark):
        _drain_listener_bus(spark)
        n_before = len(_executions(spark))
        resp, out = runner.run([_input(s2, ts(1, 1, 0))], system_time=ts(3))
        _assert_no_broadcast(spark, n_before)

    table = pq.read_table(out)
    assert table.num_rows == N_KEYS
    assert set(table.column("a_price").to_pylist()) == {5}
    assert set(table.column("b_price").to_pylist()) == {200}


RJ_QUERY = """select
  t.event_time as event_time, t.symbol as symbol,
  t.price as t_price, q.price as q_price
from trades as t join quotes as q on t.symbol = q.symbol"""


def _two_stream_input(alias, path, watermark):
    return {
        "alias": alias,
        "data_paths": [path] if path else [],
        "schema_file": path,
        "watermark": watermark,
    }


def test_regular_join_state_probes_use_bucketed_scans(spark, tmp_path):
    """The regular join's accumulated per-side state is persisted BUCKETED
    by the join key: invocation N+1's probes must read it as a bucketed
    scan (no exchange above the state side — the full history is never
    re-shuffled), and no forced broadcast may appear either."""
    runner = TransformRunner(spark, tmp_path, queries=[(RJ_QUERY, None)])
    n = 20_000
    t1 = str(tmp_path / "in" / "t1.parquet")
    q1 = str(tmp_path / "in" / "q1.parquet")
    ticker_slice(t1, [(i, 0, ts(2), ts(1, 0, 1), f"k{i}", 1) for i in range(n)])
    ticker_slice(q1, [(i, 0, ts(2), ts(1, 0, 2), f"k{i}", 2) for i in range(n)])
    runner.run(
        [_two_stream_input("trades", t1, ts(1, 1)), _two_stream_input("quotes", q1, ts(1, 1))],
        system_time=ts(2),
    )

    t2 = str(tmp_path / "in" / "t2.parquet")
    q2 = str(tmp_path / "in" / "q2.parquet")
    ticker_slice(t2, [(n + i, 0, ts(3), ts(2, 0, 1), f"k{i}", 3) for i in range(500)])
    ticker_slice(q2, [(n + i, 0, ts(3), ts(2, 0, 2), f"k{i}", 4) for i in range(500)])
    with _no_auto_broadcast(spark):
        _drain_listener_bus(spark)
        n_before = len(_executions(spark))
        resp, out = runner.run(
            [
                _two_stream_input("trades", t2, ts(2, 1)),
                _two_stream_input("quotes", q2, ts(2, 1)),
            ],
            system_time=ts(3),
        )
        _assert_no_broadcast(spark, n_before)
        _drain_listener_bus(spark)
        # Scope by this test's own checkpoint path: the status store is
        # shared across the whole session and its retention cap makes
        # index-based slicing unreliable under a full-suite run.
        plans = [
            p
            for p in _executions(spark)
            if str(tmp_path) in p and "-rj-" in p
        ]
        assert plans, "no plans scanning this test's rj state were captured"
        bucketed = [p for p in plans if "Bucketed: true" in p]
        assert bucketed, "no bucketed state scan in invocation-2 plans"
        # The state side of every probe is exchange-free: the state scan
        # goes through the bucket reader (selects its buckets), not a
        # plain parquet scan re-shuffled by an Exchange.
        assert any("SelectedBucketsCount" in p for p in bucketed)

    # Pair correctness across runs: 500 new trades x old quotes +
    # new trades x new quotes + old trades x new quotes.
    table = pq.read_table(out)
    assert table.num_rows == 3 * 500


CL_ASOF_RATES = """SELECT max(event_time) as event_time,
  symbol, sum(price) as rate FROM r GROUP BY symbol"""
CL_ASOF_PROBE = """SELECT o.event_time as event_time, o.symbol as symbol,
  o.price as qty, rt.rate as rate
FROM o JOIN rates FOR SYSTEM_TIME AS OF o.event_time AS rt
ON o.symbol = rt.symbol"""


def test_changelog_asof_version_state_bucketed_no_broadcast(spark, tmp_path):
    """The changelog as-of join's version state is persisted BUCKETED by
    the primary key and carries no forced broadcast: at 20k keys the
    invocation-2 plans must read it through the bucket reader and plan
    no BroadcastExchange with the threshold disabled (the state is
    unbounded — a hard hint would be the driver-OOM scale-killer)."""
    runner = TransformRunner(
        spark, tmp_path, queries=[(CL_ASOF_RATES, "rates"), (CL_ASOF_PROBE, None)],
        temporal_tables=[("rates", "symbol")],
    )
    n = 20_000
    r1 = str(tmp_path / "in" / "r1.parquet")
    o1 = str(tmp_path / "in" / "o1.parquet")
    ticker_slice(r1, [(i, 0, ts(10), ts(1, 0, 1), f"k{i}", 1) for i in range(n)])
    ticker_slice(o1, [(i, 0, ts(10), ts(2, 0, 0), f"k{i}", 7) for i in range(200)])
    runner.run(
        [{"alias": "r", "data_paths": [r1], "schema_file": r1, "watermark": ts(3)},
         {"alias": "o", "data_paths": [o1], "schema_file": o1, "watermark": ts(3)}],
        system_time=ts(10),
    )

    r2 = str(tmp_path / "in" / "r2.parquet")
    o2 = str(tmp_path / "in" / "o2.parquet")
    ticker_slice(r2, [(n + i, 0, ts(12), ts(4, 0, 1), f"k{i}", 2) for i in range(300)])
    ticker_slice(o2, [(n + i, 0, ts(12), ts(5, 0, 0), f"k{i}", 9) for i in range(300)])
    with _no_auto_broadcast(spark):
        _drain_listener_bus(spark)
        n_before = len(_executions(spark))
        resp, out = runner.run(
            [{"alias": "r", "data_paths": [r2], "schema_file": r2, "watermark": ts(6)},
             {"alias": "o", "data_paths": [o2], "schema_file": o2, "watermark": ts(6)}],
            system_time=ts(12),
        )
        _assert_no_broadcast(spark, n_before)
        _drain_listener_bus(spark)
        plans = [
            p
            for p in _executions(spark)
            if str(tmp_path) in p and "-cl-versions" in p
        ]
        assert plans, "no plans scanning this test's version state captured"
        bucketed = [p for p in plans if "Bucketed: true" in p]
        assert bucketed, "no bucketed version-state scan in invocation-2 plans"

    table = pq.read_table(out)
    # 300 probes at day 5: 300 keys corrected to rate 3 at day 4.
    assert table.num_rows == 300
    assert {r["rate"] for r in table.to_pylist()} == {3}


SETOP_STEPS = [
    ("SELECT symbol FROM trades EXCEPT SELECT symbol FROM quotes", "sv"),
    ("SELECT cast(now() as timestamp(3)) as event_time, symbol FROM sv", None),
]


def test_setop_state_merge_is_exchange_free(spark, tmp_path):
    """The set-operation count state is persisted BUCKETED by the row
    fingerprint and the fingerprint is md5() — never NULL — so the
    touched-keys split takes the no_null_keys path (operators/base.py):
    no NULL-branch Union erasing the bucketed partitioning, and the
    invocation-2 full-outer merge must plan NO exchange on the state
    side (the accumulated tuple history is never re-shuffled; only the
    O(slice) delta side shuffles)."""
    runner = TransformRunner(spark, tmp_path, queries=SETOP_STEPS)
    n = 20_000
    t1 = str(tmp_path / "in" / "t1.parquet")
    q1 = str(tmp_path / "in" / "q1.parquet")
    ticker_slice(t1, [(i, 0, ts(2), ts(1, 0, 1), f"k{i}", 1) for i in range(n)])
    ticker_slice(q1, [(i, 0, ts(2), ts(1, 0, 2), f"k{i + n // 2}", 2) for i in range(n)])
    runner.run(
        [_two_stream_input("trades", t1, ts(1, 1)), _two_stream_input("quotes", q1, ts(1, 1))],
        system_time=ts(2),
    )

    t2 = str(tmp_path / "in" / "t2.parquet")
    q2 = str(tmp_path / "in" / "q2.parquet")
    ticker_slice(t2, [(n + i, 0, ts(3), ts(2, 0, 1), f"k{i}", 3) for i in range(500)])
    ticker_slice(q2, [(n + i, 0, ts(3), ts(2, 0, 2), f"k{i}", 4) for i in range(500)])
    with _no_auto_broadcast(spark):
        _drain_listener_bus(spark)
        n_before = len(_executions(spark))
        runner.run(
            [
                _two_stream_input("trades", t2, ts(2, 1)),
                _two_stream_input("quotes", q2, ts(2, 1)),
            ],
            system_time=ts(3),
        )
        _drain_listener_bus(spark)
        plans = [
            p
            for p in _executions(spark)
            if str(tmp_path) in p and "setop-cnt" in p
        ]
        assert plans, "no plans scanning this test's setop state captured"
        bucketed = [p for p in plans if "Bucketed: true" in p]
        assert bucketed, "no bucketed state scan in invocation-2 plans"
        # The state column is `fp`, the delta's is `__fp`: an exchange
        # keyed on the bare state column means the bucketed scan's
        # partitioning was lost (the regression no_null_keys fixed).
        offenders = [
            p for p in bucketed if "Exchange hashpartitioning(fp#" in p
        ]
        assert not offenders, (
            "state side of the setop merge re-shuffled:\n"
            + offenders[0][:3000]
        )


def _emission_plans(monkeypatch):
    """Physical plan of each output frame the transform hands the sink."""
    import kamu_engine_flink_spark.engine.transform as T

    plans = []
    real = T.write_single_parquet

    def spy(df, path, **kw):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df, path, **kw)

    monkeypatch.setattr(T, "write_single_parquet", spy)
    return plans


TOPN_BY_SYMBOL = """SELECT event_time, symbol, price, place FROM (
  SELECT event_time, symbol, price,
    row_number() OVER (PARTITION BY symbol ORDER BY price DESC) AS place
  FROM tickers
) WHERE place <= 2"""


def test_ordered_map_emission_has_no_exchange_or_sort(spark, tmp_path, monkeypatch):
    """A map over a slice whose offsets rise in file order is numbered by
    position: no Exchange, no Sort, no Window in the output plan. Top-N
    and join emissions keep the single-partition exchange and the sort
    that order them."""
    plans = _emission_plans(monkeypatch)
    rows = [(i, 0, ts(2), ts(1, 0, 1), f"k{i % 50}", i) for i in range(2000)]
    s1 = str(tmp_path / "in" / "s1.parquet")
    ticker_slice(s1, rows)
    inp = {"alias": "tickers", "data_paths": [s1], "schema_file": s1,
           "watermark": ts(1, 1)}
    for name, query in (
        ("map", "SELECT event_time, symbol, price FROM tickers WHERE price > 10"),
        ("topn", TOPN_BY_SYMBOL),
    ):
        (tmp_path / name).mkdir()
        TransformRunner(spark, tmp_path / name, queries=[(query, None)]).run(
            [inp], system_time=ts(2)
        )
    (tmp_path / "rj").mkdir()
    t1 = str(tmp_path / "in" / "t1.parquet")
    ticker_slice(t1, rows[:300])
    TransformRunner(spark, tmp_path / "rj", queries=[(RJ_QUERY, None)]).run(
        [_two_stream_input("trades", t1, ts(1, 1)),
         _two_stream_input("quotes", s1, ts(1, 1))],
        system_time=ts(2),
    )
    map_plan, topn_plan, join_plan = plans
    for node in ("Exchange", "Sort", "Window"):
        assert node not in map_plan, map_plan
    for plan in (topn_plan, join_plan):
        assert "Exchange SinglePartition" in plan, plan
        assert "Sort [" in plan, plan
