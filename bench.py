"""Headline benchmark: runs representative engine queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is fully materialized with a noop sink (no driver collect, no
disk write skew) so the number measures the distributed plan, not the
driver. Spark/JVM warmup is paid once by a throwaway scan, like a real
cluster's warm executors. Every entry is timed REPS times and reported as
the median — single-shot numbers on a shared 32-core box are ±20% noisy,
which makes round-over-round regression calls unreliable. Entries whose
median lands under 1 s get extra reps (SUBSEC_REPS total): 3-rep medians
with a cold first rep cannot resolve sub-second deltas.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
SUBSEC_REPS = max(REPS, int(os.environ.get("SPARK_GRAFT_BENCH_SUBSEC_REPS", "5")))


def _median_runs(run_once) -> tuple[float, list[float]]:
    """REPS timed runs, extended to SUBSEC_REPS when the median lands under
    1 s: at n=3 with a cold first rep, sub-second medians cannot resolve
    round-over-round deltas (first-rep spreads up to 3.5x were adjudicated
    as phantom regressions three rounds running) — extra reps are cheap
    exactly where they are needed."""
    runs = [run_once() for _ in range(REPS)]
    while statistics.median(runs) < 1.0 and len(runs) < SUBSEC_REPS:
        runs.append(run_once())
    return round(statistics.median(runs), 3), [round(r, 3) for r in runs]

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from kamu_engine_flink_spark.session import engine_session

# Mechanical regression tripwires: every stress_*/stamp_* entry (plus the
# historically noisy dedup_minhash) carries a pin; the bench reports
# hit/miss per pin in BENCH_DETAIL.json["pins"] and a pins_missed list in
# the compact final line. Pins are set from ISOLATED-warm baselines
# (dedicated session, n>=3 warm, cold rep dropped) plus full-session
# headroom — the aged-JVM full bench runs ~10-25% above isolated on these
# (two-regime protocol; see the hygiene note below and bench.py:832-838
# CPU-steal caveat). A MISS means: re-measure in a dedicated session
# before calling a regression; only an isolated-warm median above the pin
# is real.
PINS = {
    # long-standing pins (rounds 8-10, comments at the entry sites)
    "dedup_minhash_documents": 3.2,
    "stress_match_recognize_x10_3inv": 8.5,
    "stress_changelog_topn_x10_3inv": 8.5,
    "stress_changelog_stamp_x10_3inv": 5.5,
    "stress_changelog_asof_x10_3inv": 10.5,
    "stress_setop_except_x10_3inv": 8.5,
    # round-11 idle-box baselines (2026-08-16, dedicated session, n=4,
    # cold dropped; /tmp/idlebox_r11 protocol — warm medians quoted):
    "stress_interval_join_x10_3inv": 5.5,   # warm 4.05 (r10 full 3.51)
    "stress_full_join_x10_3inv": 12.0,      # warm 8.90 (r10 full 10.33)
    "stress_keyed_topn_x10_3inv": 9.5,      # warm 6.56 (r10 full 7.91)
    # Round-13 idle-box adjudication (2026-08-17, dedicated session,
    # n=5, cold dropped) of the two round-12 drifters — both clean in
    # isolation, so the round-12 full-session numbers were aging, not
    # regressions, per the MISS protocol:
    #   over_agg   r12 full 6.41 -> idle warm median 4.64 (r11 idle
    #              4.72 — unchanged); pin 7.0 keeps 34% isolated headroom.
    #   minhash_cluster r12 full 10.29 -> idle warm median 7.95 (r11
    #              idle 7.40, +7% same-code creep, floor 7.81); pin 11.0
    #              keeps 28% isolated headroom — re-adjudicate if the
    #              idle warm median ever exceeds ~9.
    "stress_over_agg_x10_3inv": 7.0,        # r13 idle warm 4.64
    "stress_minhash_cluster_x10": 11.0,     # r13 idle warm 7.95
    # dedup_minhash_fast grew its oracle law row in round 12 (0.30 ->
    # 1.92 by design: the entry now runs the full numpy MinHash+LSH
    # pipeline over corpus + 25 planted duplicates). Round-13 idle-box
    # baseline (2026-08-17, dedicated session, n=5, cold dropped): warm
    # median 2.02, floor 1.75; full-session runs ~10-25% above isolated.
    "dedup_minhash_fast": 3.0,              # r13 idle warm 2.02
    # 2M-row emission stamp (serial window + dense output path); the pin
    # covers full-session aging.
    "stamp_2m_gate_default": 10.5,          # warm 6.98 (r10 full 9.58)
    # Suite-total tripwire (round-11 verdict ask #5; renamed from
    # headline_queries_total per ADVICE r12 — the sum spans EVERY timed
    # entry, headline + odf_transform + stress/stamp, and the name now
    # says so): the per-entry pins cover stress/stamp/dedup_minhash, but
    # the round-10 slip showed the sub-second odf_transform cluster
    # drifts in concert — this single fleet-wide pin catches that
    # mechanically. Round-10 full-session total 131.7, round-11 full-
    # session 121.6, round-12 126.7 (all ~60 entries); isolated-warm
    # would run ~10-25% under full-session. Same MISS protocol as every
    # pin: re-measure isolated before calling a regression.
    "suite_total": 150.0,                   # r11 full 121.6, r10 131.7
}

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_unshipped",
    "q5_supplier_volume",
    "q6_forecast_revenue",
    "window_tumbling_daily",
    "topn_orders_per_customer",
    "semi_join_returned_orders",
    "cube_orders_status_priority",
    "q7_nation_trade",
    "q9_product_profit",
    "q18_large_orders",
    "q21_waiting_suppliers",
    "asof_join_purchase_value",
    "interval_join_clicks",
    "dedup_exact_documents",
    # PIN: <= 3.2 s full-session. Round-10 idle-box re-baseline
    # (dedicated session, n=7, 2026-08-16) after the round-9 full-bench
    # slip to 3.41: warm median 2.60, floor 2.38 — vs round-8's 2.13.
    # Code untouched both rounds (git confirms); the ~0.5 s drift is
    # environmental (the 3-exchange banded-LSH plan is unchanged in
    # PLANS.md). Above 3.2 isolated-warm is a real regression.
    "dedup_minhash_documents",  # portable md5 family (oracle-checkable)
    "dedup_minhash_fast",  # numpy rolling-hash family (throughput path)
    "text_analysis_documents",
    "similarity_cosine_topk",
    "semantic_dedup_embeddings",
    "duplicate_ngram_spans_documents",
    "training_shards_documents",
    "bigram_lm_score_documents",
    "dedup_segments_documents",
    "over_agg_forward_window_events",
    "setop_except_changelog_users",  # stateful streaming EXCEPT changelog
    "odf_transform_unnest_tags",  # UNNEST -> LATERAL VIEW dialect path
]


MAP_SQL = "SELECT event_time, user_id, event_type, value * 2 as value2 FROM events"
DISTINCT_SQL = "SELECT DISTINCT event_time, user_id, event_type FROM events"
AGG_SQL = """SELECT
  TUMBLE_START(event_time, INTERVAL '1' DAY) as event_time,
  event_type,
  count(*) as n_events,
  sum(value) as sum_value
FROM events GROUP BY TUMBLE(event_time, INTERVAL '1' DAY), event_type"""
HOP_SQL = """SELECT
  HOP_START(event_time, INTERVAL '1' HOUR, INTERVAL '2' HOUR) as event_time,
  event_type,
  count(*) as n_events,
  sum(value) as sum_value
FROM events GROUP BY HOP(event_time, INTERVAL '1' HOUR, INTERVAL '2' HOUR), event_type"""
CUMULATE_SQL = """SELECT
  CUMULATE_END(event_time, INTERVAL '1' HOUR, INTERVAL '6' HOUR) as event_time,
  event_type,
  count(*) as n_events,
  avg(value) as avg_value
FROM events GROUP BY CUMULATE(event_time, INTERVAL '1' HOUR, INTERVAL '6' HOUR), event_type"""
# Flink's continuous (unbounded) aggregation: per-key accumulators with
# op 0/2/3 correction changelog output.
UNBOUNDED_AGG_SQL = """SELECT
  cast(now() as timestamp(3)) as event_time,
  user_id,
  count(*) as n_events,
  sum(value) as total_value,
  avg(value) as mean_value
FROM events GROUP BY user_id"""
TOPN_SQL = """SELECT * FROM (
  SELECT
    row_number() OVER (ORDER BY value DESC) AS place,
    event_time, user_id, event_type, value
  FROM events
) WHERE place <= 100"""
KEYED_TOPN_SQL = """SELECT * FROM (
  SELECT
    row_number() OVER (PARTITION BY user_id ORDER BY value DESC) AS place,
    event_time, user_id, event_type, value
  FROM events
) WHERE place <= 3"""
OVER_AGG_SQL = """SELECT
  event_time, user_id, value,
  sum(value) over (partition by user_id order by event_time
    range between interval '2' hour preceding and current row) as roll_sum,
  count(*) over (partition by user_id order by event_time
    range between interval '2' hour preceding and current row) as roll_cnt
FROM events"""
MATCH_RECOGNIZE_SQL = """select * from events
MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY event_time
  MEASURES
    A.event_time AS dip_time,
    LAST(C.event_time) AS event_time,
    COUNT(B.*) AS n_mid,
    A.value AS dip_value,
    C.value AS spike_value
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (A B* C)
  DEFINE
    A AS A.value < 2,
    B AS B.value >= 2 AND B.value <= 100,
    C AS C.value > 100
)"""
# Flink's REGULAR (unbounded) stream join: full-history pairing, both
# sides buffered forever. ~1.6M pair rows at sf0.1 — the cost is
# dominated by the single-file ODF sink contract, not the join.
REGULAR_JOIN_SQL = """SELECT
  p.event_time as event_time,
  p.user_id as user_id,
  p.value as purchase_value,
  c.value as click_value
FROM purchases as p
JOIN clicks as c
ON p.user_id = c.user_id"""
FULL_JOIN_SQL = """SELECT
  coalesce(p.event_time, c.event_time) as event_time,
  coalesce(p.user_id, c.user_id) as user_id,
  p.value as purchase_value,
  c.value as click_value
FROM purchases as p
FULL JOIN clicks as c
ON p.user_id = c.user_id"""
JOIN_SQL = """SELECT
  p.event_time as event_time,
  p.user_id as user_id,
  p.value as purchase_value,
  COALESCE(c.value, 0) as click_value
FROM purchases as p
LEFT JOIN clicks as c
ON
  p.user_id = c.user_id
  AND c.event_time BETWEEN p.event_time AND p.event_time + INTERVAL '1' HOUR"""
# The reference's 3-step join -> window-agg -> filter pipeline shape
# (EngineJoinStreamToStreamTest.scala:355-470 "tricky"): a stateful
# interval join feeding a stateful tumbling aggregation feeding a filter,
# all in one invocation.
WINDOW_JOIN_SQL = """SELECT
  L.window_start as event_time,
  L.user_id as user_id,
  L.value as purchase_value,
  R.value as click_value
FROM TABLE(TUMBLE(TABLE purchases, DESCRIPTOR(event_time), INTERVAL '1' DAY)) L
JOIN TABLE(TUMBLE(TABLE clicks, DESCRIPTOR(event_time), INTERVAL '1' DAY)) R
ON L.window_start = R.window_start AND L.user_id = R.user_id"""
MULTI_JOIN_SQL = """SELECT
  p.event_time as event_time,
  p.user_id as user_id,
  p.value as purchase_value,
  c.value as click_value,
  s.value as signup_value
FROM purchases AS p
JOIN clicks AS c ON p.user_id = c.user_id
JOIN signups AS s ON p.user_id = s.user_id"""
CHAINED_STEPS = [
    ("purchase_clicks", JOIN_SQL),
    (
        "daily_stats",
        """SELECT
  TUMBLE_START(event_time, INTERVAL '1' DAY) as event_time,
  user_id,
  count(*) as n_rows,
  sum(purchase_value) as purchase_total,
  sum(click_value) as click_total
FROM purchase_clicks
GROUP BY TUMBLE(event_time, INTERVAL '1' DAY), user_id""",
    ),
    (None, "SELECT * FROM daily_stats WHERE click_total > purchase_total"),
]
# Retractable Top-N over an updating aggregate (Flink's
# RetractableTopNFunction shape): live per-user purchase totals ranked
# globally; the rank step consumes the agg's op 0/2/3 changelog from its
# signed row ledger.
CHANGELOG_TOPN_STEPS = [
    (
        "live_totals",
        """SELECT cast(now() as timestamp(3)) as event_time,
  user_id, count(*) as n, sum(value) as total
FROM purchases GROUP BY user_id""",
    ),
    (
        None,
        """SELECT cast(now() as timestamp(3)) as event_time, user_id, total, rnk FROM (
  SELECT user_id, total, row_number() over (order by total desc) as rnk FROM live_totals
) WHERE rnk <= 100""",
    ),
]
# Continuous agg -> plain projection: the MAP consumer makes the engine
# materialize the agg changelog's emission order (the mid-chain stamp,
# engine/transform.py) before forwarding op tags.
CHANGELOG_STAMP_STEPS = [
    (
        "live_totals",
        """SELECT cast(now() as timestamp(3)) as event_time,
  user_id, count(*) as n, sum(value) as total
FROM events GROUP BY user_id""",
    ),
    (None, "SELECT event_time, user_id, total FROM live_totals"),
]
# Temporal (as-of) join over an updating build side: a continuous
# per-user total versioned by its max(event_time) rowtime, probed by the
# click stream (changelog-maintained versioned view).
# Stateful streaming EXCEPT at scale: (user_id, value-bucket) tuples live
# while seen on purchases and never on clicks; late clicks retract. One
# union + one fingerprint groupBy + one bucketed full-outer state merge
# per invocation.
SETOP_EXCEPT_STEPS = [
    (
        "ev",
        """SELECT user_id, cast(floor(value / 10) as bigint) AS vb
FROM purchases EXCEPT SELECT user_id, cast(floor(value / 10) as bigint) AS vb FROM clicks""",
    ),
    (
        None,
        "SELECT cast(now() as timestamp(3)) as event_time, user_id, vb FROM ev",
    ),
]
# Mixed-operator set-op chain: (purchases UNION clicks) EXCEPT signups
# decomposes into a stateful UNION sub-step whose append stream feeds the
# outer EXCEPT's branch-0 counts (operators/setop_step._exec_node): two
# count states, two single-shuffle fingerprint groupBys per invocation.
SETOP_MIXED_STEPS = [
    (
        "mv",
        """SELECT user_id, cast(floor(value / 10) as bigint) AS vb FROM purchases
UNION SELECT user_id, cast(floor(value / 10) as bigint) AS vb FROM clicks
EXCEPT SELECT user_id, cast(floor(value / 10) as bigint) AS vb FROM signups""",
    ),
    (
        None,
        "SELECT cast(now() as timestamp(3)) as event_time, user_id, vb FROM mv",
    ),
]
CHANGELOG_ASOF_STEPS = [
    (
        "rates",
        """SELECT max(event_time) as event_time,
  user_id, sum(value) as rate FROM purchases GROUP BY user_id""",
    ),
    (
        None,
        """SELECT c.event_time as event_time, c.user_id as user_id,
  c.value as qty, rt.rate as rate
FROM clicks AS c JOIN rates FOR SYSTEM_TIME AS OF c.event_time AS rt
ON c.user_id = rt.user_id""",
    ),
]
# Retraction-aware DISTINCT over a LEFT-join changelog: per-value count
# state keyed by the row fingerprint.
CHANGELOG_DISTINCT_STEPS = [
    (
        "pc",
        """SELECT p.event_time as event_time, p.user_id as user_id,
  p.value as purchase_value, c.value as click_value
FROM purchases as p LEFT JOIN clicks as c ON p.user_id = c.user_id""",
    ),
    ("d", "SELECT DISTINCT user_id, click_value FROM pc"),
    (
        None,
        "SELECT cast(now() as timestamp(3)) as event_time, user_id, click_value FROM d",
    ),
]


def _odf_ledger(
    spark, sf_dir: str, workdir: str, name: str = "events",
    event_type: str | None = None, user_mod: int | None = None,
):
    """events.parquet as an ODF ledger (system columns added) — prep cost
    excluded from timings, like the reference's test fixtures. With
    `event_type`, only that slice of the stream (a second input for the
    join surfaces); `user_mod` keeps every user_mod-th user (the 3-way
    join's triple count grows cubically in per-user event counts)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kamu_engine_flink_spark.sinks.parquet import write_single_parquet

    path = os.path.join(workdir, f"{name}_ledger.parquet")
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    if event_type is not None:
        e = e.filter(F.col("event_type") == event_type)
    if user_mod is not None:
        e = e.filter(F.col("user_id") % user_mod == 0)
    df = (
        e.select(
            F.col("ts").alias("event_time"), "user_id", "event_type", "value"
        )
        .withColumn("offset", F.row_number().over(Window.orderBy("event_time", "user_id")) - 1)
        .withColumn("op", F.lit(0).cast("int"))
        .withColumn("system_time", F.to_timestamp(F.lit("2020-01-01 00:00:00")))
        .select("offset", "op", "system_time", "event_time", "user_id", "event_type", "value")
    )
    write_single_parquet(df, path, sorted_single=False)
    wm = spark.read.parquet(path).agg({"event_time": "max"}).collect()[0][0]
    return path, wm


def _time_transform(spark, inputs, sql, workdir: str, tag: str,
                    temporal_tables=()) -> float:
    """One full ODF transform invocation (the reference's primary surface):
    slice read, dialect rewrite, stateful executor, offset stamp,
    single-file write, state persist. `inputs`: [(alias, ledger_path, wm)];
    `sql` is one query string or a list of (alias, sql) steps;
    `temporal_tables`: (name, pk) pairs."""
    from datetime import timezone

    from kamu_engine_flink_spark.engine.transform import execute_transform
    from kamu_engine_flink_spark.protocol.model import (
        DatasetVocabulary,
        SqlQueryStep,
        TemporalTable,
        Transform,
        TransformRequest,
        TransformRequestInput,
        Watermark,
    )

    def _utc(w):
        return w.replace(tzinfo=timezone.utc) if w.tzinfo is None else w

    steps = (
        [SqlQueryStep(query=sql)]
        if isinstance(sql, str)
        else [SqlQueryStep(query=q, alias=a) for (a, q) in sql]
    )
    st = max(_utc(wm) for (_, _, wm) in inputs)
    req = TransformRequest(
        transform=Transform(
            queries=steps,
            temporal_tables=[
                TemporalTable(name=n, primary_key=[pk])
                for n, pk in temporal_tables
            ],
        ),
        query_inputs=[
            TransformRequestInput(
                query_alias=alias,
                data_paths=[ledger],
                schema_file=ledger,
                vocab=DatasetVocabulary(),
                explicit_watermarks=[Watermark(system_time=st, event_time=_utc(wm))],
            )
            for (alias, ledger, wm) in inputs
        ],
        system_time=st,
        next_offset=0,
        prev_checkpoint_path=None,
        new_checkpoint_path=os.path.join(workdir, f"cp-{tag}"),
        new_data_path=os.path.join(workdir, f"out-{tag}.parquet"),
        vocab=DatasetVocabulary(),
    )
    t0 = time.perf_counter()
    execute_transform(spark, req)
    return round(time.perf_counter() - t0, 3)


def _x10_sliced_ledgers(
    spark, sf_dir: str, workdir: str, name: str = "events",
    event_type: str | None = None, slices: int = 3,
):
    """10x-replicated events ledger (distinct user_id per replica -> 10x key
    cardinality) split into `slices` consecutive event-time ranges, one per
    chained invocation. Prep cost excluded from timings. Returns
    [(slice_path, slice_watermark)] in invocation order."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kamu_engine_flink_spark.sinks.parquet import write_single_parquet

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    if event_type is not None:
        e = e.filter(F.col("event_type") == event_type)
    big = (
        e.crossJoin(spark.range(10).select(F.col("id").alias("__rep")))
        .select(
            F.col("ts").alias("event_time"),
            (F.col("user_id") + F.col("__rep") * F.lit(10_000_000)).alias("user_id"),
            "event_type",
            "value",
        )
        .withColumn(
            "offset", F.row_number().over(Window.orderBy("event_time", "user_id")) - 1
        )
        .withColumn("op", F.lit(0).cast("int"))
        .withColumn("system_time", F.to_timestamp(F.lit("2020-01-01 00:00:00")))
        .select("offset", "op", "system_time", "event_time", "user_id", "event_type", "value")
    )
    lo, hi = big.agg(
        F.min("event_time").alias("lo"), F.max("event_time").alias("hi")
    ).collect()[0]
    span = (hi - lo) / slices
    out = []
    for i in range(slices):
        start = lo + span * i
        end = hi if i == slices - 1 else lo + span * (i + 1)
        cond = (F.col("event_time") >= F.lit(start)) & (
            (F.col("event_time") <= F.lit(end))
            if i == slices - 1
            else (F.col("event_time") < F.lit(end))
        )
        path = os.path.join(workdir, f"{name}_x10_s{i}.parquet")
        write_single_parquet(big.filter(cond), path, sorted_single=False)
        wm = (
            spark.read.parquet(path).agg({"event_time": "max"}).collect()[0][0]
        )
        out.append((path, wm))
    return out


def _stress_transform_x10(spark, invocations, sql, workdir: str, tag: str,
                          temporal_tables=()) -> float:
    """Chained ODF invocations over the 10x sliced ledgers: invocation i
    restores invocation i-1's checkpoint (state restore + horizon eviction
    included in the measured time, as in a real deployment). `invocations`:
    per-invocation [(alias, slice_path, wm)]. Returns total seconds across
    all invocations."""
    from datetime import timezone

    from kamu_engine_flink_spark.engine.transform import execute_transform
    from kamu_engine_flink_spark.protocol.model import (
        DatasetVocabulary,
        SqlQueryStep,
        TemporalTable,
        Transform,
        TransformRequest,
        TransformRequestInput,
        Watermark,
    )

    def _utc(w):
        return w.replace(tzinfo=timezone.utc) if w.tzinfo is None else w

    prev_cp = None
    next_offset = 0
    total = 0.0
    steps = (
        [SqlQueryStep(query=sql)]
        if isinstance(sql, str)
        else [SqlQueryStep(query=q, alias=a) for (a, q) in sql]
    )
    for inv, inputs in enumerate(invocations):
        st = max(_utc(wm) for (_, _, wm) in inputs)
        new_cp = os.path.join(workdir, f"cp-{tag}-{inv}")
        req = TransformRequest(
            transform=Transform(
                queries=steps,
                temporal_tables=[
                    TemporalTable(name=n, primary_key=[pk])
                    for n, pk in temporal_tables
                ],
            ),
            query_inputs=[
                TransformRequestInput(
                    query_alias=alias,
                    data_paths=[ledger],
                    schema_file=ledger,
                    vocab=DatasetVocabulary(),
                    explicit_watermarks=[Watermark(system_time=st, event_time=_utc(wm))],
                )
                for (alias, ledger, wm) in inputs
            ],
            system_time=st,
            next_offset=next_offset,
            prev_checkpoint_path=prev_cp,
            new_checkpoint_path=new_cp,
            new_data_path=os.path.join(workdir, f"out-{tag}-{inv}.parquet"),
            vocab=DatasetVocabulary(),
        )
        t0 = time.perf_counter()
        resp = execute_transform(spark, req)
        total += time.perf_counter() - t0
        prev_cp = new_cp
        if resp.new_offset_interval:
            next_offset = resp.new_offset_interval.end + 1
    return round(total, 3)


def _stress_dedup_cluster(spark, sf_dir: str) -> float:
    """documents x10 (distinct ids per replica) -> MinHash+LSH candidate
    pairs -> connected components -> cluster table, materialized to noop.
    The replicas are exact duplicates, so every doc lands in a >=10-node
    cluster and the pairs stage carries ~C(10,2) edges per bucket — a
    deliberate worst-ish case for the band join and the label-propagation
    rounds."""
    from pyspark.sql import functions as F

    from kamu_engine_flink_spark.operators import dedup as D
    from kamu_engine_flink_spark.operators import graph as G

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    big = (
        d.crossJoin(spark.range(10).select(F.col("id").alias("__rep")))
        .select((F.col("doc_id") + F.col("__rep") * F.lit(1_000_000)).alias("doc_id"), "text")
    )
    t0 = time.perf_counter()
    # Persist signatures so the corpus UDF pass runs once, not once per
    # band-join branch (same pattern as dedup_minhash_lsh).
    sigs = D._minhash_sigs(big, "text", "doc_id", 64, 5).persist()
    sigs.count()
    try:
        # Star linkage: connectivity-equivalent for clustering, linear in
        # bucket size — all-pairs banding on this corpus emits 8.2M pairs
        # (template clusters blow up quadratically), star emits ~500k.
        pairs = D.minhash_lsh_pairs(
            big, "text", "doc_id", num_hashes=64, bands=16, sigs=sigs, linkage="star"
        )
        out = G.dedup_clusters(big.select("doc_id"), pairs, "doc_id")
        out.write.format("noop").mode("overwrite").save()
    finally:
        sigs.unpersist()
    return round(time.perf_counter() - t0, 3)


def _recheck_missed_pins(pin_report: dict) -> dict:
    """Isolated-warm re-measure of every missed per-entry pin via
    tools/isobench.py in a SUBPROCESS (fresh JVM + session + fixtures —
    the same dedicated-session regime the pins were calibrated in; an
    in-process restart would inherit this aged JVM's heap). Returns
    {entry: {runs, warm_median, pin, hit}} (or {"error": ...} per entry
    on subprocess failure), empty when every pin hit."""
    import subprocess

    missed = [
        k for k, v in pin_report.items()
        if not v["hit"] and k != "suite_total"
    ]
    if not missed:
        return {}
    tool = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "tools", "isobench.py"
    )
    out: dict[str, dict] = {}
    try:
        proc = subprocess.run(
            [sys.executable, tool, "--json", "--reps", "4", *missed],
            capture_output=True, text=True,
            timeout=300 + 240 * len(missed),
        )
        skipped = []
        for line in proc.stdout.splitlines():
            line = line.strip()
            if not line.startswith("{"):
                continue
            # One malformed line (no entry, no warm_median, an entry not
            # in PINS, bad JSON) is skipped and recorded, never fatal.
            try:
                rec = json.loads(line)
                name = rec.pop("entry")
                pin = PINS[name]
                hit = rec["warm_median"] <= pin
            except (ValueError, KeyError, TypeError) as e:
                skipped.append(f"{type(e).__name__}: {e}: {line[:200]}")
                continue
            out[name] = {**rec, "pin": pin, "hit": hit}
        for line in skipped:
            print(f"pin_miss_recheck skipped line: {line}", file=sys.stderr)
        for name in missed:
            if name not in out:
                tail = (proc.stderr or "")[-300:]
                out[name] = {"error": f"no recheck result (rc={proc.returncode}): {tail}"}
                if skipped:
                    out[name]["skipped_lines"] = skipped
    except (OSError, subprocess.TimeoutExpired, ValueError) as e:
        for name in missed:
            out.setdefault(name, {"error": f"{type(e).__name__}: {e}"})
    for name, rec in out.items():
        print(f"pin_miss_recheck {name}: {rec}", file=sys.stderr)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = None

    spark = engine_session(app_name="kamu-engine-spark-bench")
    # Warm the JVM/codegen and the Arrow/Python-UDF worker pool once
    # (a real cluster's executors are warm); excluded from per-query timings.
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    from pyspark.sql.functions import lit

    from kamu_engine_flink_spark.functions.minhash_pandas import (
        minhash_signature_fast,
        shingle_hashes_fast,
    )

    spark.range(0, 1000, 1, 32).select(
        shingle_hashes_fast(lit("warm up text"), 3),
        minhash_signature_fast(lit("warm up text"), 64, 3),
    ).count()

    qs = entrymod.queries()
    timings: dict[str, float] = {}
    for name in HEADLINE:

        def _one(name=name):
            # Honest reps: Spark's cache manager matches identical plans
            # across reps, so a query that persists an intermediate (the
            # LSH signature tables, k-means quantized vectors) would get
            # its later reps nearly free. Clear between reps — persists
            # INSIDE a single run still work, which is the legitimate
            # pipeline-internal reuse.
            spark.catalog.clearCache()
            df = qs[name](spark, sf_dir)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        timings[name], runs = _median_runs(_one)
        print(f"{name}: {timings[name]}s (runs: {runs})", file=sys.stderr)

    # The ODF transform runner — the reference's primary surface
    # (TransformEngine.scala:64-336) — timed as full invocations. Each rep
    # uses a fresh checkpoint/output path so every run measures the same
    # first-invocation shape.
    import shutil
    import tempfile

    workdir = tempfile.mkdtemp(prefix="bench-odf-")
    try:
        ledger, wm = _odf_ledger(spark, sf_dir, workdir)
        p_ledger, p_wm = _odf_ledger(spark, sf_dir, workdir, "purchases", "purchase")
        c_ledger, c_wm = _odf_ledger(spark, sf_dir, workdir, "clicks", "click")
        mjp_ledger, mjp_wm = _odf_ledger(
            spark, sf_dir, workdir, "mj_purchases", "purchase", user_mod=17
        )
        mjc_ledger, mjc_wm = _odf_ledger(
            spark, sf_dir, workdir, "mj_clicks", "click", user_mod=17
        )
        mjs_ledger, mjs_wm = _odf_ledger(
            spark, sf_dir, workdir, "mj_signups", "signup", user_mod=17
        )
        # Round-11 idle-box adjudication of the round-10 cluster slip
        # (keyed_topn/interval_join/match_recognize 1.5-1.6x etc. in
        # untouched code): dedicated session, n=5 (4 warm), 2026-08-16 —
        # topn 2.04, keyed_topn 1.41, over_agg 0.73, match_recognize
        # 0.97, interval_join 1.58, regular_join 0.91, full_join 1.96,
        # chained 1.71, setop_mixed 2.36 — ALL back at round-9 levels;
        # the slip was session/host aging (the same protocol that
        # cleared the mirror-image round-9 cluster). These entries stay
        # unpinned: they are sub-3 s, high-variance in the full session,
        # and the stress_* section carries the mechanical tripwires.
        for tag, sql, inputs in (
            ("odf_transform_map", MAP_SQL, [("events", ledger, wm)]),
            ("odf_transform_window_agg", AGG_SQL, [("events", ledger, wm)]),
            ("odf_transform_distinct", DISTINCT_SQL, [("events", ledger, wm)]),
            ("odf_transform_hop_agg", HOP_SQL, [("events", ledger, wm)]),
            ("odf_transform_cumulate_agg", CUMULATE_SQL, [("events", ledger, wm)]),
            ("odf_transform_unbounded_agg", UNBOUNDED_AGG_SQL, [("events", ledger, wm)]),
            ("odf_transform_topn", TOPN_SQL, [("events", ledger, wm)]),
            ("odf_transform_keyed_topn", KEYED_TOPN_SQL, [("events", ledger, wm)]),
            ("odf_transform_over_agg", OVER_AGG_SQL, [("events", ledger, wm)]),
            (
                "odf_transform_match_recognize",
                MATCH_RECOGNIZE_SQL,
                [("events", ledger, wm)],
            ),
            (
                "odf_transform_interval_join",
                JOIN_SQL,
                [("purchases", p_ledger, p_wm), ("clicks", c_ledger, c_wm)],
            ),
            (
                "odf_transform_regular_join",
                REGULAR_JOIN_SQL,
                [("purchases", p_ledger, p_wm), ("clicks", c_ledger, c_wm)],
            ),
            (
                "odf_transform_full_join",
                FULL_JOIN_SQL,
                [("purchases", p_ledger, p_wm), ("clicks", c_ledger, c_wm)],
            ),
            (
                "odf_transform_chained",
                CHAINED_STEPS,
                [("purchases", p_ledger, p_wm), ("clicks", c_ledger, c_wm)],
            ),
            (
                "odf_transform_window_join",
                WINDOW_JOIN_SQL,
                [("purchases", p_ledger, p_wm), ("clicks", c_ledger, c_wm)],
            ),
            (
                "odf_transform_multi_join",
                MULTI_JOIN_SQL,
                [
                    ("purchases", mjp_ledger, mjp_wm),
                    ("clicks", mjc_ledger, mjc_wm),
                    ("signups", mjs_ledger, mjs_wm),
                ],
            ),
            # Round-10 introduction: dedicated-session n=4 warm median
            # 2.9 s (floor 2.7) — two stateful set-op nodes (inner UNION
            # sub-step + outer EXCEPT) over the three user_mod=17
            # ledgers. Above ~4.5 is a real regression.
            (
                "odf_transform_setop_mixed",
                SETOP_MIXED_STEPS,
                [
                    ("purchases", mjp_ledger, mjp_wm),
                    ("clicks", mjc_ledger, mjc_wm),
                    ("signups", mjs_ledger, mjs_wm),
                ],
            ),
            (
                "odf_transform_changelog_topn",
                CHANGELOG_TOPN_STEPS,
                [("purchases", p_ledger, p_wm)],
            ),
            (
                "odf_transform_changelog_distinct",
                CHANGELOG_DISTINCT_STEPS,
                [("purchases", p_ledger, p_wm), ("clicks", c_ledger, c_wm)],
            ),
            (
                "odf_transform_changelog_asof",
                CHANGELOG_ASOF_STEPS,
                [("purchases", p_ledger, p_wm), ("clicks", c_ledger, c_wm)],
            ),
        ):
            rep_seq = iter(range(SUBSEC_REPS))
            tts = (
                [("rates", "user_id")]
                if tag == "odf_transform_changelog_asof"
                else ()
            )
            timings[tag], runs = _median_runs(
                lambda tag=tag, sql=sql, inputs=inputs, tts=tts: _time_transform(
                    spark, inputs, sql, workdir, f"{tag}-{next(rep_seq)}",
                    temporal_tables=tts,
                )
            )
            print(f"{tag}: {timings[tag]}s (runs: {runs})", file=sys.stderr)

        # Session hygiene before EACH pinned stress rep: ~60 entries have
        # run by this point and the aged JVM heap costs the stress
        # medians ~2-3 s each vs a dedicated session (round-9 isolated
        # re-baseline: changelog Top-N 6.9 warm median vs 10.0 full-bench,
        # same code; entries LATE in the stress section re-aged past a
        # single section-entry GC — the round-9 local run measured the
        # first entries slower and a 20.9 s outlier on the last one).
        # The hygiene runs OUTSIDE the timed region (_stress_transform_x10
        # times its invocations internally).
        def _hygiene():
            spark.catalog.clearCache()
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass

        _hygiene()
        # Scale-stress: the four stateful transforms over the events ledger
        # replicated x10 (1M rows, 10x user_id cardinality) split into 3
        # chained invocations — state restore, horizon eviction, and
        # cross-invocation buffers all inside the measured time. The
        # matching state-size contracts are asserted in
        # tests/test_state_stress.py.
        ev_slices = _x10_sliced_ledgers(spark, sf_dir, workdir)
        p_slices = _x10_sliced_ledgers(spark, sf_dir, workdir, "purchases", "purchase")
        c_slices = _x10_sliced_ledgers(spark, sf_dir, workdir, "clicks", "click")
        ev_invs = [[("events", p, wm)] for (p, wm) in ev_slices]
        join_invs = [
            [("purchases", pp, pwm), ("clicks", cp, cwm)]
            for (pp, pwm), (cp, cwm) in zip(p_slices, c_slices)
        ]
        p_stress_invs = [[("purchases", pp, pwm)] for (pp, pwm) in p_slices]
        for tag, sql, invs in (
            # The four entries below gained mechanical pins in round 11
            # (PINS table at the top of this file) from idle-box
            # baselines (2026-08-16, dedicated session, n=4, cold
            # dropped): interval_join warm 4.05, full_join 8.90,
            # keyed_topn 6.56, over_agg 4.72 — after drifting +10-24% in
            # the round-10 full bench with untouched code (adjudicated
            # session aging; the same isolated protocol cleared the
            # whole odf_transform cluster this round).
            ("stress_interval_join_x10_3inv", JOIN_SQL, join_invs),
            ("stress_full_join_x10_3inv", FULL_JOIN_SQL, join_invs),
            ("stress_keyed_topn_x10_3inv", KEYED_TOPN_SQL, ev_invs),
            ("stress_over_agg_x10_3inv", OVER_AGG_SQL, ev_invs),
            # Round-9 idle-box re-baseline (dedicated session, n=3,
            # 2026-08-16): 21.7 cold, 7.44, 7.19 — median 7.44 vs
            # round-8's full-bench 8.31 and round-7's 6.34. The round-8
            # +31% was session drift (code untouched). With per-rep
            # hygiene the round-9 local full bench measured 6.14 —
            # expect ~6-7.5; above 8.5 is a real regression.
            ("stress_match_recognize_x10_3inv", MATCH_RECOGNIZE_SQL, ev_invs),
            # Retractable Top-N over an updating aggregate at 10x key
            # cardinality across 3 chained invocations: the agg's op 0/2/3
            # stream feeds the rank's signed ledger. The agg folds
            # O(touched keys); the GLOBAL rank re-nets its single group —
            # a linear scan + TakeOrdered over O(live agg keys), the same
            # order as the agg state itself (rank positions shift
            # globally, so no key restriction applies).
            # PIN: <= 8.5 s. Round-9 idle-box re-baseline (dedicated
            # session, n=6, 2026-08-16): cold 21.2, then 8.38, 6.86,
            # 6.68, 6.99, 6.69 — warm floor 6.7, warm median 6.9, SAME
            # code as round-8's 10.02 full-bench median; the gap was
            # session aging (JVM heap after ~60 prior entries). With the
            # per-rep cache/GC hygiene below, the round-9 local full
            # bench measured 5.54 (n=3 median) — full-session now tracks
            # the warm regime, so the round-8 pin of 8.5 stands.
            ("stress_changelog_topn_x10_3inv", CHANGELOG_TOPN_STEPS, p_stress_invs),
            # Mid-chain emission-order stamp under state >> slice:
            # continuous agg over the 1M-row events ledger (100k keys) ->
            # plain projection, 3 invocations; each invocation stamps the
            # ~100-200k-row correction stream with the single-partition
            # window. PIN: <= 5.5 s (round-8 measured 4.9).
            ("stress_changelog_stamp_x10_3inv", CHANGELOG_STAMP_STEPS, ev_invs),
            # Changelog as-of at state >> slice: a 100k-key continuous
            # aggregate's correction stream maintains the versioned view,
            # probed by ~200k clicks per invocation across 3 chained
            # invocations (version-state appends, probe buffering, and
            # watermark releases all in the measured time). PIN: <= 10.5 s
            # (round-8 measured 10.2 n=3 median, warm floor ~7.7).
            ("stress_changelog_asof_x10_3inv", CHANGELOG_ASOF_STEPS, join_invs),
            # Stateful EXCEPT over the 10x purchase/click ledgers (state =
            # per-tuple branch counts, bucketed by fingerprint; the merge
            # plans no state-side exchange). PIN: <= 8.5 s. Round-9
            # introduction measurements: dedicated session n=4 warm
            # median 6.5 (floor 6.0); full local bench BEFORE per-rep
            # hygiene [7.5, 10.3, 20.9] (aged-session pathology), AFTER
            # per-rep hygiene 5.65 n=3 median — the hygiene collapsed the
            # full-session/isolated gap, so one pin suffices.
            ("stress_setop_except_x10_3inv", SETOP_EXCEPT_STEPS, join_invs),
        ):
            rep_seq = iter(range(SUBSEC_REPS))
            tts = (
                [("rates", "user_id")]
                if sql is CHANGELOG_ASOF_STEPS
                else ()
            )
            def _one_stress(tag=tag, sql=sql, invs=invs, tts=tts):
                _hygiene()
                return _stress_transform_x10(
                    spark, invs, sql, workdir, f"{tag}-r{next(rep_seq)}",
                    temporal_tables=tts,
                )

            timings[tag], runs = _median_runs(_one_stress)
            print(f"{tag}: {timings[tag]}s (runs: {runs})", file=sys.stderr)

        # Emission-stamp scale entry: a ~2M-row emission (every input row
        # its own group key, events x20) feeding a projection, stamped by
        # the serial window and written through the dense output path.
        # PIN <= 10.5 (PINS table). CAUTION: a host CPU-steal window (load
        # avg << nproc during a saturating run) inflates this entry;
        # re-probe with a known entry (dedup_minhash warm ~2.5 s healthy)
        # before reading a full-bench number from such a window as real.
        from pyspark.sql import functions as BF

        from kamu_engine_flink_spark.sinks.parquet import write_single_parquet

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        big = (
            ev.crossJoin(spark.range(20).select(BF.col("id").alias("__rep")))
            .select(
                (BF.col("event_id") * 20 + BF.col("__rep")).alias("offset"),
                BF.lit(0).cast("int").alias("op"),
                BF.to_timestamp(BF.lit("2020-01-01 00:00:00")).alias(
                    "system_time"
                ),
                BF.col("ts").alias("event_time"),
                BF.concat(
                    BF.col("user_id"), BF.lit("#"), BF.col("__rep"),
                    BF.lit("#"), BF.col("event_id"),
                ).alias("k"),
                BF.floor(BF.col("value") * 100).cast("long").alias("v"),
            )
        )
        stamp_path = os.path.join(workdir, "stamp2m.parquet")
        write_single_parquet(big, stamp_path)
        stamp_wm = (
            spark.read.parquet(stamp_path).agg({"event_time": "max"}).collect()[0][0]
        )
        STAMP2M_STEPS = [
            (
                "g",
                """SELECT cast(now() as timestamp(3)) as event_time,
  k, sum(v) as s FROM a GROUP BY k""",
            ),
            (None, "SELECT event_time, k, s FROM g"),
        ]
        stamp_invs = [[("a", stamp_path, stamp_wm)]]
        tag = "stamp_2m_gate_default"
        rep_seq = iter(range(SUBSEC_REPS))
        timings[tag], runs = _median_runs(
            lambda: _stress_transform_x10(
                spark, stamp_invs, STAMP2M_STEPS, workdir,
                f"{tag}-r{next(rep_seq)}",
            )
        )
        print(f"{tag}: {timings[tag]}s (runs: {runs})", file=sys.stderr)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    # Scale-stress: the MinHash->LSH-pairs->connected-components pipeline on
    # the documents corpus replicated x10 (50k docs at sf0.1, every doc in a
    # >=10-clone duplicate cluster). Exercises the banded bucket join and the
    # label-propagation component rounds at 10x the registry size. Median of
    # REPS runs like every other entry — the multi-job iterative pipeline is
    # the noisiest number in the file. PIN: <= 11 (PINS table; round-11
    # idle-box warm median 7.40, r10 full-session 10.03).
    runs = [_stress_dedup_cluster(spark, sf_dir) for _ in range(REPS)]
    timings["stress_minhash_cluster_x10"] = round(statistics.median(runs), 3)
    print(
        f"stress_minhash_cluster_x10: {timings['stress_minhash_cluster_x10']}s"
        f" (runs: {[round(r, 3) for r in runs]})",
        file=sys.stderr,
    )

    _finish(spark, timings, sf_num)


def _finish(spark, timings: dict[str, float], sf_num) -> None:
    """Pin report, pin-miss recheck and the result JSON of a finished
    run. Stops the bench's session before the recheck starts its own."""
    total = round(sum(timings.values()), 3)
    pinnable = {**timings, "suite_total": total}
    pin_report = {
        k: {
            "pin": p,
            "value": pinnable.get(k),
            "hit": pinnable.get(k) is not None and pinnable[k] <= p,
        }
        for k, p in PINS.items()
    }
    # Self-adjudicating MISS protocol (round-13 verdict ask #2): pins are
    # calibrated from ISOLATED baselines, so a full-session miss is only a
    # real regression if it reproduces isolated-warm. On any per-entry
    # miss, re-measure that entry in a DEDICATED fresh process/session
    # (tools/isobench.py --json, n=4 reps, cold dropped, warm median) and
    # carry the verdict in the artifact itself — a degraded host window
    # (like the r13 32-core run) then ships its own exoneration or
    # conviction instead of a bare pins_missed list. suite_total is a
    # composite with no single entry to isolate; its adjudication IS the
    # per-entry rechecks. Timings above are final before this runs, so
    # the recheck cannot perturb them; the bench's own session is stopped
    # first so its JVM does not compete with the recheck's fresh one.
    spark.stop()
    pin_miss_recheck = _recheck_missed_pins(pin_report)
    detail = {
        "metric": "suite_total",
        "value": total,
        "unit": "sec",
        "n": REPS,
        "queries": timings,
        "sf": sf_num,
        "pins": pin_report,
        "pin_miss_recheck": pin_miss_recheck,
    }
    # The full per-query map (~60 keys) grew past the driver's stdout
    # tail-capture window in round 9, truncating the final JSON line and
    # leaving BENCH_r09.json with "parsed": null. Emission order now:
    # 1. the full detail JSON to BENCH_DETAIL.json (committed artifact),
    # 2. the full detail JSON as an EARLIER stdout line (human/CI view),
    # 3. the LAST stdout line a compact JSON <= ~1 KB — headline total
    #    plus only the pinned stress entries — guaranteed to survive any
    #    tail capture.
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_DETAIL.json"),
            "w",
        ) as f:
            json.dump(detail, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError as e:
        # A stale committed BENCH_DETAIL.json must be detectable: warn on
        # stderr AND flag it in the compact final line.
        detail_write_failed = f"{type(e).__name__}: {e}"
        print(
            f"WARNING: BENCH_DETAIL.json write failed ({e}) — the "
            "committed per-query artifact is STALE",
            file=sys.stderr,
        )
    else:
        detail_write_failed = None
    print(json.dumps(detail))
    pinned = {
        k: v
        for k, v in timings.items()
        if k.startswith("stress_") or k.startswith("stamp_2m_")
        or k == "q1_pricing_summary"
    }
    compact = {
        "metric": "suite_total",
        "value": total,
        "unit": "sec",
        "n": REPS,
        "sf": sf_num,
        "n_queries": len(timings),
        "queries": pinned,
        "pins_hit": sum(1 for v in pin_report.values() if v["hit"]),
        "pins_total": len(pin_report),
        "pins_missed": sorted(
            k for k, v in pin_report.items() if not v["hit"]
        ),
        "detail": "BENCH_DETAIL.json",
    }
    if pin_miss_recheck:
        # Compact form stays bounded: only missed entries appear, and the
        # rep list is dropped (full reps live in BENCH_DETAIL.json).
        compact["pin_miss_recheck"] = {
            k: {kk: vv for kk, vv in rec.items() if kk != "runs"}
            for k, rec in pin_miss_recheck.items()
        }
    if detail_write_failed:
        compact["detail_write_failed"] = detail_write_failed
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
