"""Per-key Top-N / streaming-deduplication changelog parity.

The reference delegates every SQL step to Flink's planner
(TransformEngine.scala:252-262), whose rank operator accepts PARTITION BY
(the N=1 form is Flink's documented Deduplication pattern). These scenarios
extend the global changelog contract pinned by EngineTopNTest.scala:22-155
per key: corrections emit immediately per input record, ascending place
order within a record, interleaved across keys by ledger-offset order.
"""

from datetime import timezone

import pyarrow.parquet as pq

from kamu_engine_flink_spark.protocol.model import DatasetVocabulary

from .helpers import TransformRunner, ts
from .test_topn import match_scores_slice

KEYED_TOPN_QUERY = """select
  cast(now() as timestamp(3)) as placed_at,
  *
from (
  select
    row_number() over (partition by player_name order by score desc) AS place,
    match_time,
    player_name,
    score
  from match_scores
) where place <= 2"""

DEDUP_LAST_QUERY = """select
  cast(now() as timestamp(3)) as placed_at,
  *
from (
  select
    row_number() over (partition by player_name order by match_time desc) AS place,
    match_time,
    player_name,
    score
  from match_scores
) where place = 1"""


def _read_rows(out):
    table = pq.read_table(out)
    return [
        (
            r["offset"],
            r["op"],
            r["place"],
            r["match_time"].replace(tzinfo=timezone.utc),
            r["player_name"],
            r["score"],
        )
        for r in table.to_pylist()
    ]


def _runner(spark, tmp_path, query):
    return TransformRunner(
        spark,
        tmp_path,
        queries=[(query, None)],
        vocab=DatasetVocabulary(event_time_column="placed_at"),
    )


def _input(path, watermark):
    return {
        "alias": "match_scores",
        "data_paths": [path] if path else [],
        "schema_file": path,
        "watermark": watermark,
        "vocab": DatasetVocabulary(event_time_column="match_time"),
    }


def test_keyed_topn_changelog_and_resume(spark, tmp_path):
    runner = _runner(spark, tmp_path, KEYED_TOPN_QUERY)
    s1 = str(tmp_path / "in" / "s1.parquet")
    match_scores_slice(
        s1,
        [
            (0, 0, ts(5), ts(1), "Alice", 100),
            (1, 0, ts(5), ts(1), "Bob", 80),
            (2, 0, ts(5), ts(2), "Alice", 70),
            (3, 0, ts(5), ts(2), "Bob", 90),
            (4, 0, ts(5), ts(3), "Alice", 95),
            (5, 0, ts(5), ts(3), "Charlie", 50),
        ],
    )
    resp, out = runner.run([_input(s1, ts(3))], system_time=ts(10))
    assert (resp.new_offset_interval.start, resp.new_offset_interval.end) == (0, 8)
    # Hand-derived golden changelog: per-record corrections within each
    # key's ranking, global order = (triggering offset, place, 2-before-3).
    assert _read_rows(out) == [
        (0, 0, 1, ts(1), "Alice", 100),
        (1, 0, 1, ts(1), "Bob", 80),
        (2, 0, 2, ts(2), "Alice", 70),
        (3, 2, 1, ts(1), "Bob", 80),
        (4, 3, 1, ts(2), "Bob", 90),
        (5, 0, 2, ts(1), "Bob", 80),
        (6, 2, 2, ts(2), "Alice", 70),
        (7, 3, 2, ts(3), "Alice", 95),
        (8, 0, 1, ts(3), "Charlie", 50),
    ]

    # Second invocation resumes per-key state from the checkpoint.
    s2 = str(tmp_path / "in" / "s2.parquet")
    match_scores_slice(
        s2,
        [
            (6, 0, ts(6), ts(4), "Bob", 85),
            (7, 0, ts(6), ts(4), "Dana", 120),
        ],
    )
    resp2, out2 = runner.run([_input(s2, ts(4))], system_time=ts(11))
    assert (resp2.new_offset_interval.start, resp2.new_offset_interval.end) == (9, 11)
    assert _read_rows(out2) == [
        (9, 2, 2, ts(1), "Bob", 80),
        (10, 3, 2, ts(4), "Bob", 85),
        (11, 0, 1, ts(4), "Dana", 120),
    ]


def test_keyed_topn_randomized_vs_simulation(spark, tmp_path):
    """2000 random rows over 20 keys through the distributed fold (with
    the partition-local prune) must produce exactly the changelog of a
    driver-side per-key simulation interleaved by ledger offset."""
    import random

    from kamu_engine_flink_spark.operators.topn import fold_records

    rng = random.Random(7)
    n, limit = 2000, 2  # KEYED_TOPN_QUERY keeps place <= 2
    rows = [
        (i, 0, ts(5), ts(1, 0, 0), f"p{rng.randrange(20)}", rng.randrange(10_000))
        for i in range(n)
    ]
    # Reference simulation: per-key running top-N, global order (seq, sub).
    rankings: dict = {}
    expected = []
    for seq, _op, _st, _et, player, score in rows:
        row = {"match_time": ts(1, 0, 0), "player_name": player, "score": score}
        ranking = rankings.setdefault(player, [])
        for gseq, sub, op, place, r in fold_records(
            ranking, [(row, seq)], [("score", True)], limit
        ):
            expected.append((op, place, r["player_name"], r["score"]))

    runner = _runner(spark, tmp_path, KEYED_TOPN_QUERY)
    s1 = str(tmp_path / "in" / "s1.parquet")
    match_scores_slice(s1, rows)
    resp, out = runner.run([_input(s1, ts(1, 0, 1))], system_time=ts(6))
    got = [(r[1], r[2], r[4], r[5]) for r in _read_rows(out)]
    assert got == expected


def test_dedup_keep_last_changelog(spark, tmp_path):
    """Flink Deduplication pattern: row_number over (partition by key order
    by event_time desc) = 1 — keep the latest row per key, correcting the
    previous winner with an op 2/3 pair."""
    runner = _runner(spark, tmp_path, DEDUP_LAST_QUERY)
    s1 = str(tmp_path / "in" / "s1.parquet")
    match_scores_slice(
        s1,
        [
            (0, 0, ts(5), ts(1), "Alice", 100),
            (1, 0, ts(5), ts(2), "Bob", 80),
            (2, 0, ts(5), ts(3), "Alice", 70),
        ],
    )
    resp, out = runner.run([_input(s1, ts(3))], system_time=ts(10))
    assert _read_rows(out) == [
        (0, 0, 1, ts(1), "Alice", 100),
        (1, 0, 1, ts(2), "Bob", 80),
        (2, 2, 1, ts(1), "Alice", 100),
        (3, 3, 1, ts(3), "Alice", 70),
    ]

    # Resume: an older event time must NOT displace the kept (latest) row;
    # a newer one must.
    s2 = str(tmp_path / "in" / "s2.parquet")
    match_scores_slice(
        s2,
        [
            (3, 0, ts(6), ts(2), "Alice", 55),  # older than kept ts(3): no-op
            (4, 0, ts(6), ts(4), "Bob", 60),  # newer than kept ts(2): corrects
        ],
    )
    resp2, out2 = runner.run([_input(s2, ts(4))], system_time=ts(11))
    assert _read_rows(out2) == [
        (4, 2, 1, ts(2), "Bob", 80),
        (5, 3, 1, ts(4), "Bob", 60),
    ]


def test_dedup_rownum_alias(spark, tmp_path):
    """Flink's documented Deduplication spelling uses `rownum` as the rank
    alias — the executor must carry the user's alias through state and the
    outer WHERE."""
    query = """select
  cast(now() as timestamp(3)) as placed_at, *
from (
  select
    row_number() over (partition by player_name order by match_time desc) AS rownum,
    match_time, player_name, score
  from match_scores
) where rownum = 1"""
    runner = _runner(spark, tmp_path, query)
    s1 = str(tmp_path / "in" / "s1.parquet")
    match_scores_slice(
        s1,
        [
            (0, 0, ts(5), ts(1), "Alice", 100),
            (1, 0, ts(5), ts(2), "Alice", 70),
        ],
    )
    resp, out = runner.run([_input(s1, ts(3))], system_time=ts(10))
    table = pq.read_table(out).to_pylist()
    assert [(r["op"], r["rownum"], r["score"]) for r in table] == [
        (0, 1, 100),
        (2, 1, 100),
        (3, 1, 70),
    ]


def test_keyed_topn_null_scores(spark, tmp_path):
    """NULL scores follow row_number's null ordering (DESC ranks nulls
    last): a null enters the ranking only while places are free, and the
    prune must pass nulls through to the fold untouched."""
    runner = _runner(spark, tmp_path, KEYED_TOPN_QUERY)
    s1 = str(tmp_path / "in" / "s1.parquet")
    match_scores_slice(
        s1,
        [
            (0, 0, ts(5), ts(1), "Alice", None),  # place 1 while empty
            (1, 0, ts(5), ts(1), "Alice", 50),  # beats null -> corrections
            (2, 0, ts(5), ts(2), "Alice", None),  # ties with null at 2: stays
        ],
    )
    resp, out = runner.run([_input(s1, ts(3))], system_time=ts(10))
    assert _read_rows(out) == [
        (0, 0, 1, ts(1), "Alice", None),
        (1, 2, 1, ts(1), "Alice", None),
        (2, 3, 1, ts(1), "Alice", 50),
        (3, 0, 2, ts(1), "Alice", None),
    ]


def test_keyed_topn_split_path_untouched_and_null_keys(spark, tmp_path):
    """Forces the touched-keys SPLIT path (state >> slice): invocation 1
    seeds thousands of keys plus a NULL-keyed group; invocation 2's tiny
    slice touches two keys and the NULL group. Untouched keys' rankings
    must survive in state byte-for-byte (proven by a later invocation that
    touches one), changelog rows must come only from touched keys, and the
    NULL group must keep exact Top-N semantics."""
    runner = _runner(spark, tmp_path, KEYED_TOPN_QUERY)
    n = 5000
    s1 = str(tmp_path / "in" / "s1.parquet")
    rows = [(i, 0, ts(5), ts(1), f"P{i:05d}", 10 + (i % 7)) for i in range(n)]
    rows.append((n, 0, ts(5), ts(1), None, 55))
    match_scores_slice(s1, rows)
    resp, out = runner.run([_input(s1, ts(3))], system_time=ts(10))
    assert pq.read_table(out).num_rows == n + 1  # every key appends place 1

    # Tiny second slice: one better score for P00001, a new key, and a
    # second NULL-keyed row that takes place 1 of the NULL group.
    s2 = str(tmp_path / "in" / "s2.parquet")
    match_scores_slice(
        s2,
        [
            (n + 1, 0, ts(6), ts(4), "P00001", 99),
            (n + 2, 0, ts(6), ts(4), "NEWKEY", 1),
            (n + 3, 0, ts(6), ts(4), None, 77),
        ],
    )
    resp2, out2 = runner.run([_input(s2, ts(4))], system_time=ts(11))
    got = _read_rows(out2)
    # Only touched keys emit: P00001 (2->place-1 correction pair... new
    # better score enters place 1 pushing old row to 2), NEWKEY (append),
    # NULL group (new place-1 row pushes 55 to place 2).
    names = {r[4] for r in got}
    assert names == {"P00001", "NEWKEY", None}
    # P00001: 99 takes place 1 (op 2/3 pair), old 10+1%7=11 re-appends
    # at place 2 — the contract pinned by the golden changelog test above.
    p1 = [r for r in got if r[4] == "P00001"]
    assert [(r[1], r[2], r[5]) for r in p1] == [(2, 1, 11), (3, 1, 99), (0, 2, 11)]
    nulls = [r for r in got if r[4] is None]
    assert [(r[1], r[2], r[5]) for r in nulls] == [(2, 1, 55), (3, 1, 77), (0, 2, 55)]

    # Third invocation touches an untouched key: its invocation-1 state
    # must still rank (old 10+2%7=12 at place 1 -> pushed to 2 by 98).
    s3 = str(tmp_path / "in" / "s3.parquet")
    match_scores_slice(s3, [(n + 4, 0, ts(7), ts(8), "P00002", 98)])
    resp3, out3 = runner.run([_input(s3, ts(8))], system_time=ts(12))
    got3 = _read_rows(out3)
    assert [(r[1], r[2], r[4], r[5]) for r in got3] == [
        (2, 1, "P00002", 12),
        (3, 1, "P00002", 98),
        (0, 2, "P00002", 12),
    ]


def test_keyed_topn_composite_order(spark, tmp_path):
    """Composite rank order per key (ORDER BY score DESC, match_time ASC):
    a score tie breaks by the earlier match, and a later-arriving
    earlier-timestamped tie corrects the place."""
    q = """select
  cast(now() as timestamp(3)) as placed_at,
  *
from (
  select
    row_number() over (partition by player_name order by score desc, match_time asc) AS place,
    match_time,
    player_name,
    score
  from match_scores
) where place <= 1"""
    runner = _runner(spark, tmp_path, q)
    s1 = str(tmp_path / "in" / "s1.parquet")
    match_scores_slice(
        s1,
        [
            (0, 0, ts(5), ts(1, 0, 5), "mira", 100),
            (1, 0, ts(5), ts(1, 0, 3), "mira", 100),  # tie, earlier: wins
            (2, 0, ts(5), ts(1, 0, 9), "mira", 100),  # tie, later: nothing
        ],
    )
    resp, out = runner.run([_input(s1, ts(1, 0, 10))], system_time=ts(5))
    rows = [(r[1], r[2], r[3]) for r in _read_rows(out)]
    assert rows == [
        (0, 1, ts(1, 0, 5)),
        (2, 1, ts(1, 0, 5)), (3, 1, ts(1, 0, 3)),
    ]


def _state_table(runner):
    """Rows of the keyed Top-N state relation in the latest checkpoint,
    sorted so runs that differ only in file layout compare equal."""
    import os

    (entry,) = [
        e for e in os.listdir(runner.prev_checkpoint)
        if e.endswith("keyed-topn-state.parquet")
    ]
    rows = pq.read_table(os.path.join(runner.prev_checkpoint, entry)).to_pylist()
    return sorted(
        rows, key=lambda r: (r["player_name"] or "", r["place"], r["score"])
    )


def test_keyed_topn_runs_straddling_arrow_batches(spark, tmp_path):
    """Key runs split across Arrow batches must fold exactly as whole runs.
    At 5 records per batch every key below (>= 20 fold rows: scores rise,
    so nearly every row enters its top-2 and survives the prune) crosses
    several batch boundaries in the grouped fold, as does the NULL-key
    group; the changelog and the saved state of two resumed invocations
    must equal the default-batch run's."""
    import random

    rng = random.Random(11)
    names = [f"p{i}" for i in range(8)] + [None]

    def rows(start, n, day):
        return [
            (start + i, 0, ts(day), ts(1, 0, 0), rng.choice(names),
             (start + i) * 3 + rng.randrange(4))
            for i in range(n)
        ]

    s1 = str(tmp_path / "in" / "s1.parquet")
    s2 = str(tmp_path / "in" / "s2.parquet")
    match_scores_slice(s1, rows(0, 240, 5))
    match_scores_slice(s2, rows(240, 120, 6))

    def chain(sub):
        runner = _runner(spark, tmp_path / sub, KEYED_TOPN_QUERY)
        outs = []
        for path, wm, st in ((s1, ts(3), ts(10)), (s2, ts(4), ts(11))):
            _resp, out = runner.run([_input(path, wm)], system_time=st)
            outs.append(_read_rows(out))
        return outs, _state_table(runner)

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default_outs, default_state = chain("default")
    spark.conf.set(conf, "5")
    try:
        small_outs, small_state = chain("small")
    finally:
        spark.conf.unset(conf)
    assert all(default_outs)
    assert small_outs == default_outs
    assert small_state == default_state
    assert len(default_state) == 2 * len(names)
