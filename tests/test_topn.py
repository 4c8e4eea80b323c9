"""Top-N changelog parity — mirrors EngineTopNTest.scala:22-155.

Covers: per-record correction pairs (op=2 CorrectFrom / op=3 CorrectTo) in
ascending place order, vocabulary override (eventTimeColumn=placed_at),
row_number tie stability, offset/op/system_time assembly.
"""

from datetime import timezone

import pyarrow as pa
import pyarrow.parquet as pq

from kamu_engine_flink_spark.protocol.model import DatasetVocabulary

from .helpers import TransformRunner, ts, write_input_slice

TOPN_QUERY = """select
  cast(now() as timestamp(3)) as placed_at,
  *
from (
  select
    row_number() over (order by score desc) AS place,
    match_time,
    player_name,
    score
  from match_scores
) where place <= 2"""


def match_scores_slice(path, rows):
    """rows: (offset, op, system_time, match_time, player_name, score)"""
    cols = list(zip(*rows))
    write_input_slice(
        path,
        {
            "offset": list(cols[0]),
            "op": list(cols[1]),
            "system_time": list(cols[2]),
            "match_time": list(cols[3]),
            "player_name": list(cols[4]),
            "score": list(cols[5]),
        },
        {
            "offset": pa.int64(),
            "op": pa.int32(),
            "system_time": pa.timestamp("ms", tz="UTC"),
            "match_time": pa.timestamp("ms", tz="UTC"),
            "player_name": pa.string(),
            "score": pa.int32(),
        },
    )


# Golden changelog from EngineTopNTest.scala:92-128 over TOPN_SLICE
# (placed_at is now()-valued and excluded from comparison, like the
# reference does): (offset, op, system_time, place, match_time,
# player_name, score).
TOPN_SLICE = [
    (0, 0, ts(5), ts(1), "Alice", 100),
    (1, 0, ts(5), ts(1), "Bob", 80),
    (2, 0, ts(5), ts(2), "Alice", 70),
    (3, 0, ts(5), ts(2), "Charlie", 90),
    (4, 0, ts(5), ts(3), "Bob", 60),
    (5, 0, ts(5), ts(3), "Charlie", 110),
]
TOPN_GOLDEN = [
    (0, 0, ts(10), 1, ts(1), "Alice", 100),
    (1, 0, ts(10), 2, ts(1), "Bob", 80),
    (2, 2, ts(10), 2, ts(1), "Bob", 80),
    (3, 3, ts(10), 2, ts(2), "Charlie", 90),
    (4, 2, ts(10), 1, ts(1), "Alice", 100),
    (5, 3, ts(10), 1, ts(3), "Charlie", 110),
    (6, 2, ts(10), 2, ts(2), "Charlie", 90),
    (7, 3, ts(10), 2, ts(1), "Alice", 100),
]


def _golden_rows(table):
    return [
        (
            r["offset"],
            r["op"],
            r["system_time"].replace(tzinfo=timezone.utc),
            r["place"],
            r["match_time"].replace(tzinfo=timezone.utc),
            r["player_name"],
            r["score"],
        )
        for r in table.to_pylist()
    ]


def _topn_run(runner, path, rows, watermark, system_time):
    match_scores_slice(path, rows)
    vocab_in = DatasetVocabulary(event_time_column="match_time")
    return runner.run(
        [
            {
                "alias": "match_scores",
                "data_paths": [path],
                "schema_file": path,
                "watermark": watermark,
                "vocab": vocab_in,
            }
        ],
        system_time=system_time,
    )


def test_topn_changelog(spark, tmp_path):
    runner = TransformRunner(
        spark,
        tmp_path,
        queries=[(TOPN_QUERY, None)],
        vocab=DatasetVocabulary(event_time_column="placed_at"),
    )
    s1 = str(tmp_path / "in" / "s1.parquet")
    resp, out = _topn_run(runner, s1, TOPN_SLICE, ts(3), ts(10))
    assert (resp.new_offset_interval.start, resp.new_offset_interval.end) == (0, 7)
    assert resp.new_watermark == ts(3)

    table = pq.read_table(out)
    assert _golden_rows(table) == TOPN_GOLDEN
    # Column order parity with the golden parquet schema.
    assert table.column_names == [
        "offset",
        "op",
        "system_time",
        "placed_at",
        "place",
        "match_time",
        "player_name",
        "score",
    ]


# The global query resumed after TOPN_SLICE, over top-2 (Charlie 110,
# Alice 100): Dana 105 takes place 2, Eve 50 changes nothing, Finn 120
# takes place 1 and pushes Charlie down to place 2.
TOPN_RESUME_SLICE = [
    (6, 0, ts(6), ts(4), "Dana", 105),
    (7, 0, ts(6), ts(4), "Eve", 50),
    (8, 0, ts(6), ts(4), "Finn", 120),
]
TOPN_RESUME_GOLDEN = [
    (8, 2, ts(11), 2, ts(1), "Alice", 100),
    (9, 3, ts(11), 2, ts(4), "Dana", 105),
    (10, 2, ts(11), 1, ts(3), "Charlie", 110),
    (11, 3, ts(11), 1, ts(4), "Finn", 120),
    (12, 2, ts(11), 2, ts(4), "Dana", 105),
    (13, 3, ts(11), 2, ts(3), "Charlie", 110),
]
# (offset interval, changelog) of the two invocations.
TOPN_RUNS = [((0, 7), TOPN_GOLDEN), ((8, 13), TOPN_RESUME_GOLDEN)]


def global_topn_runs(spark, base, query, before_run=None):
    """Run `query` over TOPN_SLICE, then resumed over TOPN_RESUME_SLICE;
    return each invocation's (offset interval, changelog) like TOPN_RUNS.
    `before_run(i)` is called before invocation i."""
    runner = TransformRunner(
        spark,
        base,
        queries=[(query, None)],
        vocab=DatasetVocabulary(event_time_column="placed_at"),
    )
    runs = []
    for i, (rows, watermark, system_time) in enumerate(
        [(TOPN_SLICE, ts(3), ts(10)), (TOPN_RESUME_SLICE, ts(4), ts(11))]
    ):
        if before_run is not None:
            before_run(i)
        resp, out = _topn_run(
            runner, str(base / "in" / f"s{i}.parquet"), rows, watermark, system_time
        )
        oi = resp.new_offset_interval
        runs.append(((oi.start, oi.end), _golden_rows(pq.read_table(out))))
    return runs


def test_global_topn_runs_no_count(spark, tmp_path, monkeypatch):
    """The global fold is materialized by its pin alone, like the keyed
    one: two resumed global Top-N invocations call DataFrame.count()
    nowhere, the fold receives each of its input rows once per
    invocation, and the changelogs are the golden one and its resumed
    continuation."""
    import json
    import uuid

    from kamu_engine_flink_spark.operators import topn

    # Patch the class the session actually returns (see
    # test_dense_stamp.test_dense_chain_skips_gate_count).
    CDF = type(spark.range(1))
    counts = []
    real_count = CDF.count

    def spy(self):
        counts.append(1)
        return real_count(self)

    monkeypatch.setattr(CDF, "count", spy)

    # The fold runs in Python workers: each call writes the rows it
    # received to a file in the current invocation's directory.
    real_make = topn.make_batch_fold
    fold_dirs = [tmp_path / "fold" / str(i) for i in range(2)]
    current = []

    def recording_make(*args):
        fold, out_dir = real_make(*args), str(current[-1])

        def recording_fold(pdf, starts):
            rows = [[str(v) for v in r] for r in pdf.itertuples(index=False)]
            path = f"{out_dir}/{uuid.uuid4().hex}.json"
            with open(path, "w") as f:
                json.dump(rows, f)
            return fold(pdf, starts)

        return recording_fold

    def before_run(i):
        fold_dirs[i].mkdir(parents=True)
        current.append(fold_dirs[i])

    monkeypatch.setattr(topn, "make_batch_fold", recording_make)
    assert global_topn_runs(spark, tmp_path, TOPN_QUERY, before_run) == TOPN_RUNS
    assert not counts, "a global Top-N invocation must not call count()"
    for d in fold_dirs:
        received = [
            tuple(r) for p in d.iterdir() for r in json.loads(p.read_text())
        ]
        assert received, d
        assert len(received) == len(set(received)), f"a row was folded twice: {d}"


def test_partition_prune_keeps_all_global_enterers(spark):
    """The partition-local prune may only drop rows that can never enter
    the global running top-N (processed in __seq order). Randomized input
    across several partitions; the global enterer set is computed by a
    reference fold."""
    import random

    from pyspark.sql.types import LongType, DoubleType, StructField, StructType

    from kamu_engine_flink_spark.operators.topn import _prune_partition_local

    rng = random.Random(7)
    rows = [(i, rng.uniform(0, 100)) for i in range(500)]
    schema = StructType(
        [StructField("__seq", LongType()), StructField("score", DoubleType())]
    )
    df = spark.createDataFrame(rows, schema).repartition(8)

    for descending, limit in ((True, 3), (False, 5)):
        # Reference: which rows enter the running top-N globally?
        ranking = []
        enterers = set()
        for seq, v in rows:
            pos = 0
            for i, ev in enumerate(ranking):
                beats = (v > ev) if descending else (v < ev)
                if beats:
                    pos = i
                    break
                pos = i + 1
            if pos < limit:
                enterers.add(seq)
                ranking.insert(pos, v)
                del ranking[limit:]
        survived = {
            r["__seq"]
            for r in _prune_partition_local(df, [("score", descending)], limit).collect()
        }
        assert enterers <= survived, (descending, limit, enterers - survived)
        assert len(survived) < len(rows)  # it actually prunes


def test_partition_prune_ascending_strings_is_bounded(spark):
    """ORDER BY <string> ASC Top-N must still prune partition-locally (the
    round-1 implementation fell back to collecting every candidate for
    ascending non-numeric order columns — a driver OOM at scale). 100k rows
    across 16 partitions: the prune must keep the true enterer set and cut
    the collect volume by orders of magnitude."""
    import random

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from kamu_engine_flink_spark.operators.topn import _prune_partition_local

    rng = random.Random(13)
    rows = [(i, f"w{rng.randrange(10**9):09d}") for i in range(100_000)]
    schema = StructType(
        [StructField("__seq", LongType()), StructField("word", StringType())]
    )
    df = spark.createDataFrame(rows, schema).repartition(16)

    limit = 5
    ranking: list[str] = []
    enterers = set()
    for seq, v in rows:
        pos = 0
        for i, ev in enumerate(ranking):
            if v < ev:
                pos = i
                break
            pos = i + 1
        if pos < limit:
            enterers.add(seq)
            ranking.insert(pos, v)
            del ranking[limit:]

    survived = [
        r["__seq"] for r in _prune_partition_local(df, [("word", False)], limit).collect()
    ]
    assert enterers <= set(survived)
    # ~limit * ln(rows/partition) expected survivors per partition; 2000 is
    # a generous ceiling that still proves the collect is bounded.
    assert len(survived) < 2000, len(survived)


def test_partition_prune_null_scores_pass_through(spark):
    """Null scores in a nullable numeric column arrive in Arrow batches as
    NaN; they must pass through the prune (never entering the running list,
    never corrupting it) so the driver fold applies exact null ordering."""
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from kamu_engine_flink_spark.operators.topn import _prune_partition_local

    rows = [(i, None if i % 3 == 0 else float(i % 50)) for i in range(300)]
    schema = StructType(
        [StructField("__seq", LongType()), StructField("score", DoubleType())]
    )
    df = spark.createDataFrame(rows, schema).repartition(4)

    for descending in (True, False):
        survived = {
            r["__seq"]
            for r in _prune_partition_local(df, [("score", descending)], 3).collect()
        }
        null_seqs = {i for i in range(300) if i % 3 == 0}
        assert null_seqs <= survived  # nulls always reach the driver fold
        # Non-null pruning still works around the NaN rows.
        assert len(survived) < 300


def test_topn_composite_order(spark, tmp_path):
    """Multi-column rank order (Flink parity: ORDER BY score DESC,
    player_name ASC): score ties break by name, and a later-arriving
    name-tie winner corrects the place."""
    q = """select
  cast(now() as timestamp(3)) as placed_at,
  *
from (
  select
    row_number() over (order by score desc, player_name asc) AS place,
    match_time,
    player_name,
    score
  from match_scores
) where place <= 2"""
    runner = TransformRunner(
        spark, tmp_path, queries=[(q, None)],
        vocab=DatasetVocabulary(event_time_column="placed_at"),
    )
    s1 = str(tmp_path / "in" / "s1.parquet")
    match_scores_slice(
        s1,
        [
            (0, 0, ts(2), ts(1, 0, 1), "mira", 100),
            (1, 0, ts(2), ts(1, 0, 2), "zoe", 100),   # tie: mira < zoe
            (2, 0, ts(2), ts(1, 0, 3), "anya", 100),  # tie: anya beats both
        ],
    )
    resp, out = runner.run(
        [{"alias": "match_scores", "data_paths": [s1], "schema_file": s1,
          "watermark": ts(1, 1, 0)}],
        system_time=ts(2),
    )
    rows = [
        (r["op"], r["place"], r["player_name"])
        for r in pq.read_table(out).to_pylist()
    ]
    # mira enters p1; zoe enters p2 (name-tiebreak after mira); anya's
    # smaller name takes p1, pushing mira to p2 and zoe out.
    assert rows == [
        (0, 1, "mira"),
        (0, 2, "zoe"),
        (2, 1, "mira"), (3, 1, "anya"),
        (2, 2, "zoe"), (3, 2, "mira"),
    ]
