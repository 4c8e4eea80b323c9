"""Changelog <-> snapshot conversion operators.

The reference's data model is an ordered changelog stream: every row
carries `op` (0=append, 1=retract, 2=correct-from, 3=correct-to) and a
monotonic `offset` (SURVEY.md §1.1-1.2; reference Op.scala:5-18,
ChangelogOperator.scala:10-24). Two conversions close the loop a real
ODF deployment runs daily:

- `snapshot`: collapse a changelog into current state — the "query the
  dataset as a table" view. For each primary key, the row with the
  highest offset wins; it is present iff its op is append/correct-to
  (0/3) and absent iff retract/correct-from (1/2).
- `to_changelog`: diff two snapshots into the minimal changelog — what
  the ODF "snapshot" merge strategy computes on every ingest of a
  re-downloaded source table: new keys -> op 0, vanished keys -> op 1
  (carrying the last-known values), changed keys -> an op 2/3 pair
  (old values, then new values).

Round-trip law (tested, and used as the registry oracle): applying
`to_changelog(prev, cur)` on top of a changelog whose snapshot is
`prev` yields a changelog whose snapshot is `cur`.

100 TB shapes: `snapshot` is one hash shuffle on the primary key (the
max-offset row via a per-key window — at scale this is the standard
compaction job, and the window needs no global sort); `to_changelog` is
one co-partitioned full-outer join on the primary key — both sides
shuffle once, no broadcast of either snapshot, AQE handles skewed keys.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..protocol.model import OP_APPEND, OP_CORRECT_FROM, OP_CORRECT_TO, OP_RETRACT


def snapshot(
    df: DataFrame,
    pk_cols: Sequence[str],
    offset_col: str = "offset",
    op_col: str = "op",
) -> DataFrame:
    """Current-state view of a changelog: per primary key, the
    highest-offset row, kept only when that terminal operation leaves the
    row alive (op 0 append / 3 correct-to; 1 retract / 2 correct-from
    mean the key is gone). Output drops the changelog bookkeeping
    columns (`offset`, `op`)."""
    w = Window.partitionBy(*pk_cols).orderBy(F.col(offset_col).desc())
    out_cols = [c for c in df.columns if c not in (offset_col, op_col)]
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .filter(F.col(op_col).isin(OP_APPEND, OP_CORRECT_TO))
        .select(*out_cols)
    )


def to_changelog(
    prev: DataFrame,
    cur: DataFrame,
    pk_cols: Sequence[str],
) -> DataFrame:
    """Minimal changelog turning snapshot `prev` into snapshot `cur`
    (the ODF snapshot merge strategy): op 0 for keys only in `cur`, op 1
    for keys only in `prev` (with their last-known values), and an op
    2/3 pair for keys in both whose non-key values differ. Within a key
    the correct-from row precedes the correct-to row via `pair_ord`
    (0 before 1) — callers stamping offsets order by (pk, pair_ord).

    Both snapshots must carry the same columns. One full-outer join on
    the primary key; value comparison is null-safe per column."""
    val_cols = [c for c in cur.columns if c not in pk_cols]
    if [c for c in prev.columns if c not in pk_cols] != val_cols:
        raise ValueError("to_changelog: prev and cur must share one schema")

    # Literal presence flags, not pk IS NOT NULL: the join is null-safe
    # precisely so NULL primary keys work, and a NULL-pk row must still
    # classify as present on its side.
    c_flagged = cur.withColumn("__c_present", F.lit(True))
    p = prev.withColumn("__p_present", F.lit(True)).select(
        *[F.col(c).alias(f"__p_{c}") for c in prev.columns], "__p_present"
    )
    join_cond = None
    for k in pk_cols:
        c = F.col(f"__p_{k}").eqNullSafe(F.col(k))
        join_cond = c if join_cond is None else (join_cond & c)
    joined = c_flagged.join(p, join_cond, "full_outer")

    in_cur = F.col("__c_present").isNotNull()
    in_prev = F.col("__p_present").isNotNull()
    changed = F.lit(False)
    for c in val_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.col(f"__p_{c}"))

    def _emit(op: int, from_prev: bool, pair_ord: int):
        return F.struct(
            F.lit(op).alias("op"),
            F.lit(pair_ord).alias("pair_ord"),
            *[
                F.coalesce(F.col(f"__p_{k}"), F.col(k)).alias(k)
                for k in pk_cols
            ],
            *[
                (F.col(f"__p_{c}") if from_prev else F.col(c)).alias(c)
                for c in val_cols
            ],
        )

    rows = (
        F.when(in_cur & ~in_prev, F.array(_emit(OP_APPEND, False, 0)))
        .when(~in_cur & in_prev, F.array(_emit(OP_RETRACT, True, 0)))
        .when(
            changed,
            F.array(
                _emit(OP_CORRECT_FROM, True, 0), _emit(OP_CORRECT_TO, False, 1)
            ),
        )
        # unchanged key: empty array OF THE ROW TYPE (slice keeps the
        # element struct type; a bare array() literal could not)
        .otherwise(F.slice(F.array(_emit(OP_APPEND, False, 0)), 1, 0))
    )
    out = (
        joined.select(rows.alias("__rows"))
        .select(F.explode("__rows").alias("__r"))
        .select("__r.*")
    )
    return out
