"""Stateful cross-invocation SELECT DISTINCT.

Flink streaming semantics for `SELECT DISTINCT` retain the distinct-key
state for the life of the stream: a row equal to one emitted in ANY
earlier micro-batch is suppressed, not just within the current one. The
reference engine would inherit exactly that from Flink's planner +
savepoints had its users written a DISTINCT query (none of its tests do —
SURVEY.md §2.B), so this executor supplies the parity semantics our
micro-batch runner otherwise lacks: per-slice distinct would wrongly
re-emit on later invocations.

State is a single-column relation of md5 fingerprints over the projected
row values (null-safe, unit-separator-joined), persisted in the
checkpoint like every other operator buffer. Per invocation: one
groupBy for the in-slice first-occurrence (ledger order preserved via
min(__seq)), one anti-join against the fingerprint state, one state
rewrite — all distributed, state bounded by the distinct-value count
(the inherent cost of DISTINCT on an infinite stream; Flink holds the
same state in RocksDB).

This is also the incremental exact-dedup shape a training-data ingest
pipeline needs: dedup against everything already ingested, not just the
current batch.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..plans.classify import referenced_views
from .base import OP_COL, SEQ_INPUT, StepContext, StepResult, min_watermark

_DISTINCT_HEAD_RE = re.compile(r"^\s*select\s+distinct\b", re.IGNORECASE)


def _inject_seq_distinct(sql: str) -> str | None:
    """Rewrite `SELECT DISTINCT <cols> FROM v` into a plain projection
    carrying __seq; None when the shape is too complex to thread safely
    (the executor then falls back to unordered distinct)."""
    from ..plans.classify import select_count

    if select_count(sql) != 1:
        return None
    if re.search(r"\b(group\s+by|union|order\s+by|limit|join)\b", sql, re.IGNORECASE):
        return None
    if SEQ_INPUT in sql:
        return _DISTINCT_HEAD_RE.sub("SELECT ", sql)
    return _DISTINCT_HEAD_RE.sub(f"SELECT {SEQ_INPUT}, ", sql)


def _row_fingerprint(df, value_cols):
    """Injective row fingerprint: per-column tokens are 'n' (NULL) or
    'v' + md5(value) — prefix-decodable (token type is its first char,
    value tokens are fixed width), so no delimiter/sentinel byte inside
    a value can make two distinct rows collide (a raw concat_ws('\\x1f')
    would conflate ('a\\x1fb','c') with ('a','b\\x1fc')).
    Complex types (array/map/struct) go through to_json: a plain string
    cast conflates structurally distinct values — array('a, b') and
    array('a','b') both cast to '[a, b]' — and maps don't cast at all."""
    from pyspark.sql.types import ArrayType, MapType
    from pyspark.sql.types import StructType as _StructType

    complex_cols = {
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, _StructType))
    }

    def _as_text(c):
        return F.to_json(F.col(c)) if c in complex_cols else F.col(c).cast("string")

    return F.md5(
        F.concat(
            *[
                F.when(F.col(c).isNull(), F.lit("n")).otherwise(
                    F.concat(F.lit("v"), F.md5(_as_text(c)))
                )
                for c in value_cols
            ]
        )
    )


def execute_distinct(ctx: StepContext, sql: str) -> StepResult:
    if not _DISTINCT_HEAD_RE.match(sql):
        # GROUP BY without aggregates routed here by classify(): same
        # stateful distinct semantics, normalized to the SELECT DISTINCT
        # spelling this executor parses.
        from ..plans.classify import group_by_distinct_sql

        normalized = group_by_distinct_sql(sql)
        if normalized is None:  # pragma: no cover — routing guarantees
            raise ValueError("unroutable DISTINCT spelling")
        sql = normalized
    refs = referenced_views(sql, set(ctx.views))
    wm = min_watermark(*[ctx.new_wms.get(r) for r in refs]) if refs else None

    if len(refs) == 1 and OP_COL in ctx.views[refs[0]].columns:
        # UPDATING input: Flink's DISTINCT over a changelog keeps a
        # per-value count instead of a seen-set (below).
        return _changelog_distinct(ctx, sql, refs[0], wm)

    run_sql = None
    if len(refs) == 1 and SEQ_INPUT in ctx.views[refs[0]].columns:
        run_sql = _inject_seq_distinct(sql)
    df = ctx.sql(run_sql or sql, wm)

    value_cols = [c for c in df.columns if c != SEQ_INPUT]
    if SEQ_INPUT in df.columns:
        # In-slice first occurrence, in ledger order (Flink emits the first
        # arrival of each distinct row).
        df = df.groupBy(*value_cols).agg(F.min(SEQ_INPUT).alias(SEQ_INPUT))
    else:
        df = df.distinct()

    fingerprint = _row_fingerprint(df, value_cols)
    state_name = f"{ctx.step_key}-distinct-state"
    state_schema = StructType([StructField("fp", StringType())])

    tagged = df.withColumn("__fp", fingerprint)
    if ctx.state.has_df(state_name):
        prev = ctx.state.load_df(state_name, schema=state_schema)
        # One scan feeds both the emission and the state append. The
        # fingerprint state is BUCKETED by fp, so the anti-join probe
        # plans no exchange on the (unboundedly growing) state side.
        fresh = ctx.pin(tagged.join(prev, tagged["__fp"] == prev["fp"], "left_anti"))
    else:
        # First run: nothing seen before — no state to join, no pin (the
        # emission and the state write each re-read the slice directly).
        fresh = tagged
    # Fingerprints never leave the seen-set, and `fresh` is unique within
    # the slice (df is slice-distinct) and disjoint from state (the anti
    # join) — so the state is append-only: previous files hard-link
    # forward, only this slice's new fingerprints are written.
    ctx.state.save_df(
        state_name,
        fresh.select(F.col("__fp").alias("fp")),
        bucket_by=["fp"],
        append=True,
    )

    out = fresh.drop("__fp")
    has_seq = SEQ_INPUT in out.columns
    return StepResult(
        df=out,
        watermark=wm,
        order_cols=[SEQ_INPUT] if has_seq else None,
    )


def _changelog_distinct(ctx: StepContext, sql: str, src: str, wm) -> StepResult:
    """SELECT DISTINCT over an UPDATING (changelog-emitting) alias —
    Flink's retraction-aware distinct: state is a per-value-tuple signed
    COUNT (not a seen-set); a value tuple emits op 0 when its count rises
    from zero, op 1 when it falls back to zero, and nothing while the
    count moves between positive values. The state relation stores the
    tuple's values alongside the count so the op-1 delete can project
    them, is keyed/bucketed by the injective row fingerprint (never NULL,
    so the touched-keys probe stays a plain `=` semi-join with no
    state-side exchange), and holds O(live distinct values) rows."""
    from pyspark.sql.types import IntegerType, LongType

    from ..protocol.model import InvalidQueryError
    from .base import split_touched_state, state_split_worthwhile

    # The fold itself is order-free (per-tuple signed counts), so the
    # engine does NOT stamp the upstream emission for a DISTINCT consumer
    # (that stamp is a single-partition sort of the whole emission).
    # With no seq, emissions order deterministically by the row
    # fingerprint instead of arrival.
    has_seq = SEQ_INPUT in ctx.views[src].columns
    probe = _inject_seq_distinct(sql)
    if probe is None:
        raise InvalidQueryError(
            "DISTINCT over an updating (changelog-emitting) alias supports "
            "a single projection (no joins/set ops/GROUP BY)"
        )
    inner = probe if has_seq else _DISTINCT_HEAD_RE.sub("SELECT ", sql)
    if OP_COL not in inner:
        inner = re.sub(
            r"^\s*select\s+", f"SELECT {OP_COL}, ", inner, count=1,
            flags=re.IGNORECASE,
        )
    df = ctx.sql(inner, wm)
    value_cols = [c for c in df.columns if c not in (SEQ_INPUT, OP_COL)]

    # Per-tuple slice delta: +1 for op 0/3 rows, -1 for op 1/2; the tuple's
    # representative __seq is its first slice arrival (emission order).
    sign = (
        F.when(F.col(OP_COL).isin(1, 2), F.lit(-1))
        .otherwise(F.lit(1))
        .cast(LongType())
    )
    delta = (
        df.withColumn("__fp", _row_fingerprint(df, value_cols))
        .withColumn("__d", sign)
        .groupBy("__fp")
        .agg(
            F.sum("__d").alias("__d"),
            (
                F.min(SEQ_INPUT) if has_seq else F.min(F.lit(None).cast("long"))
            ).alias(SEQ_INPUT),
            # fp is injective over the tuple, so any row's values do.
            *[F.first(c).alias(c) for c in value_cols],
        )
    )
    delta = ctx.pin(delta)

    state_name = f"{ctx.step_key}-distinct-cnt"
    state_schema = StructType(
        [StructField("fp", StringType())]
        + [StructField(c, df.schema[c].dataType) for c in value_cols]
        + [StructField("cnt", LongType())]
    )
    prev = ctx.state.load_df(state_name, schema=state_schema)
    if state_split_worthwhile(ctx, state_name, src):
        active, untouched = split_touched_state(
            prev, ["fp"], delta.select(F.col("__fp").alias("fp")),
            no_null_keys=True,  # fp is md5(...), never NULL
        )
    else:
        active, untouched = prev, prev.limit(0)

    joined = active.alias("s").join(
        delta.alias("d"), F.col("s.fp") == F.col("d.__fp"), "full_outer"
    )
    old_cnt = F.coalesce(F.col("s.cnt"), F.lit(0))
    new_cnt = old_cnt + F.coalesce(F.col("d.__d"), F.lit(0))
    merged = ctx.pin(
        joined.select(
            F.coalesce(F.col("d.__fp"), F.col("s.fp")).alias("fp"),
            *[
                F.when(F.col("d.__fp").isNull(), F.col(f"s.{c}"))
                .otherwise(F.col(f"d.{c}"))
                .alias(c)
                for c in value_cols
            ],
            old_cnt.alias("__old"),
            new_cnt.alias("cnt"),
            F.col(f"d.{SEQ_INPUT}").alias(SEQ_INPUT),
        ).withColumn(
            "cnt",
            # A consistent changelog never retracts below zero; abs() or a
            # silent clamp would emit phantom rows — fail loudly instead.
            F.expr(
                "CASE WHEN cnt >= 0 THEN cnt ELSE "
                "CAST(raise_error('DISTINCT over changelog: a value count "
                "went negative (retraction of a row never inserted)') "
                "AS BIGINT) END"
            ),
        )
    )

    enters = merged.filter((F.col("__old") <= 0) & (F.col("cnt") > 0))
    leaves = merged.filter((F.col("__old") > 0) & (F.col("cnt") <= 0))

    def _emit(dfp, op: int):
        return dfp.select(
            *value_cols,
            F.lit(op).cast(IntegerType()).alias(OP_COL),
            F.col(SEQ_INPUT),
            F.col("fp").alias("__fp"),
        )

    result = _emit(enters, 0).unionByName(_emit(leaves, 1))
    ctx.state.save_df(
        state_name,
        untouched.unionByName(
            merged.filter(F.col("cnt") > 0).select("fp", *value_cols, "cnt")
        ),
        bucket_by=["fp"],
    )
    return StepResult(
        df=result,
        watermark=wm,
        order_cols=[SEQ_INPUT] if has_seq else ["__fp", OP_COL],
    )
