"""Retraction-aware Top-N: the rank operator when its input is an
UPDATING (changelog-emitting) alias — Flink's RetractableTopNFunction.

The flagship Flink pattern ("top N products by a continuously-updated
sales count") ranks an updating aggregate: a retraction can REMOVE the
current 1st-place row, promoting a row from beyond the horizon, so the
operator must retain every live input row, not just the visible top-N
(Flink holds the same full state in its sorted-map + data-state pair).
The reference gets this from planner delegation
(TransformEngine.scala:252-262).

Spark-first derivation: the state is an append-only SIGNED LEDGER of the
ranked subquery's projected rows (the changelog join's layout —
engine/state.py bucketed relations), bucketed by the PARTITION BY keys.
One invocation appends the slice's signed rows (op 0/3 -> +1, op 1/2 ->
-1) and, for the touched keys only, recomputes the rank table before and
after the slice from the ledger nets:

    old_top = topN(net(ledger restricted to touched keys))
    new_top = topN(net(ledger ∪ slice, same keys))

and emits the per-(key, place) diff: op 0 where a place appears, op 1
where it disappears, op 2/3 (CorrectFrom/CorrectTo) where its row
changed — the engine's Top-N changelog contract
(EngineTopNTest.scala:92-128), at mini-batch granularity (one correction
per changed place per invocation; the append-only executors emit
per-record corrections, which a changelog input cannot define because a
retraction has no "arrival rank").

Ties order deterministically by the remaining projected columns (an
updating input has no arrival order to break ties with — equal tuples
are interchangeable, so the output multiset is well-defined and
oracle-reproducible).

Scale shape: ledger probes are key-restricted `=` semi-joins against the
bucketed state (no state-side exchange); an invocation costs O(slice +
touched keys' live rows) — the inherent retractable-rank cost (Flink's
map-state reads the same rows) — with the ledger itself held at O(live
rows) by size-triggered netting compaction (operators/base.
maintain_signed_ledger), so per-key cost never grows with total
changelog volume. The GLOBAL form (no PARTITION BY) recomputes its
single group's top-N with TakeOrdered (distributed partial top-N, no
full sort).

A re-stamped now() emission time from an upstream continuous aggregate
must NOT be projected through the ranked subquery — its value differs
between a row's op 0 and the later op 2 that retracts it, so the ledger
would never cancel; the strict net guard raises instead of emitting
phantoms. Project now() in the OUTER select instead (the engine's
changelog idiom).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from .base import OP_COL, SEQ_INPUT, StepContext, StepResult, maintain_signed_ledger
from .topn import (
    GSEQ_COL,
    SUB_COL,
    RankStep,
    prepend_select,
    project_outer,
    require_keys,
)

SIGN = "__ct_sign"
CNT = "__ct_cnt"


def execute_changelog_topn(ctx: StepContext, step: RankStep) -> StepResult:
    """The rank step `step` (parsed by topn.parse_rank_step) over an
    updating view."""
    part_keys, order = step.keys, step.order
    rank_col, limit = step.rank_col, step.limit

    # The ranked subquery's projection over the slice, signed by op.
    inner_no_rank = step.inner_no_rank
    if OP_COL not in inner_no_rank:
        inner_no_rank = prepend_select(inner_no_rank, OP_COL)
    incoming = ctx.sql(inner_no_rank)
    if SEQ_INPUT in incoming.columns:  # star projection pulled it through
        incoming = incoming.drop(SEQ_INPUT)
    value_cols = [c for c in incoming.columns if c != OP_COL]
    require_keys(step, value_cols)
    sign = (
        F.when(F.col(OP_COL).isin(1, 2), F.lit(-1))
        .otherwise(F.lit(1))
        .cast(IntegerType())
    )
    delta = ctx.pin(incoming.withColumn(SIGN, sign).drop(OP_COL))

    ledger_name = f"{ctx.step_key}-cl-topn-ledger"
    ledger_schema = StructType(
        [incoming.schema[c] for c in value_cols]
        + [StructField(SIGN, IntegerType())]
    )
    ledger = ctx.state.load_df(ledger_name, schema=ledger_schema)
    first = not ctx.state.has_df(ledger_name)

    if part_keys:
        touched = delta.select(*part_keys).distinct()
        if first:
            hist = ledger.limit(0)
        else:
            cond = None
            for k in part_keys:
                c = F.col(f"s.{k}") == F.col(f"p.{k}")
                cond = c if cond is None else (cond & c)
            hist = ledger.alias("s").join(
                touched.alias("p"), cond, "left_semi"
            )
        # NULL-keyed rows never `=`-match the probe but are legal rank
        # groups — route them in unconditionally (an untouched NULL group
        # diffs to nothing; the recompute is bounded by its live rows).
        nn = None
        for k in part_keys:
            c = F.col(k).isNotNull()
            nn = c if nn is None else (nn & c)
        if not first:
            hist = hist.unionByName(ledger.filter(~nn))
    else:
        hist = ledger if not first else ledger.limit(0)

    def _counts(rel: DataFrame) -> DataFrame:
        return rel.groupBy(*value_cols).agg(
            F.sum(SIGN).cast("long").alias(CNT)
        )

    def _expand(counts: DataFrame) -> DataFrame:
        """Live multiset from net counts, with a loud guard: a consistent
        changelog never nets negative (see module docstring on re-stamped
        columns)."""
        return (
            counts.filter(F.col(CNT) != 0)
            .withColumn(
                "__ct_dup",
                F.explode(
                    F.expr(
                        f"sequence(1, CASE WHEN {CNT} > 0 THEN {CNT} ELSE "
                        f"CAST(raise_error('Top-N over changelog: a row net "
                        f"count went negative — a re-stamped upstream column "
                        f"(e.g. a continuous aggregate''s now() emission "
                        f"time) projected through the ranked subquery, or an "
                        f"inconsistent changelog') AS BIGINT) END)"
                    )
                ),
            )
            .drop(CNT, "__ct_dup")
        )

    user_order_cols = {c for c, _ in order}
    order_exprs = [
        F.col(c).desc() if desc else F.col(c).asc() for c, desc in order
    ] + [F.col(c).asc() for c in value_cols if c not in user_order_cols]

    def _top(rel: DataFrame) -> DataFrame:
        if part_keys:
            w = Window.partitionBy(*part_keys).orderBy(*order_exprs)
            return (
                rel.withColumn(rank_col, F.row_number().over(w).cast("long"))
                .filter(F.col(rank_col) <= limit)
            )
        # Global: TakeOrdered (distributed partial top-N) then a trivial
        # row_number over the <= N surviving rows.
        capped = rel.orderBy(*order_exprs).limit(limit)
        w = Window.partitionBy(F.lit(0)).orderBy(*order_exprs)
        return capped.withColumn(
            rank_col, F.row_number().over(w).cast("long")
        )

    # Net counts are additive (sum of signs), so the history is aggregated
    # ONCE and both rank tables ride the same cached counts frame — the
    # old side expands it directly, the new side folds in only the slice's
    # counts. Halves the per-invocation ledger work vs netting hist twice.
    hist_counts = ctx.pin(_counts(hist))
    new_counts = (
        hist_counts.unionByName(_counts(delta))
        .groupBy(*value_cols)
        .agg(F.sum(CNT).alias(CNT))
    )
    old_top = ctx.pin(_top(_expand(hist_counts)))
    new_top = ctx.pin(_top(_expand(new_counts)))

    # Per-(key, place) diff. Null-safe key equality keeps NULL rank groups.
    join_keys = [*part_keys, rank_col]
    cond = None
    for k in join_keys:
        c = F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}"))
        cond = c if cond is None else (cond & c)
    joined = old_top.alias("o").join(new_top.alias("n"), cond, "full_outer")
    o_present = F.col(f"o.{rank_col}").isNotNull()
    n_present = F.col(f"n.{rank_col}").isNotNull()
    changed = None
    for c in value_cols:
        neq = ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
        changed = neq if changed is None else (changed | neq)
    if changed is None:
        changed = F.lit(False)

    def _row(side: str, op: int, sub: int):
        return F.struct(
            *[F.col(f"{side}.{c}").alias(c) for c in value_cols],
            F.col(f"{side}.{rank_col}").alias(rank_col),
            F.lit(op).cast(IntegerType()).alias(OP_COL),
            F.lit(sub).cast(LongType()).alias(SUB_COL),
        )

    emissions = (
        F.when(~o_present, F.array(_row("n", 0, 0)))
        .when(~n_present, F.array(_row("o", 1, 0)))
        .otherwise(F.array(_row("o", 2, 0), _row("n", 3, 1)))
    )
    keep = (~o_present) | (~n_present) | changed
    diff = (
        joined.filter(keep)
        .select(F.explode(emissions).alias("__e"))
        .select("__e.*")
    )
    # Deterministic global emission order (key-interleaved by rank): the
    # emission set is O(changed places), so the single-partition stamp is
    # bounded by the output, not the state. SUB breaks the (key, rank) tie
    # between an op-2/op-3 correction pair — without it row_number could
    # stamp CorrectTo before CorrectFrom, breaking the pair-adjacency
    # contract the changelog filter rewrite depends on.
    ord_w = Window.partitionBy(F.lit(0)).orderBy(
        *[F.col(k).asc_nulls_first() for k in part_keys],
        F.col(rank_col).asc(),
        F.col(SUB_COL).asc(),
    )
    diff = diff.withColumn(
        GSEQ_COL, F.row_number().over(ord_w).cast("long")
    )

    # Ledger maintenance: O(slice) appends with size-triggered netting
    # compaction so state tracks LIVE rows, not changelog volume (an
    # upstream continuous aggregate emits a +1/-1 pair per touched key
    # EVERY invocation) — operators/base.maintain_signed_ledger.
    maintain_signed_ledger(
        ctx, ledger_name, delta, value_cols, SIGN, part_keys or None,
        full=ledger,
    )

    return project_outer(ctx, step, diff)
