"""Stateful CONTINUOUS (unbounded, windowless) GROUP BY aggregation with
correction changelog.

Flink's hallmark updating aggregate: `SELECT k, sum(v) FROM s GROUP BY k`
over a stream continuously revises each key's row, emitting -U/+U
retraction pairs downstream; the reference exposes it by planner
delegation and its ChangelogOperator maps those RowKinds to op 2/3
(ChangelogOperator.scala:10-24, Op.scala:5-18) — the same contract the
Top-N changelog pins (EngineTopNTest.scala:92-128). The previous MAP route
recomputed per slice, emitting conflicting absolute rows per invocation.

Spark-first derivation: per-key mergeable accumulators (sum/count/min/max,
avg as a sum+count pair — plans/classify.parse_unbounded_aggs, the same
gate as the window accumulator paths), kept as one state relation of
O(distinct keys) rows. Each invocation aggregates the slice alone
(partial), merges with the persisted accumulators in one groupBy, and
diffs old vs new per key:

    key unseen before        -> op 0 (Append) with the new values
    key present, any change  -> op 2 (CorrectFrom old) + op 3 (CorrectTo new)
    key untouched            -> no emission

One emission per changed key per invocation — Flink's mini-batch
aggregation emission (table.exec.mini-batch), which is what an
invocation-per-slice engine IS. Inputs are treated as append-only (`op`
stays a data column), the engine-wide stance (TransformEngine.scala:506-511
has the same behavior). Aggregates that cannot merge (collect_list,
expressions over aggregates, DISTINCT) keep their MAP route.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType

from ..plans.classify import (
    LIVE_COL,
    changelog_fold_slice_sql,
    parse_unbounded_aggs,
    referenced_views,
    unbounded_agg_group_cols,
)
from ..protocol.model import (
    OP_APPEND,
    OP_CORRECT_FROM,
    OP_CORRECT_TO,
    OP_RETRACT,
    InvalidQueryError,
)
from .base import (
    OP_COL,
    StepContext,
    StepResult,
    split_touched_state,
    state_split_worthwhile,
)

SUB_COL = "__emit_sub"  # 0 for op 0/2 rows, 1 for op 3 — pair order per key


def execute_unbounded_agg(ctx: StepContext, sql: str) -> StepResult:
    spec = parse_unbounded_aggs(sql)
    if spec is None:
        raise InvalidQueryError("unbounded aggregation executor could not parse the query")
    mspec = spec.mspec
    refs = referenced_views(sql, set(ctx.views))
    if len(refs) != 1:
        raise InvalidQueryError("continuous aggregation must read exactly one view")
    src = refs[0]
    group_cols = unbounded_agg_group_cols(sql)
    out_schema = ctx.sql(sql, **{src: ctx.views[src].limit(0)}).schema

    # A CHANGELOG input (a chained step emitting op-tagged rows: outer
    # regular-join pads/retractions, upstream correction pairs) folds op
    # 1/2 rows as negative contributions — Flink's retraction propagation
    # between chained views. A hidden signed row counter tracks key
    # liveness; a key whose rows all retract emits an op-1 delete and
    # leaves the state. min/max cannot fold into an accumulator (a
    # retraction may remove the current extremum): each min/max argument
    # keeps a per-(key, value) signed count HISTOGRAM state — Flink's
    # Min/MaxWithRetractAggFunction map-state — and the extremes are
    # recomputed per touched key from the surviving values.
    is_changelog = OP_COL in ctx.views[src].columns
    merges = dict(mspec.merges)
    sum_guards: dict[str, str] = {}
    minmax: dict[str, tuple[str, str]] = {}
    acc_name = f"{ctx.step_key}-unbounded-acc"
    if is_changelog:
        folded = changelog_fold_slice_sql(spec.core_sql, OP_COL)
        if folded is None:
            raise InvalidQueryError(
                "continuous aggregation over a changelog-emitting step "
                "could not rewrite the projection for retraction folding"
            )
        folded, sum_guards, minmax = folded
        partials = ctx.sql(folded)
        out_types = {f.name: f.dataType for f in out_schema.fields}
        for alias in minmax:
            # Placeholder so slice partials and persisted state share one
            # schema; the real values come from the histogram extremes.
            merges.pop(alias, None)
            partials = partials.withColumn(
                alias, F.lit(None).cast(out_types[alias])
            )
        merges[LIVE_COL] = "sum"
        for guard in sum_guards.values():
            merges[guard] = "sum"
    else:
        # Slice partials (the now() emission-time item stripped; avg
        # decomposed into sum+count when present).
        partials = ctx.sql(mspec.slice_sql or spec.core_sql)
    prev = ctx.state.load_df(acc_name, schema=partials.schema)

    use_split = bool(group_cols) and state_split_worthwhile(ctx, acc_name, src)
    if use_split:
        # Pinned before the histogram splits below: the ACCUMULATOR
        # slice's key set is the probe for every state relation this step
        # owns. The histogram delta alone is NOT a valid probe — it
        # excludes NULL-arg rows, so a key touched only by NULL-arg rows
        # (a NULL-valued join partner) would leave its histogram rows in
        # `untouched` and the recomputed extremes would miss them.
        partials = ctx.pin(partials)

    # Histogram state per distinct min/max argument; extremes recomputed
    # over the merged (touched-key) histogram and joined onto the new
    # accumulator side below.
    ext_frames = []  # [(extremes df keyed by group_cols, [out aliases])]
    if minmax:
        from ..plans.classify import changelog_hist_slice_sql

        hist_specs: dict[str, list[tuple[str, str]]] = {}
        for alias, (fn, arg) in minmax.items():
            hist_specs.setdefault(arg, []).append((alias, fn))
        for i, (arg, outs) in enumerate(sorted(hist_specs.items())):
            h_name = f"{ctx.step_key}-unbounded-hist{i}"
            h_delta = ctx.sql(
                changelog_hist_slice_sql(spec.core_sql, OP_COL, group_cols, arg)
            )
            h_prev = ctx.state.load_df(h_name, schema=h_delta.schema)
            merge_hist = (
                lambda base, delta: base.unionByName(delta)
                .groupBy(*group_cols, "__hist_val")
                .agg(F.sum("__hist_cnt").alias("__hist_cnt"))
                .filter(F.col("__hist_cnt") > 0)
            )
            if use_split:
                h_active, h_untouched = split_touched_state(
                    h_prev, group_cols, partials.select(*group_cols)
                )
                h_merged = ctx.pin(merge_hist(h_active, h_delta))
                ctx.state.save_df(
                    h_name,
                    h_untouched.unionByName(h_merged),
                    bucket_by=group_cols,
                    pre_partitioned=True,
                )
            else:
                h_merged = ctx.pin(merge_hist(h_prev, h_delta))
                ctx.state.save_df(
                    h_name,
                    h_merged,
                    bucket_by=group_cols or None,
                    pre_partitioned=True,
                )
            exts = h_merged.groupBy(*group_cols).agg(
                *[
                    getattr(F, fn)("__hist_val").cast(out_types[alias]).alias(alias)
                    for alias, fn in outs
                ]
            )
            ext_frames.append((exts, [alias for alias, _fn in outs]))

    def _attach_extremes(df):
        """Join each histogram's extremes onto the new accumulator side
        (null-safe on the group keys — NULL keys are legal groups); keys
        absent from a histogram (every value retracted) stay NULL, the
        Flink retractable-extreme contract."""
        for exts, aliases in ext_frames:
            renamed = exts.select(
                *[
                    F.col(k).alias(f"__ek_{j}")
                    for j, k in enumerate(group_cols)
                ],
                *aliases,
            )
            if group_cols:
                cond = None
                for j, k in enumerate(group_cols):
                    c = F.col(k).eqNullSafe(F.col(f"__ek_{j}"))
                    cond = c if cond is None else (cond & c)
                df = df.join(renamed, cond, "left").drop(
                    *[f"__ek_{j}" for j in range(len(group_cols))]
                )
            else:
                df = df.join(F.broadcast(renamed), F.lit(True), "left")
        return df

    merge_exprs = [getattr(F, fn)(F.col(c)).alias(c) for c, fn in merges.items()]
    if use_split:
        # Touched-keys merge: only groups PRESENT in this slice can change,
        # so split the (bucketed) accumulator state by a semi/anti probe
        # against the slice's key set — exchange-free on the state
        # side — and run the merge + diff over the touched subset alone.
        # Untouched accumulators flow straight to the state save; the
        # write skips its repartition because both inputs are already
        # hash-partitioned on the group keys (the bucketed anti output and
        # the merge's own groupBy). Gated on state >> slice: when the
        # slice plausibly touches most keys the probes are pure overhead
        # on an unavoidable full merge. (partials was pinned above, before
        # the histogram splits.)
        active_prev, untouched = split_touched_state(
            prev, group_cols, partials.select(*group_cols)
        )
        active_prev = ctx.pin(active_prev)
        merged = ctx.pin(
            _attach_extremes(
                active_prev.unionByName(partials)
                .groupBy(*group_cols)
                .agg(*merge_exprs)
            )
        )
        live_merged = merged.filter(F.col(LIVE_COL) > 0) if is_changelog else merged
        ctx.state.save_df(
            acc_name,
            untouched.unionByName(live_merged),
            bucket_by=group_cols,
            pre_partitioned=True,
        )
        diff_base = active_prev
    else:
        # Full merge: first invocation, keyless aggregation, or a slice
        # comparable in size to the state. Saved bucketed either way (the
        # groupBy output is already key-partitioned) so a later, smaller
        # slice can take the split path against an exchange-free scan.
        merged = ctx.pin(
            _attach_extremes(
                prev.unionByName(partials).groupBy(*group_cols).agg(*merge_exprs)
            )
        )
        ctx.state.save_df(
            acc_name,
            merged.filter(F.col(LIVE_COL) > 0) if is_changelog else merged,
            bucket_by=group_cols or None,
            pre_partitioned=True,
        )
        diff_base = prev

    # Per-key diff old vs new. Null-safe key equality keeps NULL group
    # keys as ordinary groups (Spark groupBy semantics); a literal TRUE
    # marker on the old side distinguishes "key unseen" from "NULL key".
    prev_marked = diff_base.withColumn("__present", F.lit(True))
    key_cond = None
    for k in group_cols:
        c = F.col(f"n.{k}").eqNullSafe(F.col(f"o.{k}"))
        key_cond = c if key_cond is None else (key_cond & c)
    if key_cond is None:
        key_cond = F.lit(True)
    joined = merged.alias("n").join(prev_marked.alias("o"), key_cond, "left")
    is_new = F.col("o.__present").isNull()

    def _finals(side: str) -> list:
        """User-shape projection (aliases, order, types) from one side's
        accumulator columns — avg becomes the merged quotient, every
        aggregate is cast back to the type the user's own SQL produces."""
        cols = []
        for f in out_schema.fields:
            if f.name in group_cols:
                cols.append(F.col(f"n.{f.name}").alias(f.name))  # keys from new side
            elif f.name == spec.now_alias:
                # Emission time, re-stamped per invocation (the engine's
                # Top-N changelog idiom).
                cols.append(F.current_timestamp().cast(f.dataType).alias(f.name))
            elif f.name in mspec.avgs:
                s_col, c_col = mspec.avgs[f.name]
                cols.append(
                    (F.col(f"{side}.{s_col}") / F.col(f"{side}.{c_col}"))
                    .cast(f.dataType)
                    .alias(f.name)
                )
            elif f.name in sum_guards:
                # Flink's SumWithRetractAggFunction: NULL once every
                # non-null contribution has retracted.
                cols.append(
                    F.when(
                        F.col(f"{side}.{sum_guards[f.name]}") > 0,
                        F.col(f"{side}.{f.name}"),
                    )
                    .cast(f.dataType)
                    .alias(f.name)
                )
            else:
                cols.append(F.col(f"{side}.{f.name}").cast(f.dataType).alias(f.name))
        return cols

    changed = None
    for c in (*mspec.merges, *sum_guards.values()):
        neq = ~F.col(f"n.{c}").eqNullSafe(F.col(f"o.{c}"))
        changed = neq if changed is None else (changed | neq)

    # Single join pass: each surviving key explodes into its emission rows
    # (op 0, or the op 2/3 pair) instead of three separate join branches —
    # one exchange, one scan of the cached accumulators.
    def _emit_struct(side: str, op: int, sub: int):
        return F.struct(
            *_finals(side),
            F.lit(op).cast(IntegerType()).alias(OP_COL),
            F.lit(sub).cast(LongType()).alias(SUB_COL),
        )

    pair = F.array(
        _emit_struct("o", OP_CORRECT_FROM, 0),
        _emit_struct("n", OP_CORRECT_TO, 1),
    )
    if is_changelog:
        live = F.col(f"n.{LIVE_COL}") > 0
        # Dead new keys (a slice retracting rows never inserted — an
        # inconsistent changelog) emit nothing; dead existing keys emit
        # the op-1 delete with their last-emitted values.
        emissions = (
            F.when(is_new, F.array(_emit_struct("n", OP_APPEND, 0)))
            .when(~live, F.array(_emit_struct("o", OP_RETRACT, 0)))
            .otherwise(pair)
        )
        keep = (is_new & live) | (~is_new & (~live | changed))
    else:
        emissions = F.when(
            is_new, F.array(_emit_struct("n", OP_APPEND, 0))
        ).otherwise(pair)
        keep = is_new | changed
    result = (
        joined.filter(keep)
        .select(F.explode(emissions).alias("__e"))
        .select("__e.*")
    )

    # Deterministic emission: key order, then op-2-before-op-3 per key.
    order_cols = [*group_cols, SUB_COL]
    return StepResult(
        df=result, watermark=ctx.new_wms.get(src), order_cols=order_cols
    )
