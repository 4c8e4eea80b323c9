"""Stateful tumbling-window aggregation.

Reference semantics (README.md "Windowed Aggregations",
EngineAggregationTest.scala:54-440): `GROUP BY TUMBLE(event_time, I)` emits
each window exactly once, when the watermark passes the window end; rows
later than their (already closed) window are dropped; open windows carry
across invocations in the savepoint; a watermark-only invocation flushes
pending windows.

Spark-first derivation: instead of persisting aggregate partials we persist
the *open-window input rows* and run the user's (rewritten) SQL over
closed-window rows only. A window's rows all share the window end, so
filtering the buffer splits cleanly into "emit now" and "still open" — the
aggregation itself stays a single Catalyst `groupBy(window(...))` with
map-side partial aggregation, shuffling only the closed slice. State size
is bounded by the watermark lag (open windows), not history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.classify import (
    TumbleSpec,
    parse_cumulate,
    parse_hop,
    parse_mergeable_cumulate_aggs,
    parse_mergeable_hop_aggs,
    parse_mergeable_tumble_aggs,
    parse_session,
    parse_tumble,
    referenced_views,
)
from ..plans.dialect import rewrite_cumulate_as_step_tumble
from ..protocol.model import InvalidQueryError
from .base import StepContext, StepResult


def _finalize_avgs(
    ctx: StepContext, df: DataFrame, mspec, sql: str, src: str
) -> DataFrame:
    """Replace each avg's (sum, count) partial pair with the final
    quotient (sum-of-sums / sum-of-counts — Flink's AvgAggFunction merge)
    cast to the type Spark's own avg() would produce, and restore the
    user's projection order. The user's query is analyzed over an empty
    slice of `src` for its output schema: plan only, no job runs."""
    if not mspec.avgs:
        return df
    out_schema = ctx.sql(sql, **{src: ctx.views[src].limit(0)}).schema
    types = {f.name: f.dataType for f in out_schema.fields}
    for alias, (s_col, c_col) in mspec.avgs.items():
        df = df.withColumn(alias, (F.col(s_col) / F.col(c_col)).cast(types[alias]))
    return df.select(*[f.name for f in out_schema.fields])


def _window_end(df: DataFrame, spec: TumbleSpec):
    if spec.calendar_unit is not None:
        return F.date_trunc(spec.calendar_unit, F.col(spec.time_col)) + F.expr(
            f"INTERVAL {spec.months} MONTH"
        )
    return F.window(F.col(spec.time_col), spec.duration)["end"]


def _ordered_result(ctx: StepContext, src: str, result: DataFrame, new_wm) -> StepResult:
    """Deterministic emission order: window start first (ascending event
    time, like the reference's single-threaded stream), then remaining
    output columns to break ties between groups of the same window."""
    order_cols = list(result.columns)
    # The OUTPUT event-time column leads (reference emission is ascending
    # window time); fall back to the source's column name when the query
    # keeps it (they usually coincide, but a projection may rename).
    for et in (ctx.request.vocab.event_time_column, ctx.event_time_cols.get(src)):
        if et in order_cols:
            order_cols.remove(et)
            order_cols.insert(0, et)
            break
    return StepResult(df=result, watermark=new_wm, order_cols=order_cols)


def execute_window_agg(ctx: StepContext, sql: str) -> StepResult:
    spec = parse_tumble(sql)
    if spec is None:
        raise InvalidQueryError("window_agg executor requires a TUMBLE clause")
    refs = referenced_views(sql, set(ctx.views))
    if len(refs) != 1:
        raise InvalidQueryError(
            f"tumbling aggregation must read exactly one view, got {refs}"
        )
    src = refs[0]
    prev_wm = ctx.prev_wms.get(src)
    new_wm = ctx.new_wms.get(src)

    incoming = ctx.views[src]
    buffer_name = f"{ctx.step_key}-window-buffer"
    partials_name = f"{ctx.step_key}-window-partials"

    # Lateness: a row whose window already closed under the watermark the
    # run STARTED with is dropped (source emits prev watermark before data).
    # Note: Spark's analyzer materializes a `window` projection for the
    # TimeWindow expression, so each filter re-selects the original columns
    # to keep the buffer/view schema clean.
    cols = incoming.columns
    if prev_wm is not None:
        incoming = incoming.filter(_window_end(incoming, spec) > F.lit(prev_wm)).select(*cols)

    # Accumulator state (Flink-parity): when every aggregate is an
    # algebraic sum/count/min/max, per-window PARTIAL RESULTS merge
    # across runs, so the checkpoint holds O(open windows x groups)
    # accumulator rows instead of O(buffered input rows). The raw-row
    # buffer below remains the general fallback, and owns any checkpoint
    # it already wrote — a state format never switches mid-stream.
    mspec = parse_mergeable_tumble_aggs(sql)
    if mspec is not None and not ctx.state.has_df(buffer_name):
        return _execute_with_partials(
            ctx, sql, src, incoming, mspec, spec, partials_name, new_wm
        )

    if ctx.state.has_df(buffer_name):
        # Resume: one pinned scan of (buffer ∪ new slice) feeds both the
        # state save and the aggregation — unpinned, each action would
        # re-read every buffer file and input slice.
        prev_buf = ctx.state.load_df(buffer_name, schema=incoming.schema)
        buf = ctx.pin(prev_buf.unionByName(incoming))
    else:
        # First run: no buffer to merge, so skip the union AND the pin —
        # the closed/still-open actions each re-scan the source parquet
        # directly (columnar, filter-pushed), which is cheaper than
        # materializing the whole slice into the block store first.
        buf = incoming

    if new_wm is not None:
        closed = buf.filter(_window_end(buf, spec) <= F.lit(new_wm)).select(*cols)
        still_open = buf.filter(_window_end(buf, spec) > F.lit(new_wm)).select(*cols)
    else:
        closed = buf.limit(0)
        still_open = buf

    ctx.state.save_df(buffer_name, still_open)

    result = ctx.sql(sql, new_wm, **{src: closed})

    return _ordered_result(ctx, src, result, new_wm)


def _execute_with_partials(
    ctx: StepContext,
    sql: str,
    src: str,
    incoming: DataFrame,
    mspec,
    spec: TumbleSpec,
    partials_name: str,
    new_wm,
) -> StepResult:
    """Accumulator-state execution: run the user's aggregation over the
    (late-filtered) slice alone, merge the per-window partial results
    with the checkpointed partials, emit windows the watermark closes,
    persist the still-open partials."""
    if mspec.end_alias is not None:
        end_col = F.col(mspec.end_alias)
    elif spec.calendar_unit is not None:
        end_col = F.col(mspec.start_alias) + F.expr(f"INTERVAL {spec.months} MONTH")
    else:
        size_secs = int(spec.size.total_seconds())
        end_col = F.col(mspec.start_alias) + F.expr(f"INTERVAL '{size_secs}' SECOND")

    slice_partials = ctx.sql(mspec.slice_sql or sql, new_wm, **{src: incoming})

    result = _merge_partials(
        ctx, partials_name, slice_partials, mspec, end_col, new_wm
    )
    result = _finalize_avgs(ctx, result, mspec, sql, src)
    return _ordered_result(ctx, src, result, new_wm)


def _merge_partials(
    ctx: StepContext,
    partials_name: str,
    slice_partials: DataFrame,
    mspec,
    end_col,
    new_wm,
) -> DataFrame:
    """Merge this run's per-window partial results with the checkpointed
    partials, save the still-open ones, return the closed ones."""
    key_cols = [c for c in slice_partials.columns if c not in mspec.merges]
    out_types = {f.name: f.dataType for f in slice_partials.schema.fields}

    if ctx.state.has_df(partials_name):
        prev = ctx.state.load_df(partials_name, schema=slice_partials.schema)
        # Merge = re-aggregate with each column's merge function; sums of
        # sums widen (decimal precision), so cast back to the slice-SQL
        # output type — the invocation-stable schema contract.
        merged = (
            prev.unionByName(slice_partials)
            .groupBy(*key_cols)
            .agg(
                *[
                    getattr(F, fn)(c).cast(out_types[c]).alias(c)
                    for c, fn in mspec.merges.items()
                ]
            )
            .select(*slice_partials.columns)
        )
    else:
        merged = slice_partials
    # Pin unconditionally: unlike the raw-row buffer (where pinning a
    # whole first-run slice costs more than re-scanning parquet), the
    # aggregate output is O(groups) small, and both the emission and the
    # state save read it — pinning halves the aggregation passes.
    merged = ctx.pin(merged)

    if new_wm is not None:
        result = merged.filter(end_col <= F.lit(new_wm))
        still_open = merged.filter(end_col > F.lit(new_wm))
    else:
        result = merged.limit(0)
        still_open = merged

    ctx.state.save_df(partials_name, still_open)
    return result


def _single_source(ctx: StepContext, sql: str, what: str) -> str:
    refs = referenced_views(sql, set(ctx.views))
    if len(refs) != 1:
        raise InvalidQueryError(f"{what} must read exactly one view, got {refs}")
    return refs[0]


def _pushdown_barrier(col):
    """Identity on `col` that Catalyst must treat as nondeterministic —
    `shuffle()` of a 1-element array is the element itself, but the
    nondeterminism marker stops predicate pushdown through the plan.

    Needed ONLY for filters on SESSION window bounds: a session's
    grouping key is NOT a per-row function — per-row [t, t+gap) windows
    MERGE during aggregation — yet Catalyst's pushdown treats it like
    one and rewrites `session_window.end <= wm` into a PRE-aggregation
    filter on each row's OWN end. That drops a session's later rows
    before they can extend it (observed: rows at 15 and 20 with gap 5
    and wm 24 — own-end 25 row filtered out below the aggregate, the
    remaining row emitted as a bogus closed session [15,20)). TUMBLE /
    HOP / CUMULATE keys are per-row-stable, so their pushdown is legal
    and wanted — keep those filters bare."""
    return F.element_at(F.shuffle(F.array(col)), 1)


def _emit_and_order(
    ctx: StepContext, sql: str, src: str, buf: DataFrame, end_col, prev_wm, new_wm,
    lead_alias, pushdown_safe: bool = True,
) -> StepResult:
    """Run the user's (rewritten) SQL over the full buffer and keep only
    result windows whose end falls in (prev_wm, new_wm] — each window is
    emitted in exactly one invocation even though rows contributing to
    several windows stay buffered across runs.

    pushdown_safe=False (the SESSION caller): the window-end emission
    filter must NOT sink below the session-merging aggregation — see
    _pushdown_barrier."""
    result = ctx.sql(sql, new_wm, **{src: buf})
    if new_wm is None:
        result = result.limit(0)
    else:
        guard = end_col if pushdown_safe else _pushdown_barrier(end_col)
        result = result.filter(guard <= F.lit(new_wm))
        if prev_wm is not None:
            result = result.filter(guard > F.lit(prev_wm))
    order_cols = list(result.columns)
    if lead_alias in order_cols:
        order_cols.remove(lead_alias)
        order_cols.insert(0, lead_alias)
    return StepResult(df=result, watermark=new_wm, order_cols=order_cols)


def execute_hop_agg(ctx: StepContext, sql: str) -> StepResult:
    """Stateful HOP (sliding/hopping) window aggregation — BEYOND the
    reference (TUMBLE only). Each row belongs to size/slide windows, so a
    row is buffered until its LAST containing window closes and the
    emission is filtered at the RESULT level by window end; the query must
    project HOP_START or HOP_END so results are attributable to windows
    (the reference idiom — every tested TUMBLE query projects
    TUMBLE_START)."""
    spec = parse_hop(sql)
    if spec is None:
        raise InvalidQueryError("hop_agg executor requires a HOP clause")
    if spec.start_alias is None and spec.end_alias is None:
        raise InvalidQueryError(
            "incremental HOP aggregation requires HOP_START(...) AS <alias> or "
            "HOP_END(...) AS <alias> in the projection"
        )
    src = _single_source(ctx, sql, "hopping aggregation")
    prev_wm = ctx.prev_wms.get(src)
    new_wm = ctx.new_wms.get(src)

    incoming = ctx.views[src]
    cols = incoming.columns
    buffer_name = f"{ctx.step_key}-hop-buffer"

    size_secs = int(spec.size.total_seconds())
    last_end = F.window(F.col(spec.time_col), spec.slide_duration)["start"] + F.expr(
        f"INTERVAL '{size_secs}' SECOND"
    )
    # Lateness: drop rows whose EVERY containing window already emitted.
    if prev_wm is not None:
        incoming = incoming.filter(last_end > F.lit(prev_wm)).select(*cols)

    # Accumulator state: a row contributes to size/slide windows, so the
    # raw buffer holds each row size/slide windows long — per-window
    # partial results (when every aggregate merges) shrink that to one
    # accumulator row per open (window, group), same gate and merge as
    # the TUMBLE path. A slice row can still yield partials for windows
    # that ALREADY emitted (its earlier windows) — those are late for
    # that window and are dropped before the merge, matching the raw
    # path's result-level (prev_wm, new_wm] emission filter.
    mspec = parse_mergeable_hop_aggs(sql)
    if mspec is not None and not ctx.state.has_df(buffer_name):
        if mspec.end_alias is not None:
            p_end = F.col(mspec.end_alias)
            lead = mspec.end_alias
        else:
            p_end = F.col(mspec.start_alias) + F.expr(f"INTERVAL '{size_secs}' SECOND")
            lead = mspec.start_alias
        slice_partials = ctx.sql(mspec.slice_sql or sql, new_wm, **{src: incoming})
        if prev_wm is not None:
            slice_partials = slice_partials.filter(p_end > F.lit(prev_wm))
        result = _merge_partials(
            ctx, f"{ctx.step_key}-hop-partials", slice_partials, mspec, p_end, new_wm
        )
        result = _finalize_avgs(ctx, result, mspec, sql, src)
        order_cols = list(result.columns)
        if lead in order_cols:
            order_cols.remove(lead)
            order_cols.insert(0, lead)
        return StepResult(df=result, watermark=new_wm, order_cols=order_cols)

    if ctx.state.has_df(buffer_name):
        prev_buf = ctx.state.load_df(buffer_name, schema=incoming.schema)
        buf = ctx.pin(prev_buf.unionByName(incoming))
    else:
        buf = incoming  # first run: re-scan the source, skip the pin
    still_open = (
        buf.filter(last_end > F.lit(new_wm)).select(*cols) if new_wm is not None else buf
    )
    ctx.state.save_df(buffer_name, still_open)

    if spec.end_alias is not None:
        end_col = F.col(spec.end_alias)
        lead = spec.end_alias
    else:
        end_col = F.col(spec.start_alias) + F.expr(f"INTERVAL '{size_secs}' SECOND")
        lead = spec.start_alias
    return _emit_and_order(ctx, sql, src, buf, end_col, prev_wm, new_wm, lead)


def execute_cumulate_agg(ctx: StepContext, sql: str) -> StepResult:
    """Stateful CUMULATE (cumulative-window) aggregation — BEYOND the
    reference (TUMBLE only); Flink's public cumulative-window surface.
    Within each size-aligned span [S, S+size) the engine emits growing
    windows [S, S+k*step) as the watermark passes each end.

    Preferred path (mergeable aggregates): the slice is aggregated by
    STEP windows — Flink's slicing optimization, every cumulative window
    is a union of whole steps — merged with the checkpointed per-step
    partials, expanded to the cumulative ends each step feeds, and
    re-merged per (span, end, keys). State is O(open spans x steps x
    groups) accumulator rows; each window end emits in exactly one
    invocation via the (prev_wm, new_wm] end filter.

    Fallback (arbitrary aggregates, e.g. stddev): raw rows buffer until
    their span closes and the dialect rewrite (explode over window ends)
    runs over the whole buffer; requires CUMULATE_END in the projection
    so results are attributable to windows."""
    spec = parse_cumulate(sql)
    if spec is None:
        raise InvalidQueryError("cumulate_agg executor requires a CUMULATE clause")
    src = _single_source(ctx, sql, "cumulative aggregation")
    prev_wm = ctx.prev_wms.get(src)
    new_wm = ctx.new_wms.get(src)

    incoming = ctx.views[src]
    cols = incoming.columns
    buffer_name = f"{ctx.step_key}-cumulate-buffer"
    partials_name = f"{ctx.step_key}-cumulate-partials"

    step_secs = int(spec.step.total_seconds())
    size_us = int(spec.size.total_seconds()) * 1_000_000
    # A row's LAST containing window ends where its span ends. Integer
    # DIV on epoch micros — exact (non-negative epochs).
    row_last_end = F.expr(
        f"timestamp_micros((unix_micros({spec.time_col}) DIV {size_us} + 1) * {size_us})"
    )
    if prev_wm is not None:
        incoming = incoming.filter(row_last_end > F.lit(prev_wm)).select(*cols)

    mspec = parse_mergeable_cumulate_aggs(sql)
    if mspec is not None and not ctx.state.has_df(buffer_name):
        if mspec.start_alias is None and mspec.end_alias is None:
            raise InvalidQueryError(
                "incremental CUMULATE aggregation requires CUMULATE_START(...) AS "
                "<alias> or CUMULATE_END(...) AS <alias> in the projection"
            )
        # Slice partials at step grain: CUMULATE -> step-sized TUMBLE.
        step_sql = rewrite_cumulate_as_step_tumble(mspec.slice_sql or sql)
        slice_partials = ctx.sql(step_sql, new_wm, **{src: incoming})

        # Step end (exclusive) — derivable from either projected alias.
        if mspec.end_alias is not None:
            step_end = F.col(mspec.end_alias)
        else:
            step_end = F.col(mspec.start_alias) + F.expr(f"INTERVAL '{step_secs}' SECOND")
        # Span geometry via exact integer DIV on epoch micros; -1 because
        # the final step's end coincides with the NEXT span's boundary.
        def with_span(df: DataFrame) -> DataFrame:
            return df.withColumn("__step_end", step_end).withColumn(
                "__span_start_us",
                F.expr(f"((unix_micros(__step_end) - 1) DIV {size_us}) * {size_us}"),
            )

        span_last_end = F.expr(f"timestamp_micros(__span_start_us + {size_us})")

        key_cols = [c for c in slice_partials.columns if c not in mspec.merges]
        out_types = {f.name: f.dataType for f in slice_partials.schema.fields}
        if ctx.state.has_df(partials_name):
            prev = ctx.state.load_df(partials_name, schema=slice_partials.schema)
            merged = (
                prev.unionByName(slice_partials)
                .groupBy(*key_cols)
                .agg(
                    *[
                        getattr(F, fn)(c).cast(out_types[c]).alias(c)
                        for c, fn in mspec.merges.items()
                    ]
                )
                .select(*slice_partials.columns)
            )
        else:
            merged = slice_partials
        merged = ctx.pin(with_span(merged))

        # Keep step partials whose span is still open (its later windows
        # can still merge new steps); emit from the PRE-eviction merge.
        if new_wm is not None:
            ctx.state.save_df(
                partials_name,
                merged.filter(span_last_end > F.lit(new_wm)).select(
                    *slice_partials.columns
                ),
            )
            emit_upper = F.lit(new_wm)
        else:
            ctx.state.save_df(partials_name, merged.select(*slice_partials.columns))
            emit_upper = None

        # Expand each step partial into the cumulative ends it feeds:
        # E in {step_end, step_end+step, ..., span_end}.
        expanded = merged.withColumn(
            "__cum_end",
            F.explode(
                F.sequence(
                    F.col("__step_end"),
                    F.expr(f"timestamp_micros(__span_start_us + {size_us})"),
                    F.expr(f"INTERVAL '{step_secs}' SECOND"),
                )
            ),
        ).withColumn("__span_start", F.expr("timestamp_micros(__span_start_us)"))
        if emit_upper is None:
            expanded = expanded.filter(F.lit(False))
        else:
            expanded = expanded.filter(F.col("__cum_end") <= emit_upper)
            if prev_wm is not None:
                expanded = expanded.filter(F.col("__cum_end") > F.lit(prev_wm))

        group_keys = [c for c in key_cols if c not in (mspec.start_alias, mspec.end_alias)]
        result = (
            expanded.groupBy("__span_start", "__cum_end", *group_keys)
            .agg(
                *[
                    getattr(F, fn)(c).cast(out_types[c]).alias(c)
                    for c, fn in mspec.merges.items()
                ]
            )
        )
        if mspec.start_alias is not None:
            result = result.withColumn(mspec.start_alias, F.col("__span_start"))
        if mspec.end_alias is not None:
            result = result.withColumn(mspec.end_alias, F.col("__cum_end"))
        result = result.select(*slice_partials.columns)
        result = _finalize_avgs(ctx, result, mspec, sql, src)
        lead = mspec.end_alias or mspec.start_alias
        order_cols = list(result.columns)
        if lead in order_cols:
            order_cols.remove(lead)
            order_cols.insert(0, lead)
        return StepResult(df=result, watermark=new_wm, order_cols=order_cols)

    # Raw-row fallback: arbitrary aggregates via the dialect's explode
    # rewrite over the full buffer.
    if spec.end_alias is None:
        raise InvalidQueryError(
            "CUMULATE with non-mergeable aggregates requires CUMULATE_END(...) AS "
            "<alias> in the projection"
        )
    if ctx.state.has_df(buffer_name):
        prev_buf = ctx.state.load_df(buffer_name, schema=incoming.schema)
        buf = ctx.pin(prev_buf.unionByName(incoming))
    else:
        buf = incoming  # first run: re-scan the source, skip the pin
    still_open = (
        buf.filter(row_last_end > F.lit(new_wm)).select(*cols)
        if new_wm is not None
        else buf
    )
    ctx.state.save_df(buffer_name, still_open)
    return _emit_and_order(
        ctx, sql, src, buf, F.col(spec.end_alias), prev_wm, new_wm, spec.end_alias
    )


def execute_session_agg(ctx: StepContext, sql: str) -> StepResult:
    """Stateful SESSION window aggregation — BEYOND the reference. A
    session closes when the watermark passes last_event + gap; until then
    its rows stay buffered, so a later invocation's row inside the gap
    MERGES into (extends) the session. Emission filters the result by
    SESSION_END (required in the projection: a session's end is not
    derivable from its start). Buffer eviction re-sessionizes the buffer
    with the query's own group keys and keeps only rows of still-open
    sessions."""
    spec = parse_session(sql)
    if spec is None:
        raise InvalidQueryError("session_agg executor requires a SESSION clause")
    if spec.end_alias is None:
        raise InvalidQueryError(
            "incremental SESSION aggregation requires SESSION_END(...) AS <alias> "
            "in the projection"
        )
    if spec.group_keys is None:
        raise InvalidQueryError(
            "incremental SESSION aggregation supports only plain column group keys"
        )
    src = _single_source(ctx, sql, "session aggregation")
    prev_wm = ctx.prev_wms.get(src)
    new_wm = ctx.new_wms.get(src)

    incoming = ctx.views[src]
    cols = incoming.columns
    buffer_name = f"{ctx.step_key}-session-buffer"

    gap_secs = int(spec.gap.total_seconds())
    own_close = F.col(spec.time_col) + F.expr(f"INTERVAL '{gap_secs}' SECOND")
    # Lateness: drop a row only if even its own singleton session would
    # already have closed under the run-start watermark.
    if prev_wm is not None:
        incoming = incoming.filter(own_close > F.lit(prev_wm)).select(*cols)
    if ctx.state.has_df(buffer_name):
        prev_buf = ctx.state.load_df(buffer_name, schema=incoming.schema)
        buf = ctx.pin(prev_buf.unionByName(incoming))
    else:
        buf = incoming  # first run: re-scan the source, skip the pin

    # Evict rows of sessions the new watermark closes (they emit this run
    # and can never merge with future rows: any future ts >= wm >= end).
    if new_wm is not None:
        sess = buf.groupBy(
            F.session_window(F.col(spec.time_col), spec.gap_duration).alias("__sw"),
            *spec.group_keys,
        ).agg(F.count(F.lit(1)).alias("__n"))
        # Barrier for the same Catalyst unsoundness as the emission filter
        # (see _pushdown_barrier): pushed below the aggregation, this
        # open-session predicate would drop a session's early rows from
        # the buffer rewrite — silently truncating still-open sessions.
        open_sess = sess.filter(
            _pushdown_barrier(F.col("__sw.end")) > F.lit(new_wm)
        ).select(
            F.col("__sw.start").alias("__ss_start"),
            F.col("__sw.end").alias("__ss_end"),
            *[F.col(k).alias(f"__ss_{k}") for k in spec.group_keys],
        )
        cond = (F.col(spec.time_col) >= F.col("__ss_start")) & (
            F.col(spec.time_col) < F.col("__ss_end")
        )
        for k in spec.group_keys:
            cond = cond & (F.col(k).eqNullSafe(F.col(f"__ss_{k}")))
        # No broadcast hint: open_sess is one row per OPEN session —
        # unbounded at scale; Spark's size-based planning picks broadcast
        # when it actually fits.
        still_open = buf.join(open_sess, cond, "left_semi").select(*cols)
    else:
        still_open = buf
    ctx.state.save_df(buffer_name, still_open)

    return _emit_and_order(
        ctx, sql, src, buf, F.col(spec.end_alias), prev_wm, new_wm, spec.end_alias,
        pushdown_safe=False,
    )
