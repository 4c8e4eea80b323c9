"""Stateful row-time OVER aggregation (Flink "Over Aggregation").

Flink's streaming SQL surface includes per-row backward-frame aggregation
(`SUM(x) OVER (PARTITION BY k ORDER BY rowtime {RANGE|ROWS} BETWEEN ...
PRECEDING AND CURRENT ROW)`), which the reference exposes by delegating
every SQL step to Flink's planner (TransformEngine.scala:252-262). Row-time
semantics: a row's aggregate is computed over watermark-complete history,
so a row EMITS when the watermark passes its timestamp; rows later than
the run-start watermark are dropped; not-yet-emittable rows buffer across
invocations.

Spark-first derivation: persist the raw rows still inside any future row's
frame horizon, run the user's (unmodified — Spark parses Flink's frame
spelling natively) SQL over (buffer ∪ slice) as ONE Catalyst window plan,
and filter the emission to rows in (prev_wm, new_wm]. Frame-horizon
eviction bounds the state: RANGE frames keep rows with ts >= new_wm - h;
ROWS-n frames keep the last n emitted rows per key plus every pending row.
Emission order is (rowtime, ledger offset) — the order Flink's watermark
advance fires timers in, made total by the ledger offset.
"""

from __future__ import annotations

import re

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..plans.classify import parse_over_agg, referenced_views
from ..protocol.model import InvalidQueryError
from .base import (
    SEQ_INPUT,
    StepContext,
    StepResult,
    split_touched_state,
    state_split_worthwhile,
)

_ROWS_ORDER_RE = re.compile(
    r"(ORDER\s+BY\s+[`\w.]+)((?:\s+ASC)?\s+ROWS\s+(?:BETWEEN|UNBOUNDED))",
    re.IGNORECASE,
)
_AGG_OVER_RE = re.compile(
    r"(?P<fn>SUM|COUNT|MIN|MAX|AVG)\s*\(\s*(?P<arg>\*|[`\w.]+)\s*\)\s+"
    r"(?P<over>OVER\s*\([^)]*\))\s+AS\s+(?P<alias>[`\w]+)",
    re.IGNORECASE,
)


_ROWS_ORDER_DESC_RE = re.compile(
    r"(ORDER\s+BY\s+[`\w.]+\s+DESC)\s+(ROWS\s+BETWEEN)",
    re.IGNORECASE,
)


def execute_over_agg(ctx: StepContext, sql: str) -> StepResult:
    spec = parse_over_agg(sql)
    if spec is None:
        raise InvalidQueryError("over_agg executor requires a bounded OVER frame")
    if spec.forward:
        return _execute_forward(ctx, sql, spec)
    if spec.unbounded:
        return _execute_unbounded(ctx, sql, spec)
    refs = referenced_views(sql, set(ctx.views))
    if len(refs) != 1:
        raise InvalidQueryError(f"over aggregation must read exactly one view, got {refs}")
    src = refs[0]
    prev_wm = ctx.prev_wms.get(src)
    new_wm = ctx.new_wms.get(src)

    incoming = ctx.views[src]
    if SEQ_INPUT not in incoming.columns:
        raise InvalidQueryError("over aggregation requires ledger-offset sequencing")
    cols = incoming.columns
    t = F.col(spec.time_col)

    # Lateness: a row at or before the run-start watermark was already
    # emittable (and its frame contribution consumed) — drop it.
    if prev_wm is not None:
        incoming = incoming.filter(t > F.lit(prev_wm))

    buffer_name = f"{ctx.step_key}-over-buffer"
    part_keys = list(spec.part_keys)
    untouched = None
    if ctx.state.has_df(buffer_name):
        prev_buf = ctx.state.load_df(buffer_name, schema=incoming.schema)
        if part_keys and state_split_worthwhile(ctx, buffer_name, src):
            # Touched-keys window: a key's frames can only change through
            # a new slice row OR a buffered pending row this watermark
            # advance releases — so probe the (bucketed) buffer with the
            # union of slice keys and released-row keys (semi/anti is
            # exchange-free on the buffer side) and run the window over
            # the touched subset alone. Untouched keys need only horizon
            # eviction, a partition-preserving filter over the bucketed
            # scan.
            incoming = ctx.pin(incoming)
            released = prev_buf
            if prev_wm is not None:
                released = released.filter(t > F.lit(prev_wm))
            released = (
                released.filter(t <= F.lit(new_wm))
                if new_wm is not None
                else released.limit(0)
            )
            probe = incoming.select(*part_keys).unionByName(
                released.select(*part_keys)
            )
            active_buf, untouched = split_touched_state(prev_buf, part_keys, probe)
            buf = ctx.pin(active_buf.unionByName(incoming))
        else:
            buf = ctx.pin(prev_buf.unionByName(incoming))
    else:
        buf = incoming  # first run: re-scan the source, skip the pin

    # One Catalyst window plan over the buffer; thread the ledger offset
    # through the projection for deterministic emission order, and break
    # equal-rowtime ties in ROWS frames by ledger offset (Flink leaves the
    # peer order of a ROWS frame on equal timestamps undefined; the ledger
    # offset is this engine's total arrival order).
    run_sql = sql
    if spec.kind == "rows":
        run_sql = _ROWS_ORDER_RE.sub(rf"\1, {SEQ_INPUT}\2", run_sql)
    run_sql = re.sub(
        r"^\s*select\s+", f"SELECT {SEQ_INPUT}, ", run_sql, count=1, flags=re.IGNORECASE
    )
    result = ctx.sql(run_sql, new_wm, **{src: buf})
    if spec.time_col not in result.columns:
        raise InvalidQueryError(
            f"over aggregation must project its rowtime attribute {spec.time_col!r} "
            f"(emission is gated on it)"
        )

    # Emit exactly the rows the watermark advance releases: (prev_wm, new_wm].
    # Buffer rows older than prev_wm exist only as frame context (already
    # emitted in a previous invocation).
    rt = F.col(spec.time_col)
    if new_wm is None:
        result = result.limit(0)
    else:
        result = result.filter(rt <= F.lit(new_wm))
        if prev_wm is not None:
            result = result.filter(rt > F.lit(prev_wm))

    # Evict state down to the frame horizon of any future (pending) row.
    def _evict(frame):
        if new_wm is None:
            return frame
        if spec.kind == "range":
            # A future row has ts > new_wm, so its frame reaches no deeper
            # than new_wm - h (inclusive bound kept for the ts == new_wm + ε
            # equality edge).
            return frame.filter(t >= F.lit(new_wm - spec.range_size))
        pending = frame.filter(t > F.lit(new_wm))
        w = Window.partitionBy(
            *[F.col(k) for k in spec.part_keys] or [F.lit(0)]
        ).orderBy(t.desc(), F.col(SEQ_INPUT).desc())
        context_rows = (
            frame.filter(t <= F.lit(new_wm))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= spec.rows_n)
            .drop("__rn")
        )
        return pending.unionByName(context_rows)

    still_open = _evict(buf).select(*cols)
    if untouched is not None:
        still_open = _evict(untouched).select(*cols).unionByName(still_open)
    ctx.state.save_df(
        buffer_name,
        still_open,
        bucket_by=part_keys or None,
        pre_partitioned=untouched is not None,
    )

    return StepResult(df=result, watermark=new_wm, order_cols=[spec.time_col, SEQ_INPUT])


def _execute_forward(ctx: StepContext, sql: str, spec) -> StepResult:
    """FORWARD-looking frames (beyond Flink parity — its planner rejects
    descending or FOLLOWING row-time frames): ORDER BY rowtime DESC with a
    PRECEDING bound, or ascending with a FOLLOWING bound (optionally
    two-sided, PRECEDING AND FOLLOWING). A row's frame contains rows at or
    AFTER its own rowtime, so it emits once the WATERMARK completes the
    frame: t + h <= wm for RANGE horizons, or once its n-th
    (rowtime, ledger-offset)-ordered follower is watermark-final for ROWS
    frames. Pure-forward context rows are themselves pending (later rows
    emit later), so state is exactly the pending suffix; two-sided frames
    additionally retain the backward context window. The output watermark
    lags by the forward horizon (cf. the interval join's output-wm lag) so
    downstream windowed steps never see these emissions as late."""
    from datetime import timedelta

    refs = referenced_views(sql, set(ctx.views))
    if len(refs) != 1:
        raise InvalidQueryError(f"over aggregation must read exactly one view, got {refs}")
    src = refs[0]
    prev_wm = ctx.prev_wms.get(src)
    new_wm = ctx.new_wms.get(src)

    incoming = ctx.views[src]
    if SEQ_INPUT not in incoming.columns:
        raise InvalidQueryError("over aggregation requires ledger-offset sequencing")
    cols = incoming.columns
    t = F.col(spec.time_col)
    if prev_wm is not None:
        incoming = incoming.filter(t > F.lit(prev_wm))

    buffer_name = f"{ctx.step_key}-over-fwd-buffer"
    if ctx.state.has_df(buffer_name):
        prev_buf = ctx.state.load_df(buffer_name, schema=incoming.schema)
        buf = ctx.pin(prev_buf.unionByName(incoming))
    else:
        buf = incoming

    # The user's SQL runs unmodified over (buffer ∪ slice) — Spark's
    # window functions evaluate DESC orderings and FOLLOWING frames
    # natively. ROWS frames get the ledger offset as the equal-rowtime
    # tie-break (matching the backward executor's arrival-order rule);
    # ROWS frames also get a LEAD marker over the canonical ascending
    # (rowtime, offset) order: the n-th follower's rowtime decides frame
    # completeness (beyond-watermark rows sort strictly after every final
    # row, so a marker beyond the watermark means the frame is not yet
    # complete).
    run_sql = sql
    if spec.kind == "rows":
        run_sql = _ROWS_ORDER_RE.sub(rf"\1, {SEQ_INPUT}\2", run_sql)
        run_sql = _ROWS_ORDER_DESC_RE.sub(rf"\1, {SEQ_INPUT} DESC \2", run_sql)
        part = (
            f"PARTITION BY {', '.join(spec.part_keys)} " if spec.part_keys else ""
        )
        marker = (
            f"LEAD({spec.time_col}, {spec.fwd_rows}) OVER "
            f"({part}ORDER BY {spec.time_col}, {SEQ_INPUT}) AS __fwd_lead_t"
        )
        run_sql = re.sub(
            r"^\s*select\s+", f"SELECT {marker}, ", run_sql, count=1,
            flags=re.IGNORECASE,
        )
    run_sql = re.sub(
        r"^\s*select\s+", f"SELECT {SEQ_INPUT}, ", run_sql, count=1, flags=re.IGNORECASE
    )
    result = ctx.sql(run_sql, new_wm, **{src: buf})
    if spec.time_col not in result.columns:
        raise InvalidQueryError(
            f"over aggregation must project its rowtime attribute {spec.time_col!r} "
            f"(emission is gated on it)"
        )

    rt = F.col(spec.time_col)
    out_wm = new_wm
    if new_wm is None:
        result = result.limit(0)
        still_open = buf
    elif spec.kind == "range":
        # Frame [t - back, t + fwd] completes when t + fwd <= wm.
        fwd = spec.fwd_range
        result = result.filter(rt <= F.lit(new_wm - fwd))
        if prev_wm is not None:
            result = result.filter(rt > F.lit(prev_wm - fwd))
        # Pending rows have t > new_wm - fwd; their backward context
        # reaches no deeper than new_wm - fwd - back.
        back = spec.range_size or timedelta(0)
        still_open = buf.filter(t >= F.lit(new_wm - fwd - back))
        out_wm = new_wm - fwd
    else:
        lead_t = F.col("__fwd_lead_t")
        emit_cond = lead_t.isNotNull() & (lead_t <= F.lit(new_wm))
        if prev_wm is not None:
            emit_cond = emit_cond & (lead_t > F.lit(prev_wm))
        result = result.filter(emit_cond)
        # Keep every beyond-watermark row plus, per key, the last
        # (fwd + back) watermark-final rows: final-but-incomplete rows are
        # the trailing <= fwd rows of the final ordering, and their
        # backward context adds at most `back` more.
        keep_n = spec.fwd_rows + (spec.rows_n or 0)
        pending = buf.filter(t > F.lit(new_wm))
        w = Window.partitionBy(
            *[F.col(k) for k in spec.part_keys] or [F.lit(0)]
        ).orderBy(t.desc(), F.col(SEQ_INPUT).desc())
        tail_rows = (
            buf.filter(t <= F.lit(new_wm))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= keep_n)
            .drop("__rn")
        )
        still_open = ctx.pin(pending.unionByName(tail_rows).select(*cols))
        # Output watermark: future emissions are exactly the pending rows
        # (rows whose frame the watermark has not yet completed); one
        # scalar min over the retained pending set bounds them. A ROWS
        # horizon is unbounded in TIME, so this is computed, not derived.
        pend_final = (
            buf.filter(t <= F.lit(new_wm))
            .withColumn(
                "__lt",
                F.lead(t, spec.fwd_rows).over(
                    Window.partitionBy(
                        *[F.col(k) for k in spec.part_keys] or [F.lit(0)]
                    ).orderBy(t.asc(), F.col(SEQ_INPUT).asc())
                ),
            )
            .filter(F.col("__lt").isNull() | (F.col("__lt") > F.lit(new_wm)))
        )
        min_pend = (
            pend_final.select(t.alias("__t"))
            .unionByName(pending.select(t.alias("__t")))
            .agg(F.min("__t"))
            .collect()[0][0]
        )
        if min_pend is not None:
            if new_wm.tzinfo is not None and min_pend.tzinfo is None:
                from datetime import timezone

                min_pend = min_pend.replace(tzinfo=timezone.utc)
            out_wm = min(new_wm, min_pend - timedelta(milliseconds=1))
    ctx.state.save_df(buffer_name, still_open)

    if "__fwd_lead_t" in result.columns:
        result = result.drop("__fwd_lead_t")
    return StepResult(df=result, watermark=out_wm, order_cols=[spec.time_col, SEQ_INPUT])


def _null_skip(fn, a, b):
    """Binary merge that treats NULL as the identity (SQL agg semantics)."""
    return (
        F.when(a.isNull(), b).when(b.isNull(), a).otherwise(fn(a, b))
    )


def _execute_unbounded(ctx: StepContext, sql: str, spec) -> StepResult:
    """UNBOUNDED PRECEDING frames: raw-row retention would grow without
    bound, so emitted history lives in a per-key ACCUMULATOR (running
    sum/count/min/max per aggregate; avg as a sum+count pair) — the same
    O(keys) state Flink's over-agg keeps. Pending (beyond-watermark) rows
    stay raw; each emission combines the buffer-local prefix aggregate
    with the accumulator."""
    aggs = [
        (
            m.group("fn").lower(),
            m.group("arg").strip("`").split(".")[-1] if m.group("arg") != "*" else "*",
            m.group("alias").strip("`"),
            m.group("over"),
        )
        for m in _AGG_OVER_RE.finditer(sql)
    ]
    n_over = len(re.findall(r"\bOVER\b", sql, re.IGNORECASE))
    if len(aggs) != n_over:
        raise InvalidQueryError(
            "unbounded over aggregation supports SUM/COUNT/MIN/MAX/AVG of a "
            "plain column (accumulator state needs mergeable aggregates)"
        )
    refs = referenced_views(sql, set(ctx.views))
    if len(refs) != 1:
        raise InvalidQueryError(f"over aggregation must read exactly one view, got {refs}")
    src = refs[0]
    prev_wm = ctx.prev_wms.get(src)
    new_wm = ctx.new_wms.get(src)

    incoming = ctx.views[src]
    if SEQ_INPUT not in incoming.columns:
        raise InvalidQueryError("over aggregation requires ledger-offset sequencing")
    t = F.col(spec.time_col)
    if prev_wm is not None:
        incoming = incoming.filter(t > F.lit(prev_wm))

    buffer_name = f"{ctx.step_key}-over-pending"
    acc_name = f"{ctx.step_key}-over-acc"
    if ctx.state.has_df(buffer_name):
        prev_buf = ctx.state.load_df(buffer_name, schema=incoming.schema)
        buf = ctx.pin(prev_buf.unionByName(incoming))
    else:
        buf = incoming

    # Buffer-local prefix aggregates: the user's SQL plus AVG's hidden
    # sum/count companions (an average of averages doesn't merge).
    run_sql = _ROWS_ORDER_RE.sub(rf"\1, {SEQ_INPUT}\2", sql)
    run_sql = re.sub(
        r"^\s*select\s+", f"SELECT {SEQ_INPUT}, ", run_sql, count=1, flags=re.IGNORECASE
    )
    # AVG's hidden sum/count companions lead the select list (injecting
    # before a FROM token would land inside EXTRACT(x FROM y)-style
    # expressions); they are dropped after the accumulator combine, so
    # output column order is unaffected.
    companions = ", ".join(
        f"SUM({arg}) {over} AS __os_{alias}, COUNT({arg}) {over} AS __oc_{alias}"
        for fn, arg, alias, over in aggs
        if fn == "avg"
    )
    if companions:
        run_sql = re.sub(
            r"^\s*select\s+", f"SELECT {companions}, ", run_sql, count=1,
            flags=re.IGNORECASE,
        )
        run_sql = _ROWS_ORDER_RE.sub(rf"\1, {SEQ_INPUT}\2", run_sql)
    local = ctx.sql(run_sql, new_wm, **{src: buf})
    if spec.time_col not in local.columns:
        raise InvalidQueryError(
            f"over aggregation must project its rowtime attribute {spec.time_col!r}"
        )

    # Accumulator schema: keys + one (or two, for avg) columns per alias.
    local_types = {f.name: f.dataType for f in local.schema.fields}
    keys = list(spec.part_keys)
    acc_fields = []
    for fn, arg, alias, _ in aggs:
        if fn == "sum":
            acc_fields.append((f"__a_sum_{alias}", local_types[alias]))
        elif fn == "count":
            acc_fields.append((f"__a_cnt_{alias}", local_types[alias]))
        elif fn in ("min", "max"):
            acc_fields.append((f"__a_{fn}_{alias}", local_types[alias]))
        else:  # avg
            acc_fields.append((f"__a_sum_{alias}", local_types[f"__os_{alias}"]))
            acc_fields.append((f"__a_cnt_{alias}", local_types[f"__oc_{alias}"]))
    from pyspark.sql.types import StructField, StructType

    buf_types = {f.name: f.dataType for f in buf.schema.fields}
    acc_schema = StructType(
        [StructField(k, buf_types[k]) for k in keys]
        + [StructField(n, dt) for n, dt in acc_fields]
    )
    acc = ctx.state.load_df(acc_name, schema=acc_schema)

    # Touched-keys accumulator: only keys with buffered/slice rows can
    # read or revise their accumulator this invocation, so probe the
    # (bucketed) accumulator table with the buffer's key set — semi/anti
    # exchange-free on the state side — and join/merge the touched subset
    # alone; untouched accumulators flow straight to the state save.
    untouched_acc = None
    if keys and state_split_worthwhile(ctx, acc_name, src):
        acc, untouched_acc = split_touched_state(acc, keys, buf.select(*keys))

    # Combine buffer-local prefix values with the accumulator per key.
    join_keys = keys or ["__gk"]
    if not keys:
        local = local.withColumn("__gk", F.lit(0))
        acc = acc.withColumn("__gk", F.lit(0))
    # No broadcast hint: the accumulator table is one row per DISTINCT
    # partition key — unbounded at scale (user_id-grade cardinality would
    # OOM the driver's broadcast build). Spark's size-based planning picks
    # broadcast when acc actually fits (cf. window_agg.py session-state
    # join for the same pattern).
    combined = local.join(acc, join_keys, "left")
    for fn, arg, alias, _ in aggs:
        a = F.col(alias)
        if fn == "sum":
            combined = combined.withColumn(
                alias,
                _null_skip(lambda x, y: x + y, F.col(f"__a_sum_{alias}"), a).cast(
                    local_types[alias]
                ),
            )
        elif fn == "count":
            combined = combined.withColumn(
                alias, (F.coalesce(F.col(f"__a_cnt_{alias}"), F.lit(0)) + a).cast(
                    local_types[alias]
                )
            )
        elif fn in ("min", "max"):
            merge = F.least if fn == "min" else F.greatest
            combined = combined.withColumn(
                alias, _null_skip(lambda x, y: merge(x, y), F.col(f"__a_{fn}_{alias}"), a)
            )
        else:  # avg: (base_sum + local_sum) / (base_cnt + local_cnt)
            s = _null_skip(
                lambda x, y: x + y, F.col(f"__a_sum_{alias}"), F.col(f"__os_{alias}")
            )
            c = F.coalesce(F.col(f"__a_cnt_{alias}"), F.lit(0)) + F.col(f"__oc_{alias}")
            combined = combined.withColumn(
                alias,
                F.when(c > 0, s / c).otherwise(F.lit(None)).cast(local_types[alias]),
            )
    drop_cols = [n for n, _ in acc_fields] + [
        c for c in combined.columns if c.startswith(("__os_", "__oc_"))
    ]
    if not keys:
        drop_cols.append("__gk")
    result = combined.drop(*dict.fromkeys(drop_cols))

    rt = F.col(spec.time_col)
    if new_wm is None:
        result = result.limit(0)
        keep_acc = acc.drop("__gk") if not keys else acc
        if untouched_acc is not None:
            keep_acc = untouched_acc.unionByName(keep_acc)
        ctx.state.save_df(buffer_name, buf)
        ctx.state.save_df(
            acc_name, keep_acc, keys or None,
            pre_partitioned=untouched_acc is not None,
        )
        return StepResult(df=result, watermark=new_wm,
                          order_cols=[spec.time_col, SEQ_INPUT])
    result = result.filter(rt <= F.lit(new_wm))
    if prev_wm is not None:
        result = result.filter(rt > F.lit(prev_wm))

    # Fold this run's emitted rows into the accumulator; keep beyond-
    # watermark rows raw.
    t = F.col(spec.time_col)
    emitted = buf.filter(t <= F.lit(new_wm))
    upd_aggs, merge_aggs = [], []
    for fn, arg, alias, _ in aggs:
        argc = F.lit(1) if arg == "*" else F.col(arg)
        if fn == "sum":
            nm, tpe = f"__a_sum_{alias}", local_types[alias]
            upd_aggs.append(F.sum(argc).cast(tpe).alias(nm))
            merge_aggs.append(F.sum(nm).cast(tpe).alias(nm))
        elif fn == "count":
            nm, tpe = f"__a_cnt_{alias}", local_types[alias]
            upd_aggs.append(F.count(argc).cast(tpe).alias(nm))
            merge_aggs.append(F.sum(nm).cast(tpe).alias(nm))
        elif fn in ("min", "max"):
            nm = f"__a_{fn}_{alias}"
            agg_fn = F.min if fn == "min" else F.max
            upd_aggs.append(agg_fn(argc).alias(nm))
            merge_aggs.append(agg_fn(nm).alias(nm))
        else:  # avg
            snm, cnm = f"__a_sum_{alias}", f"__a_cnt_{alias}"
            stp = local_types[f"__os_{alias}"]
            ctp = local_types[f"__oc_{alias}"]
            upd_aggs.append(F.sum(argc).cast(stp).alias(snm))
            upd_aggs.append(F.count(argc).cast(ctp).alias(cnm))
            merge_aggs.append(F.sum(snm).cast(stp).alias(snm))
            merge_aggs.append(F.sum(cnm).cast(ctp).alias(cnm))
    # De-dup alias collisions (an avg can share its sum name with a sum of
    # the same alias only if aliases repeat, which SQL forbids).
    upd = emitted.groupBy(*[F.col(k) for k in keys] if keys else []).agg(*upd_aggs)
    acc_cols = [f.name for f in acc_schema.fields]
    old_acc = acc.drop("__gk") if not keys else acc
    new_acc = (
        old_acc.select(*acc_cols)
        .unionByName(upd.select(*acc_cols))
        .groupBy(*keys)
        .agg(*merge_aggs)
        .select(*acc_cols)
    )
    if untouched_acc is not None:
        new_acc = untouched_acc.select(*acc_cols).unionByName(new_acc)
    ctx.state.save_df(
        acc_name, new_acc, keys or None,
        pre_partitioned=untouched_acc is not None,
    )
    ctx.state.save_df(buffer_name, buf.filter(t > F.lit(new_wm)))

    return StepResult(df=result, watermark=new_wm, order_cols=[spec.time_col, SEQ_INPUT])
