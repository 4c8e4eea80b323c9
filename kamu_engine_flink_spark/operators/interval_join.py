"""Stateful stream-to-stream interval join (INNER and LEFT).

Reference semantics (README.md "Stream-To-Stream Joins",
EngineJoinStreamToStreamTest.scala:88-477): equi-join plus a time-range
bound `r.event_time BETWEEN l.event_time AND l.event_time + I`. A matched
pair emits as soon as both rows exist (possibly in different invocations —
join buffers persist). For LEFT joins, the NULL-padded row for an unmatched
left row emits only once the right-side watermark proves no match can
arrive (wm_r > l.event_time + upper). The output watermark lags the inputs
by the join interval (test: inputs at 10/11 -> output 8 with a 2-day upper,
EngineJoinStreamToStreamTest.scala:204-216).

Spark-first derivation: per-side persisted buffers with a __matched flag on
the left. Pair-uniqueness across invocations needs no emitted-ledger: a
pair is new iff at least one side is new this run, so the join runs as
new_left x all_right UNION old_left x new_right — two shuffles over
buffers bounded by the interval + watermark horizon (Flink's cleanup rule:
purge left when wm_r passes et+upper, right when wm_l passes et).

Measured design note: the bucketed-state / incremental-flag variant used by
the regular join (old-x-new probes, exchange-free buffer scans) was tried
and REJECTED here — sf0.1 3-invocation stress went 5.2s -> 8.3s. Unlike the
regular join's unbounded history, these buffers are horizon-bounded, so six
small probe joins plus per-invocation bucketed-write machinery lose to two
cached buffer-x-buffer joins at any realistic buffer size; the union-pinned
layout below is the measured optimum.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from ..plans.classify import parse_interval_join
from ..protocol.model import InvalidQueryError
from .base import StepContext, StepResult, min_watermark

_MATCHED = "__matched"
_OUTER_JOIN_RE = re.compile(r"\b(?:LEFT|RIGHT|FULL)\s+(?:OUTER\s+)?JOIN\b", re.IGNORECASE)


def execute_interval_join(ctx: StepContext, sql: str) -> StepResult:
    spec = parse_interval_join(sql, set(ctx.views))
    if spec is None:
        raise InvalidQueryError("interval join executor could not parse the join shape")
    lv, rv = spec.left_view, spec.right_view
    wm_l, wm_r = ctx.new_wms.get(lv), ctx.new_wms.get(rv)

    left_state = f"{ctx.step_key}-left-buffer"
    right_state = f"{ctx.step_key}-right-buffer"
    new_left = ctx.views[lv].withColumn(_MATCHED, F.lit(False))
    old_left = ctx.state.load_df(left_state, schema=new_left.schema)
    new_right = ctx.views[rv]
    if spec.is_right_outer:
        new_right = new_right.withColumn(_MATCHED, F.lit(False))
    old_right = ctx.state.load_df(right_state, schema=new_right.schema)
    # Each side's union feeds several join branches plus the state save —
    # pin so every consumer reads one cached copy, not the slices again.
    all_left = ctx.pin(old_left.unionByName(new_left))
    all_right = ctx.pin(old_right.unionByName(new_right))

    inner_sql = _OUTER_JOIN_RE.sub("JOIN", sql)
    # BOTH watermarks must exist for a joint one (Flink's two-input rule:
    # an input with no watermark holds the combined watermark at
    # MIN_VALUE). Collapsing to the present side would publish an output
    # watermark the absent side can still write beneath. Matched pairs
    # still emit (a pair is final once both rows exist); only the
    # watermark-driven parts (pads, purges, output wm) hold back.
    joint_wm = (
        min_watermark(wm_l, wm_r) if wm_l is not None and wm_r is not None else None
    )
    # New matched pairs: at least one side arrived this invocation.
    def _r(df):
        return df.drop(_MATCHED) if spec.is_right_outer else df

    matches = ctx.sql(
        inner_sql, joint_wm, **{lv: new_left.drop(_MATCHED), rv: _r(all_right)}
    ).unionByName(
        ctx.sql(
            inner_sql, joint_wm, **{lv: old_left.drop(_MATCHED), rv: _r(new_right)}
        )
    )

    # Update matched flags: a left row is matched if any right row (old or
    # new) satisfies the raw join condition. The ON text uses the query's
    # own aliases, so alias the frames the same way. INNER joins never
    # read the flag (no pads; purge is horizon-only), so they skip the
    # semi/anti flag joins entirely.
    if spec.is_left_outer:
        cond = F.expr(spec.on_condition)
        matched_now = (
            all_left.drop(_MATCHED)
            .alias(spec.left_alias)
            .join(_r(all_right).alias(spec.right_alias), cond, "left_semi")
            .withColumn(_MATCHED, F.lit(True))
        )
        # Rows with no match among the CURRENT buffers keep their old flag:
        # a row matched in a previous run stays matched even after its
        # partner was purged from the right buffer.
        not_matching_now = all_left.alias(spec.left_alias).join(
            _r(all_right).alias(spec.right_alias), cond, "left_anti"
        )
        # NOT pinned even though the state save and the pad emission both
        # consume it: materializing the flag joins eagerly serializes two
        # otherwise-parallel plans and blocks AQE (measured ~12% slower
        # per invocation at sf0.1 than recomputing).
        flagged_left = matched_now.unionByName(not_matching_now)
    else:
        flagged_left = all_left

    emit_parts = [matches]

    # LEFT join: NULL-pad left rows whose horizon passed without a match.
    if spec.is_left_outer:
        lt = F.col(spec.left_time_col)
        horizon_passed = (
            (lt + F.expr(f"INTERVAL {int(spec.upper.total_seconds())} SECOND")) < F.lit(wm_r)
            if wm_r is not None
            else F.lit(False)
        )
        pad_lefts = flagged_left.filter(~F.col(_MATCHED)).filter(horizon_passed).drop(_MATCHED)
        empty_right = _r(all_right).limit(0)
        emit_parts.append(ctx.sql(sql, joint_wm, **{lv: pad_lefts, rv: empty_right}))

    # RIGHT/FULL: NULL-pad right rows whose match horizon passed — a right
    # row r matches lefts with l.et in [r.et - upper, r.et - lower]; once
    # wm_l proves no such left can still arrive (wm_l > r.et - lower), r
    # is final. Pad exactly at purge time, so each right row pads once.
    if spec.is_right_outer:
        rcond = F.expr(spec.on_condition)
        r_matched_now = (
            all_right.drop(_MATCHED)
            .alias(spec.right_alias)
            .join(all_left.drop(_MATCHED).alias(spec.left_alias), rcond, "left_semi")
            .withColumn(_MATCHED, F.lit(True))
        )
        r_not_matching = all_right.alias(spec.right_alias).join(
            all_left.drop(_MATCHED).alias(spec.left_alias), rcond, "left_anti"
        )
        flagged_right = r_matched_now.unionByName(r_not_matching)
        rt_col = F.col(spec.right_time_col)
        r_horizon_passed = (
            rt_col < F.lit(wm_l + spec.lower) if wm_l is not None else F.lit(False)
        )
        pad_rights = (
            flagged_right.filter(~F.col(_MATCHED)).filter(r_horizon_passed).drop(_MATCHED)
        )
        empty_left = new_left.drop(_MATCHED).limit(0)
        emit_parts.append(
            ctx.sql(sql, joint_wm, **{lv: empty_left, rv: pad_rights})
        )
    else:
        flagged_right = all_right

    result = emit_parts[0]
    for part in emit_parts[1:]:
        result = result.unionByName(part)

    # State cleanup (Flink interval-join horizon math): left rows survive
    # until wm_r passes et+upper; right rows until wm_l passes their et.
    keep_left = flagged_left
    if wm_r is not None:
        lt = F.col(spec.left_time_col)
        keep_left = flagged_left.filter(
            (lt + F.expr(f"INTERVAL {int(spec.upper.total_seconds())} SECOND")) >= F.lit(wm_r)
        )
    keep_right = flagged_right
    if wm_l is not None:
        # A right row r matches lefts with l.et ∈ [r.et - upper, r.et - lower];
        # future lefts have et >= wm_l, so r is dead once r.et - lower < wm_l.
        # (lower=0 for the standard orientation; -I for the mirrored
        # BETWEEN, where purging at r.et < wm_l would drop rows future
        # lefts can still match.)
        keep_right = flagged_right.filter(
            F.col(spec.right_time_col) >= F.lit(wm_l + spec.lower)
        )
    ctx.state.save_df(left_state, keep_left)
    ctx.state.save_df(right_state, keep_right)

    out_wm = None
    if joint_wm is not None:
        out_wm = joint_wm - spec.upper

    order_cols = list(result.columns)
    out_et = ctx.request.vocab.event_time_column
    if out_et in order_cols:
        order_cols.remove(out_et)
        order_cols.insert(0, out_et)
    return StepResult(df=result, watermark=out_wm, order_cols=order_cols)
