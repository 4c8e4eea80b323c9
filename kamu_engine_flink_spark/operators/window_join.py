"""Stateful window join (Flink 1.14+ TVF feature).

`TABLE(TUMBLE(TABLE a, ...)) L JOIN TABLE(TUMBLE(TABLE b, ...)) R ON
L.window_start = R.window_start AND ...` joins the rows of two streams
that fall into the same window, emitting when the window closes. Part of
the Flink SQL surface the reference exposes by planner delegation
(TransformEngine.scala:252-262). TUMBLE / HOP / CUMULATE window kinds.

Spark-first derivation: both sides ride the same raw-row buffer the
windowed aggregation uses (window_agg.py) — a row stays buffered until
the EFFECTIVE watermark (min of both inputs, the Flink two-input
watermark rule) passes the end of the LAST window containing it. Each
invocation expands window instances over the full buffers (the dialect's
TVF subquery: one row per (row, containing window) pair), keeps only the
instances of windows that closed THIS invocation — window_end in
(prev_wm, new_wm] — and runs the user's join SQL over those instance
sets as one Catalyst plan: a plain shuffle-or-broadcast hash join on
(window_start, window_end, keys).

Watermarks are monotone, so every window instance closes in exactly one
invocation and emission is exactly-once without any result-level dedup.
Filtering window INSTANCES per side (not raw rows) is what makes
HOP/CUMULATE correct across invocations: a row's earlier hop windows can
close while its later ones are still open, and two rows sharing a window
can leave the buffer at different watermarks — pairing them through the
shared closed-instance set is slice-invariant either way. Late rows
(every containing window already closed) drop at ingest; a partially
late row contributes only to its still-open windows, matching Flink's
per-window late-data rule.
"""

from __future__ import annotations

import re
from datetime import timedelta

from pyspark.sql import functions as F

from ..plans.classify import _WINDOW_TVF_RE, interval_to_timedelta
from ..plans.dialect import window_tvf_subquery
from ..protocol.model import InvalidQueryError
from .base import StepContext, StepResult, min_watermark


def _max_window_end(tcol: str, align: timedelta, size: timedelta):
    """Timestamp expression for the end of the LAST window containing a
    row at `tcol`: floor(t / align) * align + size, where align = the
    window size for TUMBLE/CUMULATE and the slide for HOP. Integer
    epoch-microsecond arithmetic (non-negative epochs, same contract as
    hop_starts_sql), JVM-side codegen."""
    align_us = int(align.total_seconds() * 1_000_000)
    size_us = int(size.total_seconds() * 1_000_000)
    return F.expr(
        f"timestamp_micros((unix_micros({tcol}) DIV {align_us}) * {align_us} "
        f"+ {size_us})"
    )


def execute_window_join(ctx: StepContext, sql: str) -> StepResult:
    tvfs = list(_WINDOW_TVF_RE.finditer(sql))
    if len(tvfs) != 2:
        raise InvalidQueryError("window join requires exactly two window TVFs")
    kinds = {m.group(1).upper() for m in tvfs}
    if len(kinds) != 1:
        raise InvalidQueryError("window join requires the same TVF kind on both sides")
    kind = kinds.pop()
    sides = []
    for m in tvfs:
        view, tcol = m.group(2).strip("`"), m.group(3)
        if view not in ctx.views:
            raise InvalidQueryError(f"window join reads unknown view {view!r}")
        if kind != "TUMBLE" and m.group(6) is None:
            raise InvalidQueryError(f"{kind} TVF takes two intervals")
        ivals = tuple(
            interval_to_timedelta(m.group(i), m.group(i + 1))
            for i in (4, 6)
            if m.group(i) is not None
        )
        # Eviction horizon: the last containing window ends at
        # floor(t/align)*align + size. TUMBLE: align = size. HOP: windows
        # start on slide boundaries, so align = slide (the tumble-of-size
        # end UNDERESTIMATES it — e.g. size 10m/slide 5m, row at :09 has a
        # hop window open until :15 but tumble end :10). CUMULATE: every
        # window of a span ends by span_start + size, the size-tumble end.
        size = ivals[-1]
        align = ivals[0] if kind == "HOP" else size
        sides.append(
            (
                view,
                tcol.split(".")[-1].strip("`"),
                m.group(4, 5, 6, 7),
                ivals,
                align,
                size,
            )
        )
    if sides[0][3] != sides[1][3]:
        raise InvalidQueryError("window join requires identical window specs")
    # Self-join (both TVFs over the same view, same time column and
    # window args — Flink permits it): buffer and expand the side ONCE
    # and bind BOTH spans to the same closed-instances view; the user's
    # own table aliases disambiguate the join. A same-view join with a
    # DIFFERENT descriptor column falls through to the generic two-buffer
    # path, which is already side-indexed.
    self_same = sides[0] == sides[1]

    # Flink's planner only recognizes a window join when the ON clause
    # equates the window bounds of both sides; without that predicate the
    # executor below would join rows from DIFFERENT windows that happen to
    # close in the same invocation — output would depend on how the input
    # is sliced. (Identical window specs make start equality imply end
    # equality, so one bound suffices.)
    on_m = re.search(
        r"\bON\b(?P<on>.*?)(?:\bWHERE\b|\bGROUP\s+BY\b|$)",
        sql,
        re.IGNORECASE | re.DOTALL,
    )
    on_text = on_m.group("on") if on_m else ""
    if not re.search(
        r"[`\w.]*\bwindow_(start|end)`?\s*=\s*[`\w.]*\bwindow_(start|end)\b",
        on_text,
        re.IGNORECASE,
    ):
        raise InvalidQueryError(
            "window join requires window-bound equality in the ON clause "
            "(e.g. L.window_start = R.window_start); Flink would otherwise "
            "run this as a regular streaming join over all rows"
        )
    if kind == "CUMULATE" and not re.search(
        r"[`\w.]*\bwindow_end`?\s*=\s*[`\w.]*\bwindow_end\b",
        on_text,
        re.IGNORECASE,
    ):
        # Every cumulative window of one period shares window_start, so
        # start equality alone would join rows across DIFFERENT cumulative
        # instances; ends are period-aligned step multiples and identify
        # the instance uniquely. (TUMBLE and HOP are fine with start-only:
        # identical specs make start -> end = start + size.)
        raise InvalidQueryError(
            "CUMULATE window join requires window_end equality in the ON "
            "clause (window_start is shared by every cumulative window of "
            "a period)"
        )

    # Two-input watermark rule: the operator's clock is the slower input —
    # and an input that never published a watermark holds the combined
    # clock at MIN_VALUE (Flink's rule; same guard as interval_join.py).
    # Collapsing to the present side would close windows the absent side
    # can still write into, silently dropping its late-arriving partners.
    prev_sides = [ctx.prev_wms.get(v) for v, *_ in sides]
    new_sides = [ctx.new_wms.get(v) for v, *_ in sides]
    prev_wm = min_watermark(*prev_sides) if all(w is not None for w in prev_sides) else None
    new_wm = min_watermark(*new_sides) if all(w is not None for w in new_sides) else None

    inst_names = []
    insts = {}  # closed-instance view name -> frame
    for side_idx, (view, tcol, groups, _ivals, align, size) in enumerate(sides):
        if side_idx == 1 and self_same:
            inst_names.append(inst_names[0])
            continue
        incoming = ctx.views[view]
        cols = incoming.columns
        max_end = _max_window_end(tcol, align, size)
        if prev_wm is not None:
            # Fully-late rows (every containing window already emitted)
            # drop at ingest, Flink's late-data rule.
            incoming = incoming.filter(max_end > F.lit(prev_wm)).select(*cols)
        buffer_name = f"{ctx.step_key}-wjoin-{side_idx}"
        if ctx.state.has_df(buffer_name):
            prev_buf = ctx.state.load_df(buffer_name, schema=incoming.schema)
            buf = ctx.pin(prev_buf.unionByName(incoming))
        else:
            buf = incoming
        if new_wm is not None:
            still_open = buf.filter(max_end > F.lit(new_wm)).select(*cols)
        else:
            still_open = buf
        ctx.state.save_df(buffer_name, still_open)

        # Expand window instances over the FULL buffer, keep only the
        # instances of windows closing THIS invocation.
        raw_name = f"__wjoin_buf{side_idx}"
        sub = window_tvf_subquery(kind, raw_name, tcol, *groups)
        inst = ctx.sql(f"SELECT * FROM {sub} __w{side_idx}", **{raw_name: buf})
        if new_wm is None:
            inst = inst.limit(0)
        else:
            inst = inst.filter(F.col("window_end") <= F.lit(new_wm))
            if prev_wm is not None:
                inst = inst.filter(F.col("window_end") > F.lit(prev_wm))
        inst_name = f"__wjoin_closed{side_idx}"
        insts[inst_name] = inst
        inst_names.append(inst_name)

    # Swap each TVF span for its closed-instance view (right-to-left so
    # the earlier match's span stays valid); the trailing alias and the
    # rest of the query are untouched, and the instance views already
    # carry window_start/window_end as ordinary columns.
    rewritten = sql
    for m, inst_name in sorted(
        zip(tvfs, inst_names), key=lambda p: -p[0].start()
    ):
        rewritten = rewritten[: m.start()] + inst_name + rewritten[m.end() :]
    result = ctx.sql(rewritten, new_wm, **insts)

    # Deterministic emission order: output event-time column (usually the
    # projected window_start) first, remaining columns as tie-breakers.
    order_cols = list(result.columns)
    et = ctx.request.vocab.event_time_column
    if et in order_cols:
        order_cols.remove(et)
        order_cols.insert(0, et)
    return StepResult(df=result, watermark=new_wm, order_cols=order_cols)
