"""Stateless map/filter step.

Projection, filtering, scalar expressions and anything else Spark SQL can
evaluate row-wise (EngineMapTest parity). Corrections/retractions flow
through untouched: `op` is an ordinary visible column
(EngineMapTest.scala:149-231, SURVEY.md §1.4).

Emission order must follow the input ledger (offset order) for the output
offset contract. The engine exposes the ledger offset as a `__seq` column
on input views; for simple single-SELECT steps we thread it through the
projection so ordering survives arbitrary Spark physical plans. Complex
shapes (set ops, subqueries) fall back to natural order. An
order-preserving projection (`ordered_shape`) over a seq_ordered view
emits rows already in `__seq` order, and is marked so the output numbers
them by position instead of sorting.
"""

from __future__ import annotations

import re

from ..plans.classify import referenced_views
from .base import OP_COL, SEQ_INPUT, StepContext, StepResult, min_watermark

_SIMPLE_SELECT_RE = re.compile(r"^\s*select\s+", re.IGNORECASE)


def _inject_seq(sql: str) -> str | None:
    """Thread __seq through a single-block SELECT; None if unsafe."""
    from ..plans.classify import select_count

    if select_count(sql) != 1:
        return None
    if re.search(r"\b(group\s+by|union|distinct|order\s+by|limit)\b", sql, re.IGNORECASE):
        return None
    if SEQ_INPUT in sql or re.search(
        r"(?:\bselect|,)\s*(?:[`\w]+\s*\.\s*)?\*", sql, re.IGNORECASE
    ):
        # A star projection — bare `*` or qualified `t.*`, leading or
        # mid-list — already expands the view's __seq; injecting another
        # would duplicate the column and make the output-ordering
        # reference ambiguous. (`price * 10` does not match: its `*` is
        # preceded by an operand, not SELECT or a comma.)
        return sql
    return _SIMPLE_SELECT_RE.sub(f"SELECT {SEQ_INPUT}, ", sql, count=1)


def ordered_shape(sql: str, refs: list[str], *, allow_where: bool = True) -> bool:
    """True when `sql` is TEXTUALLY an order-preserving projection over a
    single view: one SELECT block whose rows come out in its input's
    physical order, so a seq_ordered input gives a seq_ordered emission
    (transform._assemble_output then numbers rows by position). A WHERE
    drops rows but keeps their order; `allow_where=False` also demands
    1:1 rows. Conservative: any row-multiplying or order-destroying
    construct disqualifies, as does the SQL naming __seq itself (the
    forwarded column may then not be the ledger seq). Includes the
    _inject_seq gate, so it also excludes GROUP BY / UNION / DISTINCT /
    ORDER BY / LIMIT and multi-SELECT shapes. Pure SQL-shape predicate
    (no ctx): the stamp gate in engine/transform uses it to PREDICT, at
    stamp time, whether a chain reaches the output as 1:1 projections."""
    from ..plans.classify import mask_sql

    if len(refs) != 1:
        return False
    if SEQ_INPUT in sql:
        return False
    if _inject_seq(sql) is None:
        return False
    masked = mask_sql(sql, parens=True)
    if re.search(
        r"\bjoin\b|\bover\b|\bunnest\b|\blateral\b|\b(?:pos)?explode(?:_outer)?\b"
        r"|\binline(?:_outer)?\b|\bstack\b|\btablesample\b|\boffset\b"
        # Hive-style clauses and hints repartition or reorder rows.
        r"|\b(?:sort|distribute|cluster)\s+by\b|/\*\+"
        + ("" if allow_where else r"|\bwhere\b"),
        masked,
        re.IGNORECASE,
    ):
        return False
    # Exactly one plain FROM item — a comma'd FROM list is a join.
    m = re.search(r"\bfrom\b(.*)$", masked, re.IGNORECASE | re.DOTALL)
    if m is None or "," in m.group(1):
        return False
    return True


def _changelog_filter(ctx: StepContext, sql: str, src: str, wm) -> StepResult:
    """WHERE over an updating alias — Flink's filter on a retraction
    stream. Plain op 0/1 rows filter directly; an op 2/3 correction pair
    (ADJACENT in emission order by the changelog contract) rewrites by
    which halves pass the predicate: both -> the pair forwards; only the
    old -> an op-1 DELETE (the row leaves the filtered view); only the
    new -> an op-0 INSERT (it enters); neither -> nothing. One windowed
    pass over the per-invocation emission, which the engine already
    single-partition seq-stamps — O(emission), no state."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..plans.classify import mask_sql
    from ..protocol.model import InvalidQueryError

    # Locate the TOP-LEVEL keywords on a masked copy (literal contents and
    # paren-nested regions blanked): an EXTRACT(... FROM col) in the
    # projection or a string literal containing 'where'/'from' must not
    # derail the splice. Masked positions transfer 1:1 to the original.
    masked = mask_sql(sql, parens=True)
    m = re.search(r"\bwhere\b", masked, re.IGNORECASE)
    fm = re.search(r"\bfrom\b", masked, re.IGNORECASE)
    if m is None or fm is None or fm.start() > m.start():
        raise InvalidQueryError(
            "could not locate the top-level FROM/WHERE of a filter over an "
            "updating (changelog-emitting) alias"
        )
    head, pred = sql[: m.start()], sql[m.end() :].strip()
    extras = f"CAST(({pred}) AS BOOLEAN) AS __flt"
    if not re.search(
        r"(?:\bselect|,)\s*(?:[`\w]+\s*\.\s*)?\*",
        masked[: m.start()],
        re.IGNORECASE,
    ):
        # The predicate evaluates against the VIEW's columns (same scope
        # as the original WHERE); a star projection already expands the
        # internal seq/op columns.
        extras = f"{SEQ_INPUT}, {OP_COL}, " + extras
    inner_sql = head[: fm.start()] + ", " + extras + " " + head[fm.start() :]
    df = ctx.sql(inner_sql, wm)
    w = Window.partitionBy(F.lit(0)).orderBy(SEQ_INPUT)
    flt = F.coalesce(F.col("__flt"), F.lit(False))
    prev_flt = F.coalesce(F.lag("__flt").over(w), F.lit(False))
    next_flt = F.coalesce(F.lead("__flt").over(w), F.lit(False))
    op = F.col(OP_COL)
    result = (
        df.withColumn(
            OP_COL,
            F.when((op == 2) & ~next_flt, F.lit(1))
            .when((op == 3) & ~prev_flt, F.lit(0))
            .otherwise(op)
            .cast("int"),
        )
        .filter(flt)
        .drop("__flt")
    )
    return StepResult(df=result, watermark=wm, order_cols=[SEQ_INPUT])


def _split_union_all(sql: str) -> list[str] | None:
    """Top-level UNION ALL segments (literal/paren-masked scan), or None
    when the query has no top-level UNION ALL. Bare UNION / INTERSECT /
    EXCEPT at top level return None too — the caller's generic reject
    explains them (set-distinct over a changelog would misread op rows)."""
    from ..plans.classify import mask_sql

    masked = mask_sql(sql, parens=True)
    if re.search(r"\b(intersect|except|minus)\b", masked, re.IGNORECASE):
        return None
    if re.search(r"\bunion\b(?!\s+all\b)", masked, re.IGNORECASE):
        return None
    parts, last = [], 0
    for m in re.finditer(r"\bunion\s+all\b", masked, re.IGNORECASE):
        parts.append(sql[last : m.start()])
        last = m.end()
    parts.append(sql[last:])
    return parts if len(parts) > 1 else None


UNION_BRANCH = "__union_branch"


def _changelog_union(
    ctx: StepContext, segs: list[str], wm, /, **bindings
) -> StepResult:
    """UNION ALL with at least one UPDATING input — Flink unions
    changelogs freely (the result is an updating stream). Each branch is
    a single-view projection; op tags forward per branch (an append-only
    branch contributes op-0 inserts), and emission orders branch-major so
    each input's correction-pair adjacency survives — any interleaving
    preserving per-input order is a valid changelog. Stateless: one
    unionByName, no shuffle. `bindings` are extra views the branches
    read (a set operation's sub-step changelogs)."""
    from pyspark.sql import functions as F

    from ..plans.classify import mask_sql
    from ..protocol.model import InvalidQueryError

    branches = []
    for bi, seg in enumerate(segs):
        seg = seg.strip()
        srefs = referenced_views(seg, set(ctx.views))
        if len(srefs) != 1:
            raise InvalidQueryError(
                "each UNION ALL branch over an updating (changelog-"
                "emitting) alias must be a single-view projection"
            )
        src = srefs[0]
        is_cl = OP_COL in ctx.views[src].columns
        masked_seg = mask_sql(seg, parens=True)
        # Literal-only mask for the join/OVER guard: the paren mask blanks
        # every '(' so `over\s*\(` could never match there — a window
        # aggregate branch would silently compute over retraction rows.
        masked_lit = mask_sql(seg)
        if re.search(r"\bjoin\b|\bover\s*\(", masked_lit, re.IGNORECASE):
            raise InvalidQueryError(
                "UNION ALL branches over an updating alias must be plain "
                "projections — join/window in a separate step first"
            )
        if is_cl and re.search(r"\bwhere\b", masked_seg, re.IGNORECASE):
            raise InvalidQueryError(
                "a WHERE on an updating UNION ALL branch must run as its "
                "own step before the union (correction pairs rewrite "
                "there)"
            )
        run = _inject_seq(seg)
        if run is None:
            raise InvalidQueryError(
                f"unsupported UNION ALL branch shape over an updating "
                f"alias: {seg[:60]!r}"
            )
        # A star branch expands the view's __op at execution even though
        # the TEXT doesn't mention it — injecting another would duplicate
        # the column and break the later unionByName (same detection as
        # _inject_seq's star rule).
        star = re.search(
            r"(?:\bselect|,)\s*(?:[`\w]+\s*\.\s*)?\*", masked_lit, re.IGNORECASE
        )
        if is_cl and OP_COL not in run and not star:
            run = _SIMPLE_SELECT_RE.sub(f"SELECT {OP_COL}, ", run, count=1)
        df = ctx.sql(run, wm, **bindings)
        # A star branch also expands the view's OTHER internals (e.g. the
        # regular join's __emit_phase ordering column) which the sibling
        # branches don't carry; __seq already captures emission order, so
        # drop everything internal but the op tag and the ledger offset.
        df = df.drop(
            *[
                c
                for c in df.columns
                if c.startswith("__") and c not in (OP_COL, SEQ_INPUT)
            ]
        )
        if OP_COL not in df.columns:
            df = df.withColumn(OP_COL, F.lit(0).cast("int"))
        if SEQ_INPUT not in df.columns:
            # A derived view without a ledger offset: deterministic
            # partition-major order (the map fallback's contract).
            df = df.withColumn(SEQ_INPUT, F.monotonically_increasing_id())
        branches.append(df.withColumn(UNION_BRANCH, F.lit(bi).cast("int")))
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return StepResult(df=out, watermark=wm, order_cols=[UNION_BRANCH, SEQ_INPUT])


def execute_map(ctx: StepContext, sql: str) -> StepResult:
    from ..protocol.model import InvalidQueryError

    refs = referenced_views(sql, set(ctx.views))
    wm = min_watermark(*[ctx.new_wms.get(r) for r in refs]) if refs else None

    # Projection (and filter) over an updating (changelog-emitting)
    # alias: the op tags thread through like the ledger offset, so pads/
    # retractions/correction pairs forward intact (Flink keeps RowKind
    # through a projection). A WHERE applies pair-aware rewriting (below
    # — Flink's filter over an updating stream): joins route to the
    # changelog-aware join executor before reaching here, and set
    # ops/OVER would duplicate or strand op rows, so those reject.
    changelog_refs = [r for r in refs if OP_COL in ctx.views[r].columns]
    run_sql = sql
    if changelog_refs:
        from ..plans.classify import mask_sql

        segs = _split_union_all(sql)
        if segs is not None:
            return _changelog_union(ctx, segs, wm)
        # Top-level WHERE only — a literal containing the word 'where'
        # must stay on the plain op-forwarding projection path.
        has_where = re.search(
            r"\bwhere\b", mask_sql(sql, parens=True), re.IGNORECASE
        )
        simple = _inject_seq(sql)
        if (
            len(refs) != 1
            or simple is None
            or re.search(r"\bjoin\b|\bover\s*\(", sql, re.IGNORECASE)
            or SEQ_INPUT not in ctx.views[refs[0]].columns
        ):
            raise InvalidQueryError(
                "a step reading an updating (changelog-emitting) alias "
                "supports a single projection/filter (op tags forward, "
                "WHERE rewrites correction pairs), a windowless GROUP BY "
                "aggregation (op tags fold), or a regular equi-join "
                "(retraction-aware state); other shapes would misread "
                "correction/retraction rows — restructure before the "
                "changelog-emitting step instead"
            )
        if has_where:
            return _changelog_filter(ctx, sql, refs[0], wm)
        run_sql = simple
        if OP_COL not in run_sql:
            run_sql = _SIMPLE_SELECT_RE.sub(
                f"SELECT {OP_COL}, ", run_sql, count=1
            )
    elif len(refs) == 1 and SEQ_INPUT in ctx.views[refs[0]].columns:
        injected = _inject_seq(sql)
        if injected is not None:
            run_sql = injected

    df = ctx.sql(run_sql, wm)
    if SEQ_INPUT not in df.columns:
        return StepResult(df=df, watermark=wm)
    # A raw input's order check (once per input) runs only for an
    # order-preserving map whose emission reaches the output
    # (StepContext.check_inputs): the one shape that can skip the sort.
    return StepResult(
        df=df,
        watermark=wm,
        order_cols=[SEQ_INPUT],
        seq_ordered=ordered_shape(sql, refs) and ctx.seq_ordered(refs[0]),
    )
