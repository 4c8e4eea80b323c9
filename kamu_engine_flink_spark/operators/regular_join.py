"""Stateful REGULAR (unbounded) stream-to-stream equi join.

Flink's "regular join" pairs every row of either input with the FULL
history of the other side; the reference exposes it by planner delegation
(TransformEngine.scala:252-262 hands arbitrary SQL to Flink, whose
regular-join operator keeps both sides in state forever — the documented
Flink caveat). The previous route for this shape — stateless MAP — paired
only same-invocation rows, i.e. results depended on how the stream was cut
into invocations.

Spark-first derivation: per-side persisted full-history buffers; a pair is
new iff at least one side is new this run, so each invocation emits
new_left x all_right UNION old_left x new_right — the same
dual-branch shuffle shape as the interval join, minus the horizon
eviction (there is none to apply: any future row can match any past row).
State therefore grows with the inputs — exactly Flink's behavior for this
operator; bound-state variants are the interval/window/temporal joins.

INNER, LEFT, RIGHT, FULL. Flink's outer regular joins emit the NULL-padded
row immediately for an unmatched row on a padded side, then RETRACT it
when the first match arrives (-D of the pad, +I of the pair); here that is
the op changelog — pad rows carry op 0, the retraction op 1 (DELETE,
ChangelogOperator.scala mapping), ordered before the new pairs within the
invocation. FULL pads/retracts on both sides.

State layout (the Spark analogue of Flink's resident keyed join state):
each side persists an APPEND-ONLY `rows` relation — every invocation
hard-links the previous files forward and writes only its delta, so the
checkpoint cost is O(slice), never O(accumulated history) — plus, for a
padded side, a small rewritten `unmatched` relation (rows still awaiting
their first partner; a pad is retracted exactly once because its row
leaves `unmatched` the moment it matches). For a pure-equi ON, both
relations are hash-BUCKETED by the join keys, so every probe of new rows
against accumulated state plans NO exchange (and no sort-side shuffle) on
the state side — invocation N+1 never re-shuffles history, exactly like
Flink probing resident hash state.

Self-joins (the same view on both sides) are supported by rebinding the
right side under a private temp-view name before the branch SQL runs, so
the per-branch bindings (new-vs-all, old-vs-new) never collapse into one
view; distinct relation aliases are required, as in any SQL self-join.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from ..plans.classify import parse_regular_join
from ..protocol.model import OP_APPEND, OP_RETRACT, InvalidQueryError
from .base import OP_COL, StepContext, StepResult, min_watermark, reads_updating

_MATCHED = "__rj_matched"
_PHASE = "__emit_phase"  # 0 = pad retractions, 1 = pads + pairs
_SELF_RIGHT = "__rj_self_right"


_EQ_TERM_RE = re.compile(
    r"^\s*`?(\w+)`?\s*\.\s*`?(\w+)`?\s*=\s*`?(\w+)`?\s*\.\s*`?(\w+)`?\s*$"
)


def equi_keys(on: str, la: str, ra: str) -> list[tuple[str, str]] | None:
    """[(left_col, right_col), ...] when the ON condition is a pure
    conjunction of cross-side column equalities; None otherwise (the
    probes then fall back to per-predicate semi/anti joins)."""
    out = []
    for term in re.split(r"\bAND\b", on, flags=re.IGNORECASE):
        m = _EQ_TERM_RE.match(term)
        if not m:
            return None
        a1, c1, a2, c2 = m.groups()
        if a1 == la and a2 == ra:
            out.append((c1, c2))
        elif a1 == ra and a2 == la:
            out.append((c2, c1))
        else:
            return None
    return out or None


def _flag_matched(
    probe: DataFrame, other: DataFrame, keys: list[tuple[str, str]], probe_is_left: bool
) -> DataFrame:
    """probe rows + _MATCHED: whether a partner with equal keys exists in
    `other` — ONE left join against the other side's DISTINCT key set
    (aggregated build side) instead of a semi- PLUS an anti-join over the
    full relation. Plain `=` semantics: NULL keys never match, exactly
    like the semi/anti pair this replaces."""
    sel, conds, tmp = [], [], []
    for i, (lc, rc) in enumerate(keys):
        pc, oc = (lc, rc) if probe_is_left else (rc, lc)
        kn = f"__rjk_{i}"
        tmp.append(kn)
        sel.append(F.col(oc).alias(kn))
        conds.append(F.col(pc) == F.col(kn))
    keyset = other.select(*sel).distinct()
    cond = conds[0]
    for c in conds[1:]:
        cond = cond & c
    return (
        probe.join(keyset, cond, "left")
        .withColumn(_MATCHED, F.col(tmp[0]).isNotNull())
        .drop(*tmp)
    )


def execute_regular_join(ctx: StepContext, sql: str) -> StepResult:
    spec = parse_regular_join(sql, set(ctx.views))
    if spec is None:
        raise InvalidQueryError("regular join executor could not parse the join shape")
    if reads_updating(ctx, spec.left_view, spec.right_view):
        # Local import: changelog_join builds on this module's helpers.
        from .changelog_join import execute_changelog_join

        return execute_changelog_join(ctx, sql, spec)
    kind = spec.join_kind  # "", "LEFT", "RIGHT", "FULL"
    pad_left = kind in ("LEFT", "FULL")
    pad_right = kind in ("RIGHT", "FULL")
    lv, rv = spec.left_view, spec.right_view
    la, ra = spec.left_alias, spec.right_alias

    # Self-join: the two sides must bind to DIFFERENT DataFrames per branch
    # (new-vs-all, old-vs-new), so rebind the right side under a private
    # temp-view name; `AS <alias>` keeps every column reference valid.
    if lv == rv:
        if la == ra:
            raise InvalidQueryError(
                "a regular self-join needs distinct aliases for the two sides"
            )
        sql = re.sub(
            rf"(\bJOIN\s+)`?{re.escape(rv)}`?"
            rf"(?:\s+AS\s+[`\w]+|\s+(?!ON\b)[`\w]+)?",
            rf"\g<1>{_SELF_RIGHT} AS {ra}",
            sql,
            count=1,
            flags=re.IGNORECASE,
        )
        rv_bind = _SELF_RIGHT
    else:
        rv_bind = rv

    # Pair branches always run the INNER form — the outer sql bound against
    # partial views would re-pad every old unmatched row each invocation.
    inner_sql = (
        re.sub(
            r"\b(?:LEFT|RIGHT|FULL)\s+(?:OUTER\s+)?JOIN\b",
            "JOIN",
            sql,
            flags=re.IGNORECASE,
        )
        if kind
        else sql
    )
    new_left, new_right = ctx.views[lv], ctx.views[rv]
    if pad_left:
        # The new-left slice feeds two pair branches, the anti-probe chain,
        # the pad run, and the state append — pin once so every consumer
        # shares the scan.
        new_left = ctx.pin(new_left)
    if pad_right:
        new_right = ctx.pin(new_right)
    left_rows_name = f"{ctx.step_key}-rj-left"
    right_rows_name = f"{ctx.step_key}-rj-right"
    left_unm_name = f"{ctx.step_key}-rj-left-unm"
    right_unm_name = f"{ctx.step_key}-rj-right-unm"
    keys = equi_keys(spec.on_condition, la, ra)
    lkeys = [lc for lc, _ in keys] if keys else None
    rkeys = [rc for _, rc in keys] if keys else None

    first = not ctx.state.has_df(left_rows_name) and not ctx.state.has_df(
        right_rows_name
    )
    old_left = ctx.state.load_df(left_rows_name, schema=new_left.schema)
    old_right = ctx.state.load_df(right_rows_name, schema=new_right.schema)

    # v1->v2 checkpoint migration: the pre-bucketed layout (before commit
    # 14e9ead) stored ONE relation per padded side carrying a __rj_matched
    # flag and no separate unmatched relation. Detect the flag on load and
    # rebuild both relations from it; the rows state is rewritten fully
    # this invocation (appending a flag-less delta into the old files
    # would mix schemas) and comes out bucketed — later runs append.
    mig_unm_l = mig_unm_r = None
    if _MATCHED in old_left.columns:
        old_left = ctx.pin(old_left)
        mig_unm_l = old_left.filter(~F.col(_MATCHED)).drop(_MATCHED)
        old_left = old_left.drop(_MATCHED)
    if _MATCHED in old_right.columns:
        old_right = ctx.pin(old_right)
        mig_unm_r = old_right.filter(~F.col(_MATCHED)).drop(_MATCHED)
        old_right = old_right.drop(_MATCHED)

    # Pair-uniqueness across invocations without an emitted ledger: a pair
    # is new iff at least one side arrived this run. Three branches rather
    # than two (new x old, new x new, old x new) so the bucketed state scan
    # is joined DIRECTLY (a union with the new slice would discard its
    # output partitioning and force a full-history exchange).
    wm = min_watermark(ctx.new_wms.get(lv), ctx.new_wms.get(rv))
    pairs_new = ctx.sql(inner_sql, wm, **{lv: new_left, rv_bind: new_right})
    if first:
        pairs = pairs_new
    else:
        pairs = (
            ctx.sql(inner_sql, wm, **{lv: new_left, rv_bind: old_right})
            .unionByName(pairs_new)
            .unionByName(
                ctx.sql(inner_sql, wm, **{lv: old_left, rv_bind: new_right})
            )
        )

    cond = F.expr(spec.on_condition)
    empty_right = new_right.limit(0)
    retract_parts: list[DataFrame] = []
    pad_parts: list[DataFrame] = []
    # Full-history state (Flink regular-join semantics — no horizon to
    # evict by; a self-join persists each side under its own state key).
    # Rows relations append only this run's slice.
    if mig_unm_l is None:
        ctx.state.save_df(left_rows_name, new_left, lkeys, append=True)
    else:
        ctx.state.save_df(left_rows_name, old_left.unionByName(new_left), lkeys)
    if mig_unm_r is None:
        ctx.state.save_df(right_rows_name, new_right, rkeys, append=True)
    else:
        ctx.state.save_df(right_rows_name, old_right.unionByName(new_right), rkeys)

    if pad_left:
        old_unmatched_l = (
            mig_unm_l
            if mig_unm_l is not None
            else ctx.state.load_df(left_unm_name, schema=new_left.schema)
        )
        # New lefts without any match so far: NULL-pad immediately (op 0).
        # Anti-chain: first against the (bucketed) accumulated right rows —
        # exchange-free on the state side — then against the new slice.
        new_unmatched_l = (
            new_left.alias(la)
            .join(old_right.alias(ra), cond, "left_anti")
            .alias(la)
            .join(new_right.alias(ra), cond, "left_anti")
        )
        # Old padded lefts whose FIRST match arrived this run: retract the
        # pad (op 1 = DELETE, emitted before this invocation's pairs),
        # exactly once — the row leaves `unmatched` state on first match.
        if keys is not None:
            flagged_l = _flag_matched(old_unmatched_l, new_right, keys, True)
            newly_matched_l = flagged_l.filter(F.col(_MATCHED)).drop(_MATCHED)
            still_unmatched_l = flagged_l.filter(~F.col(_MATCHED)).drop(_MATCHED)
        else:
            newly_matched_l = old_unmatched_l.alias(la).join(
                new_right.alias(ra), cond, "left_semi"
            )
            still_unmatched_l = old_unmatched_l.alias(la).join(
                new_right.alias(ra), cond, "left_anti"
            )
        ctx.state.save_df(
            left_unm_name, still_unmatched_l.unionByName(new_unmatched_l), lkeys
        )
        pad_parts.append(
            ctx.sql(sql, wm, **{lv: new_unmatched_l, rv_bind: empty_right})
        )
        retract_parts.append(
            ctx.sql(sql, wm, **{lv: newly_matched_l, rv_bind: empty_right})
        )

    if pad_right:
        # Mirror image: unmatched rights pad with a NULL left side (RIGHT/
        # FULL with an empty left projects exactly those pads).
        empty_left = new_left.limit(0)
        old_unmatched_r = (
            mig_unm_r
            if mig_unm_r is not None
            else ctx.state.load_df(right_unm_name, schema=new_right.schema)
        )
        new_unmatched_r = (
            new_right.alias(ra)
            .join(old_left.alias(la), cond, "left_anti")
            .alias(ra)
            .join(new_left.alias(la), cond, "left_anti")
        )
        if keys is not None:
            flagged_r = _flag_matched(old_unmatched_r, new_left, keys, False)
            newly_matched_r = flagged_r.filter(F.col(_MATCHED)).drop(_MATCHED)
            still_unmatched_r = flagged_r.filter(~F.col(_MATCHED)).drop(_MATCHED)
        else:
            newly_matched_r = old_unmatched_r.alias(ra).join(
                new_left.alias(la), cond, "left_semi"
            )
            still_unmatched_r = old_unmatched_r.alias(ra).join(
                new_left.alias(la), cond, "left_anti"
            )
        ctx.state.save_df(
            right_unm_name, still_unmatched_r.unionByName(new_unmatched_r), rkeys
        )
        pad_parts.append(
            ctx.sql(sql, wm, **{lv: empty_left, rv_bind: new_unmatched_r})
        )
        retract_parts.append(
            ctx.sql(sql, wm, **{lv: empty_left, rv_bind: newly_matched_r})
        )

    if kind:

        def _tag(df: DataFrame, op: int, phase: int) -> DataFrame:
            return df.withColumn(OP_COL, F.lit(op).cast(IntegerType())).withColumn(
                _PHASE, F.lit(phase).cast(IntegerType())
            )

        if first:
            # First invocation (no prior state): the pair/pad/retract
            # assembly collapses to the user's own outer join over the
            # two slices — pairs + immediate pads, no retracts possible.
            # One join instead of the inner-pairs run plus two anti-join
            # pad runs; identical output (the slice-invariance tests
            # cross-validate this path against the general one). The
            # probes above still feed the unmatched state.
            result = _tag(ctx.sql(sql, wm, **{lv: new_left, rv_bind: new_right}), OP_APPEND, 1)
        else:
            result = _tag(pairs, OP_APPEND, 1)
            for p in pad_parts:
                result = result.unionByName(_tag(p, OP_APPEND, 1))
            for r in retract_parts:
                result = result.unionByName(_tag(r, OP_RETRACT, 0))
    else:
        result = pairs

    order_cols = [c for c in result.columns if c != _PHASE]
    out_et = ctx.request.vocab.event_time_column
    if out_et in order_cols:
        order_cols.remove(out_et)
        order_cols.insert(0, out_et)
    if kind:
        # Retractions of earlier pads land before this invocation's new
        # pads/pairs in the emitted ledger.
        order_cols = [_PHASE, *order_cols]
    return StepResult(df=result, watermark=wm, order_cols=order_cols)
