"""Stateful cross-invocation set operations: UNION (distinct),
INTERSECT [ALL], EXCEPT [ALL] / MINUS.

Flink SQL supports all four set operators in streaming mode (reference
surface via planner delegation, TransformEngine.scala:252-262): the
planner keeps per-value state so `A INTERSECT B` pairs values across the
streams' FULL histories, not per micro-batch. Running these as stateless
MAP would pair only same-invocation rows — silently slice-dependent — so
classification routes any top-level non-UNION-ALL set operator here
(UNION ALL is genuinely stateless and stays MAP).

State: one relation per step, (fp, value columns, cnt_0..cnt_{k-1}) —
the per-branch NET arrival counts of every distinct tuple, keyed and
BUCKETED by the injective row fingerprint (the same fingerprint as
DISTINCT, distinct_step._row_fingerprint), so the per-invocation merge
joins without a state-side exchange. Append-only branches contribute +1
per row; an UPDATING (changelog-emitting) branch contributes signed
counts (+1 for op 0/3, -1 for op 1/2 — Flink's set operators consume
retraction streams the same way), with a loud negative-count guard. The
live multiplicity of a tuple is a pure function of its counts:

    UNION          live = 1 if sum_i cnt_i > 0          (never falls)
    INTERSECT      live = 1 if min_i cnt_i > 0          (never falls)
    INTERSECT ALL  live = min_i cnt_i                   (never falls)
    EXCEPT         live = 1 if cnt_0 > 0 and sum_{i>0} cnt_i = 0
    EXCEPT ALL     live = max(0, cnt_0 - sum_{i>0} cnt_i)

A left-associative chain of one operator folds into these n-ary forms
((A EXCEPT B) EXCEPT C = A EXCEPT (B UNION ALL C), etc.), so any number
of branches of a single operator is supported. MIXED operators and
parenthesized sub-chains (`A UNION B EXCEPT C`, `(A INTERSECT B) EXCEPT
C`) decompose recursively: parse_setop returns a precedence-correct
tree, each nested node executes as its own stateful sub-step (state key
`{step_key}.s{i}`, its own count relation), its changelog registers as
a synthetic view, and the parent consumes it as an updating (or append)
branch — exactly the chain of set-op operators Flink's planner builds.
UNION ALL adjacent to a stateful sub-chain (`A EXCEPT B UNION ALL C`)
is changelog CONCATENATION: the children execute as sub-steps and every
branch forwards through the map executor's changelog union.
Each invocation emits the live-multiplicity DELTA: op-0 inserts where
it rose, op-1 retractions where it fell. On
append-only inputs only EXCEPT [ALL] can fall, so UNION / INTERSECT
[ALL] emit plain append rows with no op column (their outputs chain as
append streams); with any updating branch every operator can retract
and emits an op-tagged changelog.

Scale shape: per invocation one union of the branch slices, one
fingerprint groupBy (partial+final, single shuffle), one bucketed
full-outer merge against touched state, one state rewrite. State is
O(distinct tuples seen) — the inherent cost of streaming set ops; Flink
holds the same in RocksDB.
"""

from __future__ import annotations

import re
from functools import reduce

from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

from ..plans import classify as C
from ..protocol.model import InvalidQueryError
from .base import OP_COL, SEQ_INPUT, StepContext, StepResult, min_watermark
from .distinct_step import _row_fingerprint


def _live_expr(op: str, all_flag: bool, cnt_exprs: list):
    """Live multiplicity of a tuple as a Column over its branch-count
    expressions (Columns, NULL-safe here)."""
    cnts = [F.coalesce(c, F.lit(0)) for c in cnt_exprs]
    if op == "UNION":
        total = reduce(lambda a, b: a + b, cnts)
        return F.when(total > 0, F.lit(1)).otherwise(F.lit(0))
    if op == "INTERSECT":
        m = reduce(lambda a, b: F.least(a, b), cnts)
        return m if all_flag else F.when(m > 0, F.lit(1)).otherwise(F.lit(0))
    # EXCEPT / MINUS
    rest = reduce(lambda a, b: a + b, cnts[1:])
    if all_flag:
        return F.greatest(cnts[0] - rest, F.lit(0))
    return F.when((cnts[0] > 0) & (rest == 0), F.lit(1)).otherwise(F.lit(0))


def execute_setop(ctx: StepContext, sql: str) -> StepResult:
    spec = C.parse_setop(sql)
    if spec is None:  # pragma: no cover — routing guarantees a match
        raise InvalidQueryError("not a set-operation step")
    return _exec_node(ctx, spec)


def _exec_node(ctx: StepContext, node) -> StepResult:
    """Execute one set-op tree node. Nested children run first as
    sub-steps (their own count state under `{step_key}.s{i}` — stable
    across invocations because the tree shape is a pure function of the
    step SQL), register their changelog as a synthetic view, and the
    parent consumes them like any updating/append branch."""
    from dataclasses import replace

    op, all_flag, children = node
    if op == "UNIONALL":
        return _exec_union_all(ctx, children)
    views = dict(ctx.views)
    new_wms = dict(ctx.new_wms)
    synth = {}  # sub-step changelogs, bound as views for the branch SQL
    branches: list[str] = []
    for i, child in enumerate(children):
        if isinstance(child, str):
            branches.append(child)
            continue
        sub_key = f"{ctx.step_key}.s{i}"
        sub = _exec_node(replace(ctx, step_key=sub_key), child)
        # Strip the child's internals but KEEP the changelog tag — a
        # retracting child (nested EXCEPT, anything over an updating
        # branch) feeds the parent as an updating branch via exactly
        # this column.
        sub_df = sub.df.drop(
            *[c for c in sub.df.columns if c.startswith("__") and c != OP_COL]
        )
        vname = "__setop_" + sub_key.replace(".", "_").replace("-", "_")
        synth[vname] = views[vname] = sub_df
        new_wms[vname] = sub.watermark
        cols = ", ".join(f"`{c}`" for c in sub_df.columns)
        branches.append(f"SELECT {cols} FROM {vname}")
    return _exec_flat(
        replace(ctx, views=views, new_wms=new_wms), op, all_flag, branches, synth
    )


def _exec_union_all(ctx: StepContext, children) -> StepResult:
    """UNION ALL with at least one stateful set-op sub-chain branch
    (`A EXCEPT B UNION ALL C`): Flink unions changelogs freely — the
    result is just the concatenation of the branch changelogs. Each
    stateful node executes as its own sub-step; its op-tagged output
    registers as a synthetic view carrying a deterministic partition-
    major __seq (set-op changelogs are op 0/1 only, so correction-pair
    adjacency is not at stake), and every branch — synthetic or plain —
    forwards through the map executor's changelog union (op tags per
    branch, branch-major emission order). Stateless beyond the
    children's own state: one unionByName, no extra shuffle."""
    from dataclasses import replace

    from .map_step import _changelog_union, _split_union_all

    views = dict(ctx.views)
    new_wms = dict(ctx.new_wms)
    synth = {}
    segs: list[str] = []
    wms = []
    for i, child in enumerate(children):
        if isinstance(child, str):
            segs.extend(_split_union_all(child) or [child])
            wms.extend(
                ctx.new_wms.get(r)
                for r in C.referenced_views(child, set(ctx.views))
            )
            continue
        sub_key = f"{ctx.step_key}.u{i}"
        sub = _exec_node(replace(ctx, step_key=sub_key), child)
        # Deterministic __seq from the child's own order contract
        # (__fp[, op] for the count executor) rather than
        # monotonically_increasing_id, so the sub-chain's emission order
        # within the union survives retries and partitioning changes.
        # The global row_number sorts only the child's per-invocation
        # DELTA (slice-sized) — the same bounded single-partition sort
        # every final emission already performs.
        order = [c for c in (sub.order_cols or []) if c in sub.df.columns]
        keep = {OP_COL} | set(order)
        sub_df = sub.df.drop(
            *[c for c in sub.df.columns if c.startswith("__") and c not in keep]
        )
        if order:
            from pyspark.sql import Window

            sub_df = sub_df.withColumn(
                SEQ_INPUT,
                F.row_number().over(Window.orderBy(*order)).cast(LongType()),
            ).drop(*[c for c in order if c not in (OP_COL, SEQ_INPUT)])
        else:  # pragma: no cover — count executor always sets order_cols
            sub_df = sub_df.withColumn(
                SEQ_INPUT, F.monotonically_increasing_id()
            )
        vname = "__setop_" + sub_key.replace(".", "_").replace("-", "_")
        synth[vname] = views[vname] = sub_df
        new_wms[vname] = sub.watermark
        wms.append(sub.watermark)
        cols = ", ".join(
            f"`{c}`" for c in sub_df.columns if c != SEQ_INPUT
        )
        segs.append(f"SELECT {cols} FROM {vname}")
    wm = min_watermark(*wms)
    return _changelog_union(
        replace(ctx, views=views, new_wms=new_wms), segs, wm, **synth
    )


def _exec_flat(
    ctx: StepContext, op: str, all_flag: bool, branches: list[str], synth: dict
) -> StepResult:
    known = set(ctx.views)
    branch_dfs, wms = [], []
    any_updating = False
    for i, branch_sql in enumerate(branches):
        b = branch_sql.strip()
        from ..plans.dialect import _rewrite_unnest

        if C.classify(b, known) != C.MAP or re.search(
            r"\b(GROUP\s+BY|JOIN|DISTINCT)\b",
            # Normalize UNNEST first: its JOIN keyword is a stateless
            # row expansion, not a stream join — a branch like
            # `SELECT u.x FROM a CROSS JOIN UNNEST(..) AS u (x)` is a
            # legitimate plain projection.
            C.mask_sql(_rewrite_unnest(b), parens=True),
            re.IGNORECASE,
        ):
            # classify() alone is not enough: GROUP BY without an
            # aggregate call is DISTINCT-shaped and classifies MAP, but
            # evaluated per slice it is just as slice-dependent.
            raise InvalidQueryError(
                "set-operation branches must be plain projections; put "
                "the stateful operator in its own aliased step and "
                "reference its alias in the branch"
            )
        refs = C.referenced_views(b, known)
        updating = any(OP_COL in ctx.views[r].columns for r in refs)
        if updating and len(refs) != 1:
            raise InvalidQueryError(
                "a set-operation branch over an updating alias must "
                "reference exactly that alias"
            )
        bwm = min_watermark(*[ctx.new_wms.get(r) for r in refs]) if refs else None
        wms.extend(ctx.new_wms.get(r) for r in refs)
        if updating:
            # UPDATING branch (Flink's set operators consume retraction
            # streams): thread the op tag through the projection so each
            # row contributes a SIGNED count (+1 insert / -1 retract).
            # The injection decision reads the RESOLVED projection's
            # columns, not the SQL text — a branch merely mentioning the
            # op name (aliasing it away) must still get the tag, and a
            # star expansion must not end up with two op columns.
            if re.search(
                r"\*\s*(?:,|$|FROM\b)", C.mask_sql(b), re.IGNORECASE
            ):
                raise InvalidQueryError(
                    "SELECT * over an updating alias in a set-operation "
                    "branch is ambiguous (the changelog op column would "
                    "join the value tuple): list the value columns "
                    "explicitly"
                )
            bdf = ctx.sql(b, bwm, **synth)
            if OP_COL not in bdf.columns:
                inner = re.sub(
                    r"^\s*select\s+", f"SELECT {OP_COL}, ", b, count=1,
                    flags=re.IGNORECASE,
                )
                bdf = ctx.sql(inner, bwm, **synth)
            sign = (
                F.when(F.col(OP_COL).isin(1, 2), F.lit(-1))
                .otherwise(F.lit(1))
                .cast(LongType())
            )
            bdf = bdf.withColumn("__sign", sign).drop(OP_COL)
        else:
            bdf = ctx.sql(b, bwm, **synth).withColumn(
                "__sign", F.lit(1).cast(LongType())
            )
        if SEQ_INPUT in bdf.columns:
            bdf = bdf.drop(SEQ_INPUT)
        branch_dfs.append(bdf)
        any_updating = any_updating or updating
    wm = min_watermark(*wms)

    names = [c for c in branch_dfs[0].columns if c != "__sign"]
    for i, bdf in enumerate(branch_dfs[1:], start=1):
        if len(bdf.columns) != len(names) + 1:
            raise InvalidQueryError(
                f"set-operation branches select {len(names)} vs "
                f"{len(bdf.columns) - 1} columns"
            )
    # Positional rename to branch 0's names, then a positional union so
    # Spark's coercion rules align the value types ONCE — the fingerprint
    # must hash identical values identically across branches.
    k = len(branch_dfs)
    tagged = reduce(
        lambda a, b: a.union(b),
        [
            bdf.select(
                F.lit(i).cast("int").alias("__branch"),
                *[
                    F.col(c).alias(n)
                    for c, n in zip(
                        [c for c in bdf.columns if c != "__sign"], names
                    )
                ],
                F.col("__sign"),
            )
            for i, bdf in enumerate(branch_dfs)
        ],
    )
    value_cols = names
    cnt_cols = [f"cnt_{i}" for i in range(k)]
    with_fp = tagged.withColumn(
        "__fp", _row_fingerprint(tagged, value_cols)
    )
    delta = ctx.pin(
        with_fp.groupBy("__fp").agg(
            *[F.first(c).alias(c) for c in value_cols],
            *[
                F.sum(
                    F.when(F.col("__branch") == i, F.col("__sign")).otherwise(0)
                )
                .cast(LongType())
                .alias(cnt_cols[i])
                for i in range(k)
            ],
        )
    )

    state_name = f"{ctx.step_key}-setop-cnt"
    state_schema = StructType(
        [StructField("fp", StringType())]
        + [StructField(c, delta.schema[c].dataType) for c in value_cols]
        + [StructField(c, LongType()) for c in cnt_cols]
    )
    from .base import split_touched_state, state_split_worthwhile

    prev = ctx.state.load_df(state_name, schema=state_schema)
    if state_split_worthwhile(ctx, state_name, None):
        active, untouched = split_touched_state(
            prev, ["fp"], delta.select(F.col("__fp").alias("fp")),
            no_null_keys=True,  # fp is md5(...), never NULL
        )
    else:
        active, untouched = prev, prev.limit(0)

    joined = active.alias("s").join(
        delta.alias("d"), F.col("s.fp") == F.col("d.__fp"), "full_outer"
    )
    old_cnts = [F.coalesce(F.col(f"s.{c}"), F.lit(0)) for c in cnt_cols]
    new_cnts = [
        o + F.coalesce(F.col(f"d.{c}"), F.lit(0))
        for o, c in zip(old_cnts, cnt_cols)
    ]
    # new_live reads the merged counts; old_live reads the state side of
    # the SAME joined frame (both are pure functions of their counts).
    merged = ctx.pin(
        joined.select(
            F.coalesce(F.col("d.__fp"), F.col("s.fp")).alias("fp"),
            *[
                F.when(F.col("d.__fp").isNull(), F.col(f"s.{c}"))
                .otherwise(F.col(f"d.{c}"))
                .alias(c)
                for c in value_cols
            ],
            *[
                (
                    # A consistent changelog never retracts a tuple below
                    # zero arrivals on a branch — fail loudly over a
                    # silent clamp (phantom rows), mirroring DISTINCT's
                    # negative-count guard.
                    F.when(
                        n >= 0, n
                    ).otherwise(
                        F.expr(
                            "CAST(raise_error('set operation over "
                            "changelog: a branch count went negative "
                            "(retraction of a row never inserted)') "
                            "AS BIGINT)"
                        )
                    )
                    if any_updating
                    else n
                ).alias(c)
                for n, c in zip(new_cnts, cnt_cols)
            ],
            _live_expr(op, all_flag, new_cnts).alias("__new_live"),
            _live_expr(
                op, all_flag, [F.col(f"s.{c}") for c in cnt_cols]
            ).alias("__old_live"),
        )
    )

    rises = merged.filter(F.col("__new_live") > F.col("__old_live"))
    falls = merged.filter(F.col("__new_live") < F.col("__old_live"))
    # With any UPDATING branch the counts can fall, so every operator can
    # retract; on append-only inputs only EXCEPT [ALL] can.
    retracts = op in ("EXCEPT", "MINUS") or any_updating

    def _emit(dfp, opv: int, n_expr):
        out = dfp.withColumn(
            "__copies", F.explode(F.sequence(F.lit(1), n_expr))
        ).select(
            *value_cols,
            F.lit(opv).cast(IntegerType()).alias(OP_COL),
            F.col("fp").alias("__fp"),
        )
        return out

    result = _emit(
        rises, 0, F.col("__new_live") - F.col("__old_live")
    ).unionByName(
        _emit(falls, 1, F.col("__old_live") - F.col("__new_live"))
    )
    if not retracts:
        # UNION / INTERSECT [ALL] live counts never fall (counts only
        # grow and the formulas are monotone) — the output is an append
        # stream, no changelog column.
        result = result.drop(OP_COL)

    # A tuple whose counts all netted to zero (fully retracted on every
    # branch) is dead — drop it so state tracks live tuples, not
    # changelog volume.
    alive = reduce(
        lambda a, b: a | b, [F.col(c) > 0 for c in cnt_cols]
    )
    ctx.state.save_df(
        state_name,
        untouched.unionByName(
            merged.filter(alive).select("fp", *value_cols, *cnt_cols)
        ),
        bucket_by=["fp"],
    )
    return StepResult(
        df=result,
        watermark=wm,
        order_cols=["__fp", OP_COL] if retracts else ["__fp"],
    )
