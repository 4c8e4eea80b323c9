"""Stateful Top-N with changelog corrections: every rank step, global
(no PARTITION BY) or keyed.

Reference semantics (EngineTopNTest.scala:22-155, TopNTest.scala:18-89):
`row_number() OVER (ORDER BY score DESC)` + outer `WHERE place <= N`
maintains a running Top-N; every input record that changes the ranking
emits correction pairs immediately — CorrectFrom(op=2) with the old row,
CorrectTo(op=3) with the new — in ascending place order, per record, in
input (offset) order. A fresh place emits Append(op=0).

Flink's rank surface also accepts PARTITION BY in the OVER clause
(`row_number() over (partition by k order by s) ... WHERE rn <= N`); the
N=1 case is Flink's documented "Deduplication" pattern. The reference
hands every SQL step to Flink's planner wholesale
(TransformEngine.scala:252-262), whose one rank operator treats a missing
PARTITION BY as an empty key list. So does this executor: the keyed form
extends the changelog contract per key, with corrections interleaved
across keys by arrival (ledger offset) order, and the global form is the
keyed one over a constant key (GROUP_COL). A rank step over an UPDATING
view goes to the retraction-aware variant (changelog_topn.py), which
shares this module's parser and outer re-projection.

Spark-first derivation: the changelog granularity is inherently sequential
per key (record i's corrections depend on the state after record i-1),
but per-key changelogs are independent — only the emission order
interleaves keys, and that is fully determined by (triggering record's
ledger offset, place). So the fold distributes as ONE
`grouped_map_batched` over the key columns: the chunk-level fold
(`make_batch_fold`) extracts each column once per Arrow chunk, then
replays every key run (previous state ∪ its slice rows in ledger order)
on index ranges through the same running-top-N simulation, emitting
changelog rows tagged with the trigger's offset. Its scalar prepass drops
every row that cannot enter its key's running top-N. A hot key's run
spans many Arrow batches; while it is carried, the same prepass
(`make_run_filter`) keeps only its state and entering rows, so its memory
stays bounded at about N*ln(rows).

The keyed fold reads the raw slice and is the step's only Python stage.
The global fold is one task, so it keeps a distributed pre-stage: a
prefilter keeps only rows that beat the current N-th entry (the threshold
is monotone within a batch, so filtering against the previous state is
exact), then a partition-local running-top-N prune bounds survivors to
~N*ln(rows/partition) per partition. The keyed form instead folds only
the state of keys the slice touches when state is much larger than the
slice. No data row ever materializes on the driver; the only driver-side
value is the global form's single N-th-place threshold row. State is the
per-key <=N-row ranking table (bucketed by key in the keyed form).

Supported shape (the reference's only tested one): an outer projection over
`(SELECT row_number() OVER ([PARTITION BY <keys>] ORDER BY <col> [DESC],
...) AS <rank>, <cols> FROM <view>) WHERE <rank> <= N`.
"""

from __future__ import annotations

import re
from datetime import datetime
from typing import Any, NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from ..plans.classify import parse_topn
from ..protocol.model import OP_APPEND, OP_CORRECT_FROM, OP_CORRECT_TO, InvalidQueryError
from .base import (
    OP_COL,
    SEQ_INPUT,
    StepContext,
    StepResult,
    reads_updating,
    split_touched_state,
    state_split_worthwhile,
)

GSEQ_COL = "__emit_gseq"  # triggering record's ledger offset
SUB_COL = "__emit_sub"  # emission order within one record's corrections
KIND_COL = "__kind"  # fold output: 0 = changelog row, 1 = state row
GROUP_COL = "__g"  # constant key routing the global fold through one group

_SHAPE_RE = re.compile(
    r"^(?P<outer>select\s+.*?)\bfrom\s*\(\s*(?P<inner>select\b.*)\)\s*"
    r"(?P<tail>where\s+.*)$",
    re.IGNORECASE | re.DOTALL,
)
_RANK_RE = re.compile(
    r"row_number\s*\(\s*\)\s+over\s*\(\s*"
    r"(?:partition\s+by\s+(?P<keys>[`\w.]+(?:\s*,\s*[`\w.]+)*)\s+)?"
    r"order\s+by\s+(?P<items>[^)]+)\)",
    re.IGNORECASE,
)
_RANK_ITEM_RE = re.compile(
    r"row_number\s*\(\s*\)\s+over\s*\([^)]*\)\s+as\s+[`\w]+\s*,?",
    re.IGNORECASE,
)
_ORDER_ITEM_RE = re.compile(r"^\s*([`\w.]+)\s*(asc|desc)?\s*$", re.IGNORECASE)
_INNER_FROM_RE = re.compile(r"\bfrom\s+([`\w]+)\s*$", re.IGNORECASE | re.DOTALL)


def parse_order_items(text: str) -> list[tuple[str, bool]]:
    """[(column, descending), ...] from a rank ORDER BY item list —
    multi-column composite orders are Flink rank parity (`ORDER BY score
    DESC, ts ASC`). Empty list when any item isn't a plain column."""
    out = []
    for item in text.split(","):
        m = _ORDER_ITEM_RE.match(item)
        if not m:
            return []
        out.append(
            (
                m.group(1).split(".")[-1].strip("`"),
                bool(m.group(2) and m.group(2).lower() == "desc"),
            )
        )
    return out


def beats_key(vals, evals, order) -> bool:
    """Lexicographic 'ranks strictly better' over composite order keys:
    per column, DESC ranks nulls last / ASC nulls first (Spark's
    row_number defaults); equal values fall through to the next column;
    a full tie does not beat (insert-after-ties row_number stability)."""
    for v, ev, (_c, desc) in zip(vals, evals, order):
        if v is None and ev is None:
            continue
        if v is None:
            return not desc
        if ev is None:
            return desc
        if v == ev:
            continue
        return (v > ev) if desc else (v < ev)
    return False


def _prune_partition_local(df, order: list[tuple[str, bool]], limit: int):
    """Keep only rows that enter a PARTITION-LOCAL running top-N processed
    in ledger (__seq) order. Safely conservative: dropped rows are beaten
    or tied by >= limit earlier rows locally, hence globally, so they can
    never enter the visible top-N (ties insert after equals, so a tie
    counts as beaten). Survivors stream on to the exact fold, which for
    the global Top-N is a single task.

    Type-generic: the running top-N is a sorted (best-to-worst) list of
    composite order keys wrapped in a rank comparator, so any orderable
    types prune under any per-column direction mix. Rows with a missing
    order value (None and the NaN/NaT that nullable columns become in
    Arrow batches — pd.isna covers both) pass through to the fold
    untouched and are never pushed into the list, where NaN comparisons
    would corrupt it.
    """
    import bisect

    import pandas as pd

    class _K:
        __slots__ = ("v",)

        def __init__(self, v):
            self.v = v

        def __lt__(self, other):  # True iff self RANKS strictly better
            return beats_key(self.v, other.v, order)

    # Single-column fast path: raw scalars in the sorted list (C-speed
    # bisect compares, no per-row wrapper allocation) — this loop touches
    # EVERY input row, so the composite wrapper's Python __lt__ would be
    # the hot-path cost for the overwhelmingly common single-order case.
    single = len(order) == 1
    descending0 = order[0][1]

    def batches(it):
        # The running top-N carries ACROSS Arrow batches within a
        # partition (sound because the partition is seq-sorted below):
        # survivors shrink from ~N*ln(rows/batch) per batch to
        # ~N*ln(rows/partition) total.
        lst: list = []
        for pdf in it:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(SEQ_INPUT, kind="mergesort")
            keep = []
            # Vectorized null masks + list materialization: iterating raw
            # pandas Series and calling pd.isna per cell is 3-5x slower
            # than this in the hot loop.
            col_lists = [pdf[c].tolist() for c, _ in order]
            vals = col_lists[0] if single else list(zip(*col_lists))
            null_mask = pd.isna(pdf[order[0][0]]).to_numpy()
            for c, _ in order[1:]:
                null_mask = null_mask | pd.isna(pdf[c]).to_numpy()
            if single:
                for i, v in enumerate(vals):
                    if null_mask[i]:
                        keep.append(True)
                        continue
                    if len(lst) < limit:
                        bisect.insort(lst, v)
                        keep.append(True)
                    elif descending0:
                        if v > lst[0]:  # strictly beats the local N-th (min)
                            del lst[0]
                            bisect.insort(lst, v)
                            keep.append(True)
                        else:
                            keep.append(False)
                    else:
                        if v < lst[-1]:  # strictly beats the local N-th (max)
                            del lst[-1]
                            bisect.insort(lst, v)
                            keep.append(True)
                        else:
                            keep.append(False)
            else:
                for i, v in enumerate(vals):
                    if null_mask[i]:
                        keep.append(True)
                        continue
                    k = _K(v)
                    if len(lst) < limit:
                        bisect.insort(lst, k)
                        keep.append(True)
                    elif k < lst[-1]:  # strictly beats the local N-th (worst)
                        del lst[-1]
                        bisect.insort(lst, k)
                        keep.append(True)
                    else:
                        keep.append(False)
            yield pdf[keep]

    # Widen a narrow input first: a single-file slice scan arrives as ONE
    # partition, which would run this per-row Python pass on one core.
    # Spread by hash of the (unique) ledger offset — deterministic, with
    # no round-robin sort-before-repartition pass; per-partition survivor
    # bounds grow ~n_partitions x N*ln(rows/partition), still tiny vs the
    # input. The explicit count is exempt from AQE coalescing, which
    # prices shuffles by bytes and would collapse this CPU-per-row stage.
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        df = df.repartition(n, F.col(SEQ_INPUT))
    # Partition-level seq sort (no shuffle): makes Arrow batches arrive in
    # ledger order, which the cross-batch carry above relies on — dropped
    # rows are then beaten only by genuinely EARLIER rows.
    return df.sortWithinPartitions(SEQ_INPUT).mapInPandas(batches, df.schema)


def _dedupe_columns(df):
    seen: dict[str, int] = {}
    cols = []
    for i, name in enumerate(df.columns):
        if name not in seen:
            seen[name] = i
            cols.append(df[i])
    return df.select(*cols) if len(cols) != len(df.columns) else df


def fold_records(ranking, rows, order, limit):
    """Fold slice rows (ledger order) through a running top-N `ranking`
    (mutated in place, sorted best-to-worst), yielding changelog tuples
    (gseq, sub, op, place, row) — gseq is the triggering row's ledger
    offset, sub orders one record's corrections (ascending place, op 2
    before 3). `order` is the composite [(col, descending), ...] rank
    order (beats_key semantics). The sequential core of the chunk fold
    (make_batch_fold) shared by the global and keyed executors."""
    order_cols_ = [c for c, _ in order]
    if len(order_cols_) == 1:
        col0 = order_cols_[0]

        def _key(row):
            return row[col0]

    else:

        def _key(row):
            return tuple(row[c] for c in order_cols_)

    def _kbeats(v, ev):
        return beats_key(
            v if isinstance(v, tuple) else (v,),
            ev if isinstance(ev, tuple) else (ev,),
            order,
        )

    for row, gseq in rows:
        v = _key(row)
        # Insertion point: ties go after existing entries (row_number
        # stability — an equal score does not displace an earlier row).
        # `ranking` is sorted best-to-worst, so beats(v, ranking[i]) is
        # monotone in i and the first-True index binary-searches in
        # O(log N).
        lo, hi = 0, len(ranking)
        while lo < hi:
            mid = (lo + hi) // 2
            if _kbeats(v, _key(ranking[mid])):
                hi = mid
            else:
                lo = mid + 1
        pos = lo
        if pos >= limit:
            continue
        old_top = ranking[:limit]
        ranking.insert(pos, row)
        new_top = ranking[:limit]
        sub = 0
        for place in range(pos, limit):
            if place >= len(new_top):
                break
            new_row = new_top[place]
            old_row = old_top[place] if place < len(old_top) else None
            if old_row is None:
                yield (gseq, sub, OP_APPEND, place + 1, new_row)
                sub += 1
            elif old_row != new_row:
                yield (gseq, sub, OP_CORRECT_FROM, place + 1, old_row)
                sub += 1
                yield (gseq, sub, OP_CORRECT_TO, place + 1, new_row)
                sub += 1
        del ranking[limit:]  # beyond-N tail can never resurface


def _nullify(x):
    """None for every null spelling of an Arrow chunk cell (None, NaT,
    NaN), the value otherwise. NaN and pandas' NaT (a datetime subclass)
    are the cells unequal to themselves."""
    if x is None:
        return None
    if isinstance(x, (float, datetime)) and x != x:
        return None
    return x


def _running_top(order, limit):
    """The running-top-N prepass shared by the chunk fold and the run
    filter: `(order_keys, enters)`. `order_keys(pdf)` lists every row's
    order key (a scalar for a single-column order, else a tuple; nulls
    as None). `enters(top, v)` says whether key `v` enters the running
    top-N `top` (best-to-worst keys, at most `limit`) and inserts it if
    so. A row enters iff fold_records admits it; rows that do not enter
    never change `top` nor emit changelog."""
    order_cols_ = [c for c, _ in order]
    # Single-column fast path: scalar order keys and a direction-
    # specialized compare — the prepass touches every slice row.
    single = len(order) == 1
    if single:
        desc0 = order[0][1]

        def _beats(v, ev):
            # Identical semantics to beats_key (ties do not displace,
            # DESC nulls last / ASC nulls first).
            if v is None:
                return (not desc0) and ev is not None
            if ev is None:
                return desc0
            return (v > ev) if desc0 else (v < ev)

    else:

        def _beats(v, ev):
            return beats_key(v, ev, order)

    def order_keys(pdf) -> list:
        ov_lists = [
            [_nullify(x) for x in pdf[c].tolist()] for c in order_cols_
        ]
        return ov_lists[0] if single else list(zip(*ov_lists))

    def enters(top, v) -> bool:
        if len(top) >= limit and not _beats(v, top[-1]):
            return False
        lo, hi = 0, len(top)
        while lo < hi:
            mid = (lo + hi) // 2
            if _beats(v, top[mid]):
                hi = mid
            else:
                lo = mid + 1
        top.insert(lo, v)
        del top[limit:]
        return True

    return order_keys, enters


def make_batch_fold(value_cols, rank_col, order, limit):
    """Build the `grouped_map_batched` chunk fold shared by the global and
    keyed Top-N executors: `fold_batch(pdf, starts)` folds every key run
    `[starts[g], starts[g+1])` of one Arrow chunk. A run is the union of
    (previous state rows — rank_col set) and (slice rows — rank_col null,
    replayed in SEQ_INPUT order) of one key; each run yields changelog
    records (KIND 0, ordered by GSEQ/SUB) plus its new ranking (KIND 1).
    `order` is the composite [(col, descending), ...] rank order."""
    order_keys, enters = _running_top(order, limit)

    def fold_batch(pdf, starts) -> list[dict[str, Any]]:
        # Column extraction once per chunk, not per key: plain Python
        # lists, positionally indexed by the run ranges below. Columns
        # the prepass reads on every row are nullified up front; value
        # columns only for the rows that reach fold_records.
        n = len(pdf)
        rank_v = [_nullify(x) for x in pdf[rank_col].tolist()]
        seq_v = [_nullify(x) for x in pdf[SEQ_INPUT].tolist()]
        order_v = order_keys(pdf)
        raw_vals = [(c, pdf[c].tolist()) for c in value_cols]

        def _row(i):
            return {c: _nullify(vals[i]) for c, vals in raw_vals}

        out: list[dict[str, Any]] = []
        ends = [*starts[1:], n]
        for gs, ge in zip(starts, ends):
            state_idx = sorted(
                (i for i in range(gs, ge) if rank_v[i] is not None),
                key=rank_v.__getitem__,
            )
            slice_idx = sorted(
                (i for i in range(gs, ge) if rank_v[i] is None),
                key=seq_v.__getitem__,
            )
            # A row emits changelog iff it ENTERS the running top-N, which
            # depends only on the order-column sequence. This scalar
            # prepass picks the entering rows, so the per-row dicts are
            # built for state and entering rows only.
            top = [order_v[i] for i in state_idx[:limit]]
            entering = [i for i in slice_idx if enters(top, order_v[i])]

            ranking = [_row(i) for i in state_idx]
            rows = [(_row(i), seq_v[i]) for i in entering]
            for gseq, sub, op, place, row in fold_records(
                ranking, rows, order, limit
            ):
                out.append(
                    {**row, rank_col: place, OP_COL: op, GSEQ_COL: gseq,
                     SUB_COL: sub, KIND_COL: 0}
                )
            for i, row in enumerate(ranking[:limit]):
                out.append(
                    {**row, rank_col: i + 1, OP_COL: None, GSEQ_COL: None,
                     SUB_COL: None, KIND_COL: 1}
                )
        return out

    return fold_batch


def make_run_filter(rank_col, order, limit):
    """Per-run filter factory for `grouped_map_batched(run_filter=...)`
    under `sort_cols=[SEQ_INPUT]`: a key run's pieces then arrive with its
    state rows (null SEQ_INPUT sorts first) before its slice rows, in
    ledger order. The filter keeps every state row and the slice rows
    that enter the running top-N, the only rows `make_batch_fold`'s
    prepass passes on, so the fold's output is unchanged and a hot key's
    carried run holds its state plus ~N*ln(rows) rows."""
    order_keys, enters = _running_top(order, limit)

    def new_run():
        state: list = []  # (rank, order key) of the run's state rows
        top = None

        def keep(pdf):
            nonlocal top
            mask = []
            ranks = [_nullify(x) for x in pdf[rank_col].tolist()]
            for r, v in zip(ranks, order_keys(pdf)):
                if r is not None:
                    state.append((r, v))
                    mask.append(True)
                    continue
                if top is None:  # first slice row: seed as the fold does
                    top = [v for _, v in sorted(state, key=lambda t: t[0])]
                    del top[limit:]
                mask.append(enters(top, v))
            return pdf[mask]

        return keep

    return new_run


class RankStep(NamedTuple):
    """A parsed rank step. `shape` splits the query into the outer select,
    the ranked inner select and the outer WHERE tail; `keys` are the
    PARTITION BY columns ([] for the global form); `order` is the
    composite [(col, descending), ...] rank order; `src` is the view the
    inner select reads; `inner_no_rank` is the inner select without its
    rank item; `rank_col` and `limit` come from `WHERE <rank> <= N`."""

    shape: re.Match
    keys: list[str]
    order: list[tuple[str, bool]]
    src: str
    inner_no_rank: str
    rank_col: str
    limit: int


def parse_rank_step(ctx: StepContext, sql: str) -> RankStep:
    """The one rank-step parser, shared by the append-only and the
    retraction-aware (changelog_topn.py) executors."""
    spec = parse_topn(sql)
    shape = _SHAPE_RE.search(sql.strip())
    rank_m = _RANK_RE.search(sql)
    order = parse_order_items(rank_m.group("items")) if rank_m else []
    if spec is None or shape is None or not order:
        raise InvalidQueryError("unsupported Top-N query shape")
    keys = [
        k.strip().strip("`").split(".")[-1]
        for k in (rank_m.group("keys") or "").split(",")
        if k.strip()
    ]
    inner_sql = shape.group("inner").strip()
    from_m = _INNER_FROM_RE.search(inner_sql)
    if not from_m:
        raise InvalidQueryError("Top-N subquery must read a single view")
    src = from_m.group(1).strip("`")
    if src not in ctx.views:
        raise InvalidQueryError(f"Top-N subquery reads unknown view {src!r}")
    # A rank item at the END of the select list leaves its separating
    # comma behind the strip — remove it.
    inner_no_rank = re.sub(
        r",\s*(FROM\b)", r" \1", _RANK_ITEM_RE.sub("", inner_sql),
        flags=re.IGNORECASE,
    )
    return RankStep(
        shape, keys, order, src, inner_no_rank, spec.rank_alias, spec.limit
    )


def prepend_select(sql: str, cols: str) -> str:
    """`sql` with `cols` inserted as the first items of its select list."""
    return re.sub(
        r"^\s*select\s+", f"SELECT {cols}, ", sql, count=1, flags=re.IGNORECASE
    )


def require_keys(step: RankStep, value_cols: list[str]) -> None:
    missing = [k for k in step.keys if k not in value_cols]
    if missing:
        raise InvalidQueryError(
            f"Top-N PARTITION BY keys must appear in the subquery "
            f"projection (state is keyed by them); missing: {missing}"
        )


def project_outer(ctx: StepContext, step: RankStep, changelog: DataFrame) -> StepResult:
    """Re-apply the user's outer projection over the changelog, threading
    the internal op/sequence columns through."""
    view_name = f"__topn_changelog_{ctx.step_key.replace('-', '_')}"
    outer = prepend_select(step.shape.group("outer"), f"{OP_COL}, {GSEQ_COL}, {SUB_COL}")
    final_sql = f"{outer} FROM {view_name} {step.shape.group('tail')}"
    result = _dedupe_columns(ctx.sql(final_sql, **{view_name: changelog}))
    # __-prefixed columns (the op/sequence plumbing) are dropped by the
    # output assembly's internal-column convention (transform.py).
    return StepResult(
        df=result, watermark=ctx.new_wms.get(step.src), order_cols=[GSEQ_COL, SUB_COL]
    )


def _global_candidates(
    ctx: StepContext, step: RankStep, incoming: DataFrame, prev_state: DataFrame,
    state_name: str,
) -> DataFrame:
    """The global form's pre-stage: the slice rows that can still enter
    the top N, ahead of its single-task fold."""
    order_col, descending = step.order[0]
    # Distributed prefilter: only rows beating the current N-th can matter.
    # The sole driver-side value is the N-th-place state row (bounded: ONE
    # row, fetched with limit(1) — never data rows). Null ordering matches
    # the Flink/Spark default for row_number ORDER BY: DESC ranks nulls
    # last (a null never beats a non-null threshold, so the null-dropping
    # SQL comparison is exact); ASC ranks nulls first (a null always beats
    # a non-null threshold, so nulls must be kept). A null threshold
    # disables the prefilter — conservative, the fold is exact. With a
    # COMPOSITE order the comparison on the leading column must be
    # NON-strict (a leading-column tie can still win on a later column).
    threshold = None
    if ctx.state.has_df(state_name):  # first run: skip the threshold job
        worst = prev_state.orderBy(F.col(step.rank_col).desc()).limit(1).collect()
        if worst and worst[0][step.rank_col] >= step.limit:
            threshold = worst[0][order_col]
    candidates = incoming
    if threshold is not None:
        col, lit = F.col(order_col), F.lit(threshold)
        if len(step.order) == 1:
            cond = col > lit if descending else col < lit
        else:
            cond = col >= lit if descending else col <= lit
        if not descending:
            cond = cond | col.isNull()
        candidates = incoming.filter(cond)
    if SEQ_INPUT not in candidates.columns:
        # Derived views without a ledger-offset column: synthesize a
        # partition-ordered sequence (inputs with no defined arrival
        # order fold in a deterministic partition-major order).
        candidates = candidates.withColumn(
            SEQ_INPUT, F.monotonically_increasing_id()
        )
    # Partition-local running-top-N prune before the single-group fold: a
    # row beaten (or tied) by >= N earlier rows in its own partition is
    # beaten by >= N earlier rows globally, so it can never enter the
    # visible top-N and never emits changelog. Bounds the fold group to
    # ~N*ln(rows/partition) survivors per partition on shuffled data
    # instead of the whole input.
    return _prune_partition_local(candidates, step.order, step.limit)


def execute_topn(ctx: StepContext, sql: str) -> StepResult:
    step = parse_rank_step(ctx, sql)
    if reads_updating(ctx, step.src):
        # Local import: changelog_topn builds on this module.
        from .changelog_topn import execute_changelog_topn

        return execute_changelog_topn(ctx, step)
    keys, rank_col = step.keys, step.rank_col  # the user's own rank alias

    # Ranked-subquery projection applied to this run's input rows. Input
    # order comes from the engine-provided __seq column (ledger offset) on
    # base input views; we thread it through the projection explicitly.
    inner = step.inner_no_rank
    if SEQ_INPUT in ctx.views[step.src].columns and SEQ_INPUT not in inner:
        inner = prepend_select(inner, SEQ_INPUT)
    incoming = ctx.sql(inner)
    value_cols = [c for c in incoming.columns if c != SEQ_INPUT]
    require_keys(step, value_cols)
    if keys and SEQ_INPUT not in incoming.columns:
        raise InvalidQueryError("keyed Top-N requires ledger-offset sequencing")

    # The two forms keep their own state names, so existing checkpoints
    # restore.
    state_name = f"{ctx.step_key}-{'keyed-' if keys else ''}topn-state"
    state_schema = StructType(
        [StructField(rank_col, LongType())] + [incoming.schema[c] for c in value_cols]
    )
    prev_state = ctx.state.load_df(state_name, schema=state_schema)
    # One-time migration: engine revisions before the user-alias change
    # persisted the rank under a literal 'place' column; rename on load so
    # restored checkpoints keep their ranking state.
    if rank_col not in prev_state.columns and "place" in prev_state.columns:
        prev_state = prev_state.withColumnRenamed("place", rank_col)

    active_state, untouched_state = prev_state, None
    if not keys:
        incoming = _global_candidates(ctx, step, incoming, prev_state, state_name)
    elif state_split_worthwhile(ctx, state_name, step.src):
        # Touched-keys fold: a key with no row in this slice cannot change
        # its ranking, so only the state of keys PRESENT in the slice
        # enters the Python fold — a semi/anti probe against the slice's
        # key set over the BUCKETED state relation (exchange-free on the
        # state side; NULL-key groups route to active unconditionally, see
        # base.py). Untouched keys' rows flow straight to the state save.
        # Gated on state >> slice: when the slice plausibly touches most
        # keys, the probes are pure overhead on an unavoidable full fold.
        if step.src not in ctx.slice_sizes:
            # A chained alias is not persisted: pin it, so the key probe
            # and the union below read one computed slice.
            incoming = ctx.pin(incoming)
        active_state, untouched_state = split_touched_state(
            prev_state, keys, incoming.select(*keys).distinct()
        )

    # One fold over (state ∪ slice) per key — the global form is one key
    # run on a constant key, which the reference runs at parallelism 1
    # too (SURVEY §3). Fold output carries both the changelog and the
    # key's new ranking; KIND_COL splits them afterward.
    unioned = active_state.withColumn(SEQ_INPUT, F.lit(None).cast("long")).unionByName(
        incoming.withColumn(rank_col, F.lit(None).cast("long")).select(
            rank_col, *value_cols, SEQ_INPUT
        )
    )
    if not keys:
        unioned = unioned.withColumn(GROUP_COL, F.lit(0))
    fold_schema = StructType(
        list(state_schema.fields)
        + [
            StructField(OP_COL, IntegerType()),
            StructField(GSEQ_COL, LongType()),
            StructField(SUB_COL, LongType()),
            StructField(KIND_COL, IntegerType()),
        ]
    )
    from ..functions.grouped import grouped_map_batched

    # Runs sorted by SEQ_INPUT (state rows, null, first): a hot key's run
    # spans many Arrow batches, and the run filter keeps only the rows of
    # it that can still enter the top N while it is carried. The pin is
    # the one materialization: the state save and the output both read it.
    folded = ctx.pin(
        grouped_map_batched(
            unioned,
            keys or [GROUP_COL],
            make_batch_fold(value_cols, rank_col, step.order, step.limit),
            fold_schema,
            sort_cols=[SEQ_INPUT],
            run_filter=make_run_filter(rank_col, step.order, step.limit),
        )
    )
    keep = folded.filter(F.col(KIND_COL) == 1).select(rank_col, *value_cols)
    if untouched_state is not None:
        keep = untouched_state.unionByName(keep)
    ctx.state.save_df(
        state_name, keep, bucket_by=keys or None, pre_partitioned=bool(keys)
    )
    return project_outer(ctx, step, folded.filter(F.col(KIND_COL) == 0).drop(KIND_COL))
