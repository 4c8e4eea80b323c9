"""Stateful Top-N with changelog corrections.

Reference semantics (EngineTopNTest.scala:22-155, TopNTest.scala:18-89):
`row_number() OVER (ORDER BY score DESC)` + outer `WHERE place <= N`
maintains a running Top-N; every input record that changes the ranking
emits correction pairs immediately — CorrectFrom(op=2) with the old row,
CorrectTo(op=3) with the new — in ascending place order, per record, in
input (offset) order. A fresh place emits Append(op=0).

Spark-first derivation: the changelog granularity is inherently sequential
(record i's corrections depend on the state after record i-1), but almost
no records can touch a Top-N: a distributed prefilter keeps only rows that
beat the current N-th entry (threshold is monotone within a batch, so
filtering against the previous state is exact), then a partition-local
running-top-N prune bounds survivors to ~N*ln(rows/partition) per
partition. The survivors fold through `grouped_map_batched` keyed by a
constant, so they form one key run; the chunk-level fold
(`make_batch_fold`, shared with the keyed variant) extracts each column
once per Arrow chunk and replays every run on index ranges. No data row
ever materializes on the driver; the only driver-side values are the
single N-th-place threshold row. State is the <=N-row ranking table.

Supported shape (the reference's only tested one): an outer projection over
`(SELECT row_number() OVER (ORDER BY <col> [DESC]) AS <rank>, <cols> FROM
<view>) WHERE <rank> <= N`.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from ..plans.classify import parse_topn
from ..plans.dialect import rewrite_query
from ..protocol.model import OP_APPEND, OP_CORRECT_FROM, OP_CORRECT_TO, InvalidQueryError
from .base import StepContext, StepResult

OP_COL = "__op"
SEQ_COL = "__emit_seq"
SEQ_INPUT = "__seq"  # engine-provided ledger-offset column on input views
GSEQ_COL = "__emit_gseq"  # triggering record's ledger offset
SUB_COL = "__emit_sub"  # emission order within one record's corrections
KIND_COL = "__kind"  # fold output: 0 = changelog row, 1 = state row
GROUP_COL = "__g"  # constant key routing the global fold through one group

_SHAPE_RE = re.compile(
    r"^(?P<outer>select\s+.*?)\bfrom\s*\(\s*(?P<inner>select\b.*)\)\s*"
    r"(?P<tail>where\s+.*)$",
    re.IGNORECASE | re.DOTALL,
)
_ORDER_RE = re.compile(
    r"row_number\s*\(\s*\)\s+over\s*\(\s*order\s+by\s+(?P<items>[^)]+)\)",
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


def _prune_partition_local(df, order: list[tuple[str, bool]], limit: int,
                           part_keys=()):
    """Keep only rows that enter a PARTITION-LOCAL running top-N processed
    in ledger (__seq) order — per `part_keys` group when given (the keyed
    rank/dedup executor), globally otherwise. Safely conservative: dropped
    rows are beaten or tied by >= limit earlier rows locally, hence
    globally, so they can never enter the visible top-N (ties insert after
    equals, so a tie counts as beaten). Survivors stream on to the exact
    fold.

    Type-generic: the running top-N is a sorted (best-to-worst) list of
    composite order keys wrapped in a rank comparator, so any orderable
    types prune under any per-column direction mix. Rows with a missing
    order value or key (None and the NaN/NaT that nullable columns become
    in Arrow batches — pd.isna covers both) pass through to the fold
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
        # The running top-N state carries ACROSS Arrow batches within a
        # partition (sound because the partition is seq-sorted below):
        # survivors per key shrink from ~N*ln(rows/key/batch) per batch to
        # ~N*ln(rows/key/partition) total — the difference between pruning
        # 26% and pruning 80% when batches hold few rows per key.
        best: dict = {}
        glob: list = []  # global (no part_keys) fast path
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
            if part_keys:
                key_lists = [pdf[k].tolist() for k in part_keys]
                for k in part_keys:
                    null_mask = null_mask | pd.isna(pdf[k]).to_numpy()
                kt = (
                    key_lists[0]
                    if len(key_lists) == 1
                    else list(zip(*key_lists))
                )
            else:
                kt = None
            if single:
                for i, v in enumerate(vals):
                    if null_mask[i]:
                        keep.append(True)
                        continue
                    lst = best.setdefault(kt[i], []) if part_keys else glob
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
                    lst = best.setdefault(kt[i], []) if part_keys else glob
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
    # partition, which would run this per-row Python pass on one core. The
    # keyed form spreads by HASH of the partition keys (all rows of a key
    # stay together, so the prune keeps its exact per-key survivor bound);
    # the global form spreads round-robin (per-partition survivor bounds
    # grow ~n_partitions x N*ln(rows/partition) — still tiny vs the input).
    # The explicit count is exempt from AQE coalescing, which prices
    # shuffles by bytes and would collapse this CPU-per-row stage.
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        # Global form: hash on the (unique) ledger offset — deterministic
        # spread with no round-robin sort-before-repartition pass.
        df = (
            df.repartition(n, *part_keys)
            if part_keys
            else df.repartition(n, F.col(SEQ_INPUT))
        )
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


def make_batch_fold(value_cols, rank_col, order, limit):
    """Build the `grouped_map_batched` chunk fold shared by the global and
    keyed Top-N executors: `fold_batch(pdf, starts)` folds every key run
    `[starts[g], starts[g+1])` of one Arrow chunk. A run is the union of
    (previous state rows — rank_col set) and (slice rows — rank_col null,
    replayed in SEQ_INPUT order) of one key; each run yields changelog
    records (KIND 0, ordered by GSEQ/SUB) plus its new ranking (KIND 1).
    `order` is the composite [(col, descending), ...] rank order."""
    order_cols_ = [c for c, _ in order]
    # Single-column fast path: scalar order keys and a direction-
    # specialized compare — the prepass below touches every slice row.
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

    def fold_batch(pdf, starts) -> list[dict[str, Any]]:
        import pandas as pd

        def _nullify(x):
            if x is None or x is pd.NaT:
                return None
            if isinstance(x, float) and x != x:
                return None
            return x

        # Column extraction once per chunk, not per key: plain Python
        # lists, positionally indexed by the run ranges below. Columns
        # the prepass reads on every row are nullified up front; value
        # columns only for the rows that reach fold_records.
        n = len(pdf)
        rank_v = [_nullify(x) for x in pdf[rank_col].tolist()]
        seq_v = [_nullify(x) for x in pdf[SEQ_INPUT].tolist()]
        ov_lists = [
            [_nullify(x) for x in pdf[c].tolist()] for c in order_cols_
        ]
        order_v = ov_lists[0] if single else list(zip(*ov_lists))
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
            # depends only on the order-column sequence (fold_records
            # admits a row iff it beats the running Nth value; rows that
            # do not enter never mutate the ranking). This scalar prepass
            # picks the entering rows, so the per-row dicts are built for
            # state and entering rows only.
            top_vals = [order_v[i] for i in state_idx[:limit]]
            entering: list[int] = []
            for i in slice_idx:
                v = order_v[i]
                if len(top_vals) >= limit and not _beats(v, top_vals[-1]):
                    continue
                entering.append(i)
                lo, hi = 0, len(top_vals)
                while lo < hi:
                    mid = (lo + hi) // 2
                    if _beats(v, top_vals[mid]):
                        hi = mid
                    else:
                        lo = mid + 1
                top_vals.insert(lo, v)
                del top_vals[limit:]

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


def execute_topn(ctx: StepContext, sql: str) -> StepResult:
    spec = parse_topn(sql)
    if spec is not None:
        from .keyed_topn import execute_keyed_topn, parse_keyed_order

        if parse_keyed_order(sql) is not None:
            return execute_keyed_topn(ctx, sql, spec)
    shape = _SHAPE_RE.search(sql.strip())
    order_m = _ORDER_RE.search(sql)
    order = parse_order_items(order_m.group("items")) if order_m else []
    if spec is None or shape is None or not order:
        raise InvalidQueryError("unsupported Top-N query shape")
    order_col, descending = order[0]
    inner_sql = shape.group("inner").strip()
    from_m = _INNER_FROM_RE.search(inner_sql)
    if not from_m:
        raise InvalidQueryError("Top-N subquery must read a single view")
    src = from_m.group(1).strip("`")
    if src not in ctx.views:
        raise InvalidQueryError(f"Top-N subquery reads unknown view {src!r}")

    # Ranked-subquery projection applied to this run's input rows. Input
    # order comes from the engine-provided __seq column (ledger offset) on
    # base input views; we thread it through the projection explicitly.
    inner_no_rank = re.sub(
        r"row_number\s*\(\s*\)\s+over\s*\([^)]*\)\s+as\s+[`\w]+\s*,?",
        "",
        inner_sql,
        flags=re.IGNORECASE,
    )
    if SEQ_INPUT in ctx.views[src].columns and SEQ_INPUT not in inner_no_rank:
        inner_no_rank = re.sub(
            r"^\s*select\s+", f"SELECT {SEQ_INPUT}, ", inner_no_rank, count=1, flags=re.IGNORECASE
        )
    incoming = ctx.spark.sql(rewrite_query(inner_no_rank))
    value_cols = [c for c in incoming.columns if c != SEQ_INPUT]

    state_name = f"{ctx.step_key}-topn-state"
    rank_col = spec.rank_alias  # the user's own rank alias (place, rownum, ...)
    state_schema = StructType(
        [StructField(rank_col, LongType())] + [incoming.schema[c] for c in value_cols]
    )
    prev_state = ctx.state.load_df(state_name, schema=state_schema)
    # One-time migration: engine revisions before the user-alias change
    # persisted the rank under a literal 'place' column; rename on load so
    # restored checkpoints keep their ranking state.
    if rank_col not in prev_state.columns and "place" in prev_state.columns:
        prev_state = prev_state.withColumnRenamed("place", rank_col)
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
        worst = prev_state.orderBy(F.col(rank_col).desc()).limit(1).collect()
        if worst and worst[0][rank_col] >= spec.limit:
            threshold = worst[0][order_col]
    if threshold is not None:
        strict = len(order) == 1
        if descending:
            cond = (
                F.col(order_col) > F.lit(threshold)
                if strict
                else F.col(order_col) >= F.lit(threshold)
            )
        else:
            cond = (
                F.col(order_col) < F.lit(threshold)
                if strict
                else F.col(order_col) <= F.lit(threshold)
            ) | F.col(order_col).isNull()
        candidates = incoming.filter(cond)
    else:
        candidates = incoming
    if SEQ_INPUT not in candidates.columns:
        # Derived views without a ledger-offset column: synthesize a
        # partition-ordered sequence (replaces the previous collect-order
        # semantics — inputs with no defined arrival order fold in a
        # deterministic partition-major order).
        candidates = candidates.withColumn(
            SEQ_INPUT, F.monotonically_increasing_id()
        )
    # Partition-local running-top-N prune before the single-group fold: a
    # row beaten (or tied) by >= N earlier rows in its own partition is
    # beaten by >= N earlier rows globally, so it can never enter the
    # visible top-N and never emits changelog. Bounds the fold group to
    # ~N*ln(rows/partition) survivors per partition on shuffled data
    # instead of the whole input.
    candidates = _prune_partition_local(candidates, order, spec.limit)

    # Distributed fold: the global changelog is inherently one sequential
    # fold, so run it as ONE key run (constant key) over (previous state ∪
    # pruned survivors) — the same chunk fold as the keyed variant. No data row ever materializes on the driver; the
    # reference runs the whole job at parallelism 1 (SURVEY §3), so a
    # single fold task over the pruned handful is the faithful — and
    # bounded — physical shape.
    unioned = (
        prev_state.withColumn(SEQ_INPUT, F.lit(None).cast("long"))
        .unionByName(
            candidates.withColumn(rank_col, F.lit(None).cast("long")).select(
                rank_col, *value_cols, SEQ_INPUT
            )
        )
        .withColumn(GROUP_COL, F.lit(0))
    )
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

    fold_batch = make_batch_fold(value_cols, rank_col, order, spec.limit)
    folded = ctx.pin(
        grouped_map_batched(unioned, [GROUP_COL], fold_batch, fold_schema)
    )
    # Materialize the pin NOW: the deferred state save and the output write
    # later run as concurrent jobs, and Spark's cache races rather than
    # blocks — both would execute the single-task Python fold. One count
    # populates the cache; both consumers then read it.
    folded.count()
    ctx.state.save_df(
        state_name,
        folded.filter(F.col(KIND_COL) == 1).select(rank_col, *value_cols),
    )
    changelog_df = folded.filter(F.col(KIND_COL) == 0).drop(KIND_COL)

    # Re-apply the user's outer projection over the changelog, threading the
    # internal op/sequence columns through.
    view_name = f"__topn_changelog_{ctx.step_key.replace('-', '_')}"
    changelog_df.createOrReplaceTempView(view_name)
    outer = shape.group("outer")
    injected = re.sub(
        r"^select\s+",
        f"SELECT {OP_COL}, {GSEQ_COL}, {SUB_COL}, ",
        outer,
        count=1,
        flags=re.IGNORECASE,
    )
    final_sql = f"{injected} FROM {view_name} {shape.group('tail')}"
    result = _dedupe_columns(ctx.spark.sql(rewrite_query(final_sql)))

    wm = ctx.new_wms.get(src)
    # __-prefixed columns (the op/sequence plumbing) are dropped by the
    # output assembly's internal-column convention (transform.py).
    return StepResult(df=result, watermark=wm, order_cols=[GSEQ_COL, SUB_COL])
