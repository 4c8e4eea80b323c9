"""Stateful PER-KEY Top-N / streaming deduplication with changelog.

Flink's rank surface accepts PARTITION BY in the OVER clause
(`row_number() over (partition by k order by s) ... WHERE rn <= N`); the
N=1 case is Flink's documented "Deduplication" pattern. The reference
engine hands every SQL step to Flink's planner wholesale
(TransformEngine.scala:252-262), so the keyed form is part of its query
surface even though its own tests only pin the global form
(EngineTopNTest.scala:22-155) — this operator extends that changelog
contract per key: every input record that changes its key's ranking
emits CorrectFrom(op=2)/CorrectTo(op=3) pairs immediately, in ascending
place order, interleaved across keys by arrival (ledger offset) order.

Spark-first derivation: unlike the global form (whose changelog is ONE
sequential fold because record i's corrections depend on the state
after record i-1 *globally*), per-key changelogs are independent — only
the emission order interleaves keys, and that is fully determined by
(triggering record's ledger offset, place). So the fold distributes as
ONE `grouped_map_batched` over the key columns: the chunk-level fold
(`topn.make_batch_fold`) extracts each column once per Arrow chunk, then
replays every key run (previous state ∪ its slice rows in ledger order)
on index ranges through the same running-top-N simulation, emitting
changelog rows tagged with the trigger's offset. The fold reads the raw
slice and is the invocation's only Python stage: its scalar prepass
drops every row that cannot enter its key's running top-N, so a separate
prune stage would only add a shuffle. A hot key's run spans many Arrow
batches; while it is carried, the same prepass (`topn.make_run_filter`)
keeps only its state and entering rows, so its memory stays bounded at
about N*ln(rows). No driver-side collect anywhere; state is the per-key
<=N-row ranking table, partitioned by key.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from ..plans.dialect import rewrite_query
from ..protocol.model import InvalidQueryError
from .base import (
    StepContext,
    StepResult,
    split_touched_state,
    state_split_worthwhile,
)
from .topn import (
    _INNER_FROM_RE,
    _SHAPE_RE,
    GSEQ_COL,
    KIND_COL,
    OP_COL,
    SEQ_INPUT,
    SUB_COL,
    _dedupe_columns,
    make_batch_fold,
    make_run_filter,
)

_PART_ORDER_RE = re.compile(
    r"row_number\s*\(\s*\)\s+over\s*\(\s*partition\s+by\s+(?P<keys>[`\w.]+(?:\s*,\s*[`\w.]+)*)"
    r"\s+order\s+by\s+(?P<items>[^)]+)\)",
    re.IGNORECASE,
)


def parse_keyed_order(sql: str):
    """(partition_keys, [(order_col, descending), ...]) of a PARTITION BY
    rank (composite orders are Flink parity), or None when the OVER
    clause has no PARTITION BY (global form) or an order item isn't a
    plain column."""
    from .topn import parse_order_items

    m = _PART_ORDER_RE.search(sql)
    if not m:
        return None
    order = parse_order_items(m.group("items"))
    if not order:
        return None
    keys = [k.strip().strip("`").split(".")[-1] for k in m.group("keys").split(",")]
    return keys, order


def execute_keyed_topn(ctx: StepContext, sql: str, spec) -> StepResult:
    shape = _SHAPE_RE.search(sql.strip())
    parsed = parse_keyed_order(sql)
    if shape is None or parsed is None:
        raise InvalidQueryError("unsupported keyed Top-N query shape")
    part_keys, order = parsed
    inner_sql = shape.group("inner").strip()
    from_m = _INNER_FROM_RE.search(inner_sql)
    if not from_m:
        raise InvalidQueryError("Top-N subquery must read a single view")
    src = from_m.group(1).strip("`")
    if src not in ctx.views:
        raise InvalidQueryError(f"Top-N subquery reads unknown view {src!r}")

    inner_no_rank = re.sub(
        r"row_number\s*\(\s*\)\s+over\s*\([^)]*\)\s+as\s+[`\w]+\s*,?",
        "",
        inner_sql,
        flags=re.IGNORECASE,
    )
    if SEQ_INPUT in ctx.views[src].columns and SEQ_INPUT not in inner_no_rank:
        inner_no_rank = re.sub(
            r"^\s*select\s+", f"SELECT {SEQ_INPUT}, ", inner_no_rank, count=1,
            flags=re.IGNORECASE,
        )
    incoming = ctx.spark.sql(rewrite_query(inner_no_rank))
    value_cols = [c for c in incoming.columns if c != SEQ_INPUT]
    missing = [k for k in part_keys if k not in value_cols]
    if missing:
        raise InvalidQueryError(
            f"keyed Top-N requires the partition keys in the subquery "
            f"projection (state is keyed by them); missing: {missing}"
        )
    if SEQ_INPUT not in incoming.columns:
        raise InvalidQueryError("keyed Top-N requires ledger-offset sequencing")

    state_name = f"{ctx.step_key}-keyed-topn-state"
    rank_col = spec.rank_alias  # the user's own rank alias (place, rownum, ...)
    state_schema = StructType(
        [StructField(rank_col, LongType())] + [incoming.schema[c] for c in value_cols]
    )
    prev_state = ctx.state.load_df(state_name, schema=state_schema)
    # One-time migration mirroring topn.py: pre-alias-change checkpoints
    # persisted the rank under a literal 'place' column.
    if rank_col not in prev_state.columns and "place" in prev_state.columns:
        prev_state = prev_state.withColumnRenamed("place", rank_col)

    # Touched-keys fold: a key with no row in this slice cannot change its
    # ranking, so only the state of keys PRESENT in the slice (`incoming`)
    # enters the Python fold — a semi/anti probe against the slice's key
    # set over the BUCKETED state relation (exchange-free on the state
    # side; NULL-key groups route to active unconditionally, see base.py).
    # Untouched keys' rows flow straight to the state save. Fold cost is
    # O(touched keys), not O(all keys ever seen) — gated on state >> slice
    # (when the slice plausibly touches most keys, the probes are pure
    # overhead on an unavoidable full fold).
    if state_split_worthwhile(ctx, state_name, src):
        if src not in ctx.slice_sizes:
            # A chained alias is not persisted: pin it, so the key probe
            # and the union below read one computed slice.
            incoming = ctx.pin(incoming)
        active_state, untouched_state = split_touched_state(
            prev_state, part_keys, incoming.select(*part_keys).distinct()
        )
    else:
        active_state, untouched_state = prev_state, None
    # Union (state ∪ raw slice) on a common schema; fold output carries
    # both the changelog and the key's new ranking (KIND_COL splits them
    # afterward).
    unioned = active_state.withColumn(SEQ_INPUT, F.lit(None).cast("long")).unionByName(
        incoming.withColumn(rank_col, F.lit(None).cast("long")).select(
            rank_col, *value_cols, SEQ_INPUT
        )
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
    fold_batch = make_batch_fold(value_cols, rank_col, order, spec.limit)

    from ..functions.grouped import grouped_map_batched

    # Runs sorted by SEQ_INPUT (state rows, null, first): a hot key's run
    # spans many Arrow batches, and the run filter keeps only the rows of
    # it that can still enter the top N while it is carried.
    folded = ctx.pin(
        grouped_map_batched(
            unioned, part_keys, fold_batch, fold_schema,
            sort_cols=[SEQ_INPUT],
            run_filter=make_run_filter(rank_col, order, spec.limit),
        )
    )
    keep = folded.filter(F.col(KIND_COL) == 1).select(rank_col, *value_cols)
    if untouched_state is not None:
        keep = untouched_state.unionByName(keep)
    ctx.state.save_df(
        state_name, keep, bucket_by=part_keys, pre_partitioned=True
    )
    changelog_df = folded.filter(F.col(KIND_COL) == 0).drop(KIND_COL)

    view_name = f"__keyed_topn_changelog_{ctx.step_key.replace('-', '_')}"
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
    return StepResult(df=result, watermark=wm, order_cols=[GSEQ_COL, SUB_COL])
