"""ExecuteTransform: the resumable streaming-SQL transform runner.

Re-derives the reference's main code path (TransformEngine.scala:64-336)
Spark-first. One invocation = one batch job over (new slices ∪ persisted
operator state); engine-owned state files play the savepoint role. The
awkward run-until-marker-files-then-stop-with-savepoint machinery
(TransformEngine.scala:338-380) disappears by design — Spark's batch
execution IS "process what's here and exit".

Pipeline per invocation:
  1. open inputs: read slices (one scan), apply offsetInterval slice
     filter (TransformEngine.scala:432-449), strip offset/system_time
     before user SQL sees the table (:234-248; `op` stays visible, §1.4),
     expose the ledger offset as internal `__seq` for emission ordering;
  2. resolve watermarks: effective = max(previous, request explicit)
     (ParquetFilesStreamSourceFunction.scala:46-56 — prev watermark first,
     data under it, explicit watermarks last);
  3. run each SQL step through its classified stateful executor
     (plans/classify.py), registering aliased steps as views for later
     steps (TransformEngine.scala:252-262);
  4. validate output (must contain event_time, must not contain
     offset/system_time — TransformEngine.scala:269-289), append system
     columns, stamp offsets (OffsetOperator.scala:11-24) and ops
     (ChangelogOperator.scala:14-23);
  5. write ONE parquet file, persist state, report newOffsetInterval +
     newWatermark (TransformEngine.scala:140-153).
"""

from __future__ import annotations

import os
from datetime import datetime

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import (
    distinct_step,
    interval_join,
    map_step,
    match_recognize,
    over_agg,
    regular_join,
    setop_step,
    temporal_join,
    unbounded_agg,
    topn,
    window_agg,
    window_join,
)
from ..operators.base import OP_COL, SEQ_INPUT, StepContext, StepResult
from ..plans import classify as C
from ..plans import multi_join as MJ
from ..protocol.model import (
    OP_APPEND,
    InvalidQueryError,
    OffsetInterval,
    TransformRequest,
    TransformRequestInput,
    TransformResponse,
)
from ..sinks.parquet import write_single_parquet
from ..sources.parquet import read_parquet_slices, table_schema
from .state import StateStore


def _ordered_chain_to_output(
    alias: str, later_steps, all_names: set, *, allow_where: bool
) -> bool:
    """True when `alias` provably reaches the FINAL step through
    order-preserving projections only (map_step.ordered_shape), so an
    order it carries reaches the output, which then numbers rows by
    position (_assemble_output). allow_where=False also demands 1:1
    hops: the stamp's pin/count decision, where the emission is then
    computed exactly once, inside the one output job, so the stamp needs
    no pin and no count.
    Conservative: a second consumer, a name rebind, or any other hop
    returns False."""
    cur = alias
    for j, s2 in enumerate(later_steps):
        refs2 = C.referenced_views(s2.query, all_names)
        if cur not in refs2:
            if s2.alias == cur:
                return False  # name rebound away from the chain
            continue
        if any(
            cur in C.referenced_views(s3.query, all_names)
            for s3 in later_steps[j + 1 :]
        ):
            return False  # a second consumer reads the alias too
        if C.classify(s2.query, all_names) != C.MAP:
            return False
        if not map_step.ordered_shape(s2.query, refs2, allow_where=allow_where):
            return False
        if j == len(later_steps) - 1:
            return True  # the final step: output assembly sees the order
        if s2.alias is None:
            return False
        cur = s2.alias
    return False


def _safe_name(alias: str) -> str:
    """Spark temp-view-safe alias. The reference allows dotted dataset
    aliases quoted with backticks in SQL (`stocks.owned`,
    EngineJoinStreamToTemporalTableTest.scala:83); Spark temp views cannot
    contain dots, so dotted aliases map to __-joined names and the SQL text
    is rewritten accordingly."""
    import re as _re

    return _re.sub(r"[^\w]", "__", alias)


def _sanitize_sql(sql: str, aliases: dict[str, str]) -> str:
    for orig, safe in aliases.items():
        if orig != safe:
            sql = sql.replace(f"`{orig}`", safe)
    return sql

_EXECUTORS = {
    C.MAP: map_step.execute_map,
    C.DISTINCT: distinct_step.execute_distinct,
    C.WINDOW_AGG: window_agg.execute_window_agg,
    C.HOP_AGG: window_agg.execute_hop_agg,
    C.SESSION_AGG: window_agg.execute_session_agg,
    C.CUMULATE_AGG: window_agg.execute_cumulate_agg,
    C.INTERVAL_JOIN: interval_join.execute_interval_join,
    C.REGULAR_JOIN: regular_join.execute_regular_join,
    C.UNBOUNDED_AGG: unbounded_agg.execute_unbounded_agg,
    C.TEMPORAL_JOIN: temporal_join.execute_temporal_join,
    C.TOPN: topn.execute_topn,
    C.OVER_AGG: over_agg.execute_over_agg,
    C.MATCH_RECOGNIZE: match_recognize.execute_match_recognize,
    C.WINDOW_JOIN: window_join.execute_window_join,
    C.SETOP: setop_step.execute_setop,
}


def _open_input(spark: SparkSession, input_def: TransformRequestInput) -> DataFrame:
    """Slice read + offset-interval filter + system-column strip."""
    vocab = input_def.vocab
    if input_def.data_paths:
        df = read_parquet_slices(spark, input_def.data_paths)
    else:
        # Watermark-only invocation: no new data, same schema.
        df = spark.createDataFrame([], table_schema(spark, input_def.schema_file))
    if input_def.offset_interval is not None:
        oi = input_def.offset_interval
        df = df.filter(
            (F.col(vocab.offset_column) >= oi.start) & (F.col(vocab.offset_column) <= oi.end)
        )
    # No input-side sort: the offset rides along as `__seq`, and where
    # emission order matters (output assembly order_cols, Top-N state
    # fold) it is re-imposed by `__seq` — unless an order-preserving map
    # reads a one-file, one-row-group input whose offsets check out as
    # strictly increasing (StepContext.seq_ordered): that file scans in
    # one task in file order, so the output numbers rows by position. A
    # global orderBy here would be a full sort+exchange of every input
    # per invocation that no downstream operator could rely on anyway
    # (joins and aggs destroy physical order).
    df = df.withColumn(SEQ_INPUT, F.col(vocab.offset_column))
    return df.drop(vocab.offset_column, vocab.system_time_column)


def _effective_watermark(
    prev: datetime | None, input_def: TransformRequestInput
) -> datetime | None:
    wms = [w.event_time for w in input_def.explicit_watermarks]
    if prev is not None:
        wms.append(prev)
    return max(wms) if wms else None


def execute_transform(spark: SparkSession, request: TransformRequest) -> TransformResponse:
    state = StateStore(spark, request.prev_checkpoint_path, request.new_checkpoint_path)
    saved_wms = state.load_watermarks()

    views: dict[str, DataFrame] = {}
    event_time_cols: dict[str, str] = {}
    prev_wms: dict[str, datetime | None] = {}
    new_wms: dict[str, datetime | None] = {}

    alias_map = {i.query_alias: _safe_name(i.query_alias) for i in request.query_inputs}
    for step in request.transform.queries:
        if step.alias:
            alias_map[step.alias] = _safe_name(step.alias)
    for t in request.transform.temporal_tables:
        alias_map.setdefault(t.name, _safe_name(t.name))
    # Distinct aliases must stay distinct after sanitization — `a.b` and
    # `a__b` both map to a__b, and a silent collision would merge two
    # inputs into one view.
    if len(set(alias_map.values())) != len(alias_map):
        from collections import Counter

        dupes = [s for s, n in Counter(alias_map.values()).items() if n > 1]
        raise InvalidQueryError(
            f"dataset aliases collide after view-name sanitization: {dupes}"
        )
    if any(o != s for o, s in alias_map.items()):
        from dataclasses import replace as _replace

        request = _replace(
            request,
            transform=_replace(
                request.transform,
                queries=[
                    _replace(
                        q,
                        query=_sanitize_sql(q.query, alias_map),
                        alias=alias_map.get(q.alias, q.alias) if q.alias else None,
                    )
                    for q in request.transform.queries
                ],
                temporal_tables=[
                    _replace(t, name=alias_map.get(t.name, t.name))
                    for t in request.transform.temporal_tables
                ],
            ),
        )

    slice_sizes: dict[str, int] = {}
    steps = list(request.transform.queries)
    result: StepResult | None = None
    pinned: list[DataFrame] = []
    # Views whose physical order is their __seq order with no ties
    # (StepContext.seq_ordered_views): stamped below, a checked raw
    # input, or an order-preserving projection over one. Raw inputs wait
    # in `unchecked` until a map whose emission reaches the output asks.
    # Shared across steps like `views`.
    ordered_views: set[str] = set()
    unchecked: dict[str, tuple[list[str], str]] = {}
    bound: dict[str, DataFrame] = {}  # StepContext.bound_views
    # Pinned (MEMORY_AND_DISK) DataFrames and registered views must be
    # released even when an input open, an executor step, the output
    # write, or the state save raises — a long-lived adapter process runs
    # many invocations on one session and would otherwise leak them on
    # every failure.
    mj_count = 0
    try:
        for input_def in request.query_inputs:
            alias = alias_map[input_def.query_alias]
            views[alias] = _open_input(spark, input_def)
            views[alias].createOrReplaceTempView(alias)
            unchecked[alias] = (input_def.data_paths, input_def.vocab.offset_column)
            event_time_cols[alias] = input_def.vocab.event_time_column
            prev_wms[alias] = saved_wms.get(alias)
            new_wms[alias] = _effective_watermark(prev_wms[alias], input_def)
            slice_sizes[alias] = sum(
                os.path.getsize(p) for p in input_def.data_paths if os.path.exists(p)
            )

        i = -1
        while i + 1 < len(steps):
            i += 1
            step = steps[i]
            # A multi-INNER-join step expands into the chain of aliased
            # single-join steps Flink's planner would build (full-history
            # state at every stage; plans/multi_join.py). Deterministic
            # per request, so step state keys stay stable across
            # invocations.
            expanded = MJ.expand_multi_join(
                step.query,
                set(views),
                {v: df.columns for v, df in views.items()},
                f"__mj{mj_count}",
            )
            if expanded:
                mj_count += 1
                from dataclasses import replace as _sreplace

                steps[i : i + 1] = [
                    _sreplace(step, query=q, alias=a if a is not None else step.alias)
                    for q, a in expanded
                ]
                step = steps[i]
            kind = C.classify(step.query, set(views))
            all_names = set(views) | {s.alias for s in steps if s.alias}
            ctx = StepContext(
                spark=spark,
                state=state,
                step_key=f"step{i}",
                request=request,
                views=views,
                event_time_cols=event_time_cols,
                prev_wms=prev_wms,
                new_wms=new_wms,
                pinned=pinned,
                slice_sizes=slice_sizes,
                seq_ordered_views=ordered_views,
                unchecked_inputs=unchecked,
                bound_views=bound,
                # Only a map whose emission reaches the output can use a
                # raw input's order: the check is not worth its read
                # for any other step.
                check_inputs=kind == C.MAP
                and (
                    i == len(steps) - 1
                    or (
                        step.alias is not None
                        and _ordered_chain_to_output(
                            step.alias, steps[i + 1 :], all_names, allow_where=True
                        )
                    )
                ),
            )
            # A chained step reading a changelog-EMITTING alias (outer
            # regular-join pads/retractions, continuous-agg correction
            # pairs): Flink propagates the retractions into the consumer.
            # The continuous aggregation folds them (op 1/2 as negative
            # contributions), a plain projection forwards the op tags, and
            # a regular equi-join consumes them through the signed-ledger
            # executor (operators/changelog_join.py); every other step
            # kind would treat a pad AND its later retraction as two plain
            # appends — silently wrong, so reject loudly. (INNER regular
            # joins and windowed steps emit append-only streams and chain
            # freely.)
            changelog_refs = sorted(
                v
                for v in C.referenced_views(step.query, set(views))
                if OP_COL in views[v].columns
            )
            if changelog_refs and kind not in (
                C.UNBOUNDED_AGG,
                C.MAP,
                C.REGULAR_JOIN,
                C.DISTINCT,
                C.TOPN,
                C.TEMPORAL_JOIN,
                C.SETOP,
            ):
                raise InvalidQueryError(
                    f"step reads updating (changelog-emitting) alias(es) "
                    f"{', '.join(changelog_refs)}: only a windowless GROUP "
                    "BY aggregation (which folds op 1/2 rows as "
                    "retractions), a plain projection (which forwards "
                    "the op tags), SELECT DISTINCT (which keeps per-value "
                    "counts), Top-N (which re-ranks from a signed row "
                    "ledger), a regular equi-join (which applies "
                    "them as state deletions), or a temporal (as-of) join "
                    "on either side (an updating build maintains the "
                    "versioned view; an updating probe forwards its op "
                    "tags through the resolution), or a set operation "
                    "(which folds signed branch counts) can consume an "
                    "updating stream; other step kinds would misread "
                    "correction/retraction rows as appends"
                )
            # Executors of the accepted kinds pick their changelog variant
            # themselves when a view they read is updating.
            result = _EXECUTORS[kind](ctx, step.query)
            ctx.release_views()
            if step.alias:
                adf = result.df
                # A changelog-emitting alias consumed by a downstream
                # MAP-kind step (projection, filter, UNION ALL) needs its
                # emission order materialized: the op 2-before-3 pair
                # adjacency lives in order_cols, which reference internal
                # columns a projection won't carry. Every OTHER consumer
                # folds per tuple — continuous agg (signed accumulators),
                # changelog join (signed ledgers), retractable Top-N
                # (re-rank from nets), DISTINCT (per-value counts) — and
                # never reads arrival order, so the stamp (a
                # single-partition sort of the WHOLE per-invocation
                # emission, the one O(emission) serial point in these
                # chains) is skipped for them.
                # TEMPORAL_JOIN consumers also need the stamp: version rows
                # of one key tie on event_time within an invocation, and
                # the emission seq is the deterministic tie-break.
                ordered_views.discard(step.alias)
                unchecked.pop(step.alias, None)
                if result.seq_ordered:
                    # An order-preserving projection over a seq_ordered
                    # view: the stamp below would not reorder a row —
                    # skip it and propagate the order instead.
                    ordered_views.add(step.alias)
                elif (
                    OP_COL in adf.columns
                    and result.order_cols
                    and any(
                        step.alias in C.referenced_views(s2.query, {step.alias})
                        and C.classify(s2.query, all_names)
                        in (C.MAP, C.TEMPORAL_JOIN)
                        for s2 in steps[i + 1 :]
                    )
                ):
                    if not _ordered_chain_to_output(
                        step.alias, steps[i + 1 :], all_names, allow_where=False
                    ):
                        # Read concurrently by flush_deferred's state-save and output jobs.
                        adf = adf.persist(StorageLevel.MEMORY_AND_DISK)
                        pinned.append(adf)
                        adf.count()
                    adf = _stamp(adf, SEQ_INPUT, result.order_cols, 0)
                    ordered_views.add(step.alias)
                views[step.alias] = adf
                adf.createOrReplaceTempView(step.alias)
                event_time_cols[step.alias] = request.vocab.event_time_column
                prev_wms[step.alias] = saved_wms.get(step.alias)
                new_wms[step.alias] = result.watermark
        if result is None:
            raise InvalidQueryError("transform contains no query steps")

        out_df = _assemble_output(spark, request, result)
        # Flush every deferred state write in parallel WITH the output
        # write — all independent outputs (state loads only ever read the
        # previous checkpoint dir), so nothing serializes on anything.
        counts = {}

        def _write_output():
            counts["n"] = write_single_parquet(
                out_df, request.new_data_path, sorted_single=True
            )

        state.flush_deferred(also=_write_output)
        num_records = counts["n"]
        if num_records == 0:
            # The reference writes no data file on an empty result (e.g. a
            # watermark-only run with nothing to flush) — EngineAggregationTest
            # asserts !Files.exists(newDataPath).
            os.remove(request.new_data_path)

        # Persist watermark state for every view (inputs + aliased steps).
        state.save_watermarks({**new_wms, "__output__": result.watermark})
        state.finish()
    finally:
        for df in pinned:
            df.unpersist()
        # Inputs, step and multi-join aliases, temporal-table names and
        # the views a failed step bound: on a shared session a leftover
        # view would let a later request's SQL read this invocation's
        # data instead of failing.
        for name in set(views) | set(alias_map.values()) | set(bound):
            spark.catalog.dropTempView(name)

    return TransformResponse(
        new_offset_interval=(
            OffsetInterval(request.next_offset, request.next_offset + num_records - 1)
            if num_records > 0
            else None
        ),
        new_watermark=result.watermark,
    )


def _stamp(
    df: DataFrame, col: str, order_cols: list[str] | None, base: int
) -> DataFrame:
    """Number the rows of `df` base, base+1, ... into `col` on one
    partition, by position: after a sort by `order_cols` when given,
    else in the frame's natural (narrow-plan) order. The one offset and
    `__seq` stamp."""
    if order_cols:
        # One round-robin shuffle to a single partition and a local sort
        # — a global orderBy would add a range-partitioner SAMPLING job
        # for the same single-partition result. The order lives in the
        # Sort operator, not in a numbering column, so it survives when a
        # consumer prunes `col` and numbers the rows by position again.
        df = df.repartition(1).sortWithinPartitions(
            *[F.col(c).asc() for c in order_cols]
        )
    # Natural order must be preserved -> coalesce (partitions concatenate
    # in index order). On the single partition 0 the id is the row's
    # position.
    return df.coalesce(1).withColumn(
        col, (F.monotonically_increasing_id() + F.lit(base)).cast("long")
    )


def _assemble_output(
    spark: SparkSession, request: TransformRequest, result: StepResult
) -> DataFrame:
    vocab = request.vocab
    df = result.df
    user_cols = [c for c in df.columns if not c.startswith("__")]

    if vocab.event_time_column not in user_cols:
        raise InvalidQueryError(
            f"Event time column {vocab.event_time_column} was not found amongst: "
            + ", ".join(user_cols)
        )
    for forbidden in (vocab.offset_column, vocab.system_time_column):
        if forbidden in user_cols:
            raise InvalidQueryError(
                f"Transformed data contains a column that conflicts with the system "
                f"column name, you should either rename the data column or configure "
                f"the dataset vocabulary to use a different name: {forbidden}"
            )

    # Deterministic emission order -> offset stamping. Sorting happens on
    # the full (possibly internal) column set, then internals are dropped.
    # A seq_ordered emission is already in order_cols order with no ties:
    # numbering by position gives exactly the offsets the sort would.
    order_cols = None if result.seq_ordered else result.order_cols
    return _finalize_output(
        _stamp(df, vocab.offset_column, order_cols, request.next_offset),
        request,
        user_cols,
    )


def _finalize_output(
    df: DataFrame, request: TransformRequest, user_cols: list[str]
) -> DataFrame:
    """Shared tail of output assembly once the offset column exists: op
    derivation, system_time stamp, system/internal column ordering."""
    vocab = request.vocab
    # op: propagated if the user query emitted it, else executor-derived
    # (Top-N corrections), else Append (TransformEngine.scala:294-302).
    if vocab.operation_type_column in user_cols:
        df = df.withColumn(
            vocab.operation_type_column, F.col(vocab.operation_type_column).cast("int")
        )
    elif OP_COL in df.columns:
        df = df.withColumn(vocab.operation_type_column, F.col(OP_COL).cast("int"))
    else:
        df = df.withColumn(vocab.operation_type_column, F.lit(OP_APPEND).cast("int"))

    df = df.withColumn(
        vocab.system_time_column, F.lit(request.system_time).cast("timestamp")
    )

    ordered_user_cols = [
        c for c in user_cols if c not in (vocab.operation_type_column,)
    ]
    # Internal (__-prefixed) columns drop out here.
    return df.select(
        vocab.offset_column,
        vocab.operation_type_column,
        vocab.system_time_column,
        *ordered_user_cols,
    )
