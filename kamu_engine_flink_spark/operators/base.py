"""Common contract for stateful step executors.

Each transform query step runs through an executor that owns the step's
cross-invocation state (the role Flink savepoints play in the reference —
SURVEY.md §7 "State = versioned Parquet under the checkpoint dir").

Timing model, mirroring ParquetFilesStreamSourceFunction.scala:46-56 and
:115-126: rows of the current invocation are processed under the PREVIOUS
watermark (the source emits the saved watermark first, then data, then the
request's explicit watermarks last). So lateness checks use prev_wm and
emission checks use new_wm.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import Column, DataFrame, SparkSession

from ..engine.state import StateStore
from ..plans.dialect import rewrite_query
from ..protocol.model import TransformRequest
from ..sources.parquet import serial_scan_in_ledger_order

OP_COL = "__op"  # the op tag column of an updating (changelog-emitting) view
SEQ_INPUT = "__seq"  # the ledger offset of an input row, hidden from user SQL


@dataclass
class StepContext:
    spark: SparkSession
    state: StateStore
    step_key: str  # stable per transform step, e.g. "step0"
    request: TransformRequest
    views: dict[str, DataFrame]  # current-run rows per registered view
    event_time_cols: dict[str, str]  # view -> event-time column name
    prev_wms: dict[str, datetime | None]
    new_wms: dict[str, datetime | None]
    # DataFrames an executor persisted for reuse between its state-save
    # action and the output action; the engine unpersists them after the
    # final write (shared list across all steps of one invocation).
    pinned: list[DataFrame] = field(default_factory=list)
    # On-disk bytes of each RAW input view's slice this invocation (step
    # aliases absent): lets stateful joins decide from REAL sizes whether
    # the new slice is broadcastable against accumulated state, instead
    # of forcing a hint that would OOM when a slice is genuinely large.
    slice_sizes: dict[str, int] = field(default_factory=dict)
    # Views that are seq_ordered this invocation: partition-major row
    # order equals __seq order, with no ties. The engine's mid-chain
    # emission stamp produces this shape, a raw input passes it when its
    # offsets check out, and an order-preserving projection keeps it. An
    # emission over one of these is numbered by position, with no
    # repartition(1) + sort (engine/transform._assemble_output).
    # Shared (mutated) across the steps of one invocation, like `views`.
    seq_ordered_views: set[str] = field(default_factory=set)
    # Raw input views not yet checked: alias -> (slice paths, offset
    # column). Checked at most once, on first use (seq_ordered).
    unchecked_inputs: dict[str, tuple[list[str], str]] = field(default_factory=dict)
    # This step's emission can reach the output through order-preserving
    # maps, so a raw input's order is worth checking; otherwise an
    # unchecked input answers False and stays unchecked.
    check_inputs: bool = False
    # Temp views that sql() registered, name -> the frame now registered
    # under it. Shared across the steps of one invocation, like `views`;
    # the engine releases them after every step (release_views).
    bound_views: dict[str, DataFrame] = field(default_factory=dict)

    def sql(
        self, query: str, wm: datetime | None = None, /, **bindings: DataFrame
    ) -> DataFrame:
        """Run one Flink-dialect `query` (current_watermark() reads `wm`)
        with each of `bindings` registered as the temp view of its name.
        A name an earlier call bound and this one does not goes back to
        its `views` frame first, so consecutive calls over the same names
        re-register nothing else. `spark.sql` resolves views when it
        analyzes the query, so the result keeps its bindings after the
        names are released."""
        for name in [n for n in self.bound_views if n not in bindings]:
            self._rebind(name, self.views.get(name))
        for name, df in bindings.items():
            self._rebind(name, df)
        return self.spark.sql(rewrite_query(query, watermark=wm))

    def release_views(self) -> None:
        """Put every name sql() bound back to its `views` frame, or drop
        it when `views` has none: the next step, and the next invocation
        on a shared session, see only the engine's own views."""
        for name in list(self.bound_views):
            self._rebind(name, self.views.get(name))
        self.bound_views.clear()

    def _rebind(self, name: str, df: DataFrame | None) -> None:
        if df is None:
            self.spark.catalog.dropTempView(name)
            del self.bound_views[name]
        elif self.bound_views.get(name) is not df:
            df.createOrReplaceTempView(name)
            self.bound_views[name] = df

    def seq_ordered(self, view: str) -> bool:
        """True when `view` is seq_ordered. A raw input is checked on
        first ask from a step with `check_inputs`: it must be one slice
        file of one row group with strictly increasing offsets (a
        driver-side column read, no Spark job). Its scan is then one
        task either way, so numbering by position gives up no
        parallelism."""
        if self.check_inputs and view in self.unchecked_inputs:
            paths, offset_col = self.unchecked_inputs.pop(view)
            if serial_scan_in_ledger_order(paths, offset_col):
                self.seq_ordered_views.add(view)
        return view in self.seq_ordered_views

    def pin(self, df: DataFrame) -> DataFrame:
        """Cache `df` (memory-and-disk) so the state-save action and the
        result action scan the input union once, not twice — per-slice
        read amplification is 2x otherwise on every stateful step."""
        from pyspark import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self.pinned.append(df)
        return df


@dataclass
class StepResult:
    df: DataFrame
    watermark: datetime | None
    # Deterministic emission order for offset stamping; None = preserve the
    # DataFrame's natural (single-input narrow-plan) order.
    order_cols: list[str] | None = None
    # order_cols == [__seq] AND the frame is seq_ordered (partition-major
    # row order equals __seq order, no ties): an order-preserving
    # projection over a seq_ordered view. Offsets are then numbered by
    # position and the output assembly skips its repartition(1) + sort;
    # a re-stamp of the alias is skipped too (it would not reorder).
    seq_ordered: bool = False


def sql_expr(expr: str, wm: datetime | None = None) -> Column:
    """One Flink-dialect SQL expression as a Column (current_watermark()
    reads `wm`)."""
    from pyspark.sql import functions as F

    return F.expr(rewrite_query(expr, watermark=wm))


def min_watermark(*wms: datetime | None) -> datetime | None:
    present = [w for w in wms if w is not None]
    if not present:
        return None
    return min(present)


def reads_updating(ctx: StepContext, *views: str) -> bool:
    """True when one of `views` is updating: it carries the op tag column,
    so the step must run its changelog variant."""
    return any(OP_COL in ctx.views[v].columns for v in views)


def split_touched_state(
    prev: DataFrame, keys: list[str], probe_keys: DataFrame,
    no_null_keys: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """(active, untouched): partition a keyed state relation by whether its
    key appears in `probe_keys` (this slice's key set).

    Probes use plain `=` so a BUCKETED state scan keeps its output
    partitioning and plans no exchange — Spark rewrites null-safe (<=>)
    join keys into coalesce/isnull composites that defeat hash-partition
    pruning, re-shuffling the whole state. NULL group keys (legal groups
    under GROUP BY / PARTITION BY semantics) can never `=`-match, so
    NULL-keyed state rows are unconditionally routed to `active`: folding
    an unchanged group is a no-op emission-wise, and NULL-key groups stay
    exact without a full-state null-safe shuffle.

    `no_null_keys=True` (for callers whose keys provably can't be NULL —
    the md5 row fingerprints of DISTINCT and the set operators) skips
    that NULL branch: the Union it creates reports UnknownPartitioning,
    which makes the downstream keyed join re-shuffle the WHOLE state and
    silently defeats the bucketed scan this function exists to preserve."""
    from pyspark.sql import functions as F

    cond = None
    for k in keys:
        c = F.col(f"s.{k}") == F.col(f"p.{k}")
        cond = c if cond is None else (cond & c)
    if no_null_keys:
        active = prev.alias("s").join(probe_keys.alias("p"), cond, "left_semi")
        untouched = prev.alias("s").join(
            probe_keys.alias("p"), cond, "left_anti"
        )
        return active, untouched
    nn = None
    for k in keys:
        c = F.col(k).isNotNull()
        nn = c if nn is None else (nn & c)
    state_nn = prev.filter(nn)
    state_null = prev.filter(~nn)
    active = state_nn.alias("s").join(
        probe_keys.alias("p"), cond, "left_semi"
    ).unionByName(state_null)
    untouched = state_nn.alias("s").join(probe_keys.alias("p"), cond, "left_anti")
    return active, untouched


def state_split_worthwhile(
    ctx: "StepContext", state_name: str, src: str | None, factor: int = 4
) -> bool:
    """Gate for the touched-keys state split: worth its probe cost only
    when the accumulated state is substantially larger than this slice
    (the steady-state shape of a long-lived stream — a daily slice against
    months of keys). When state ~ slice, the slice plausibly touches most
    keys and the split's semi/anti/distinct passes are pure overhead on
    top of an unavoidable full fold. Decided from free file-size metadata
    — no Spark job."""
    state_bytes = ctx.state.relation_bytes(state_name)
    if not state_bytes:
        return False  # first invocation: nothing to split
    slice_bytes = ctx.slice_sizes.get(src) if src else None
    if slice_bytes is None:
        return True  # chained alias, size unknown: prefer the scale-safe path
    return state_bytes > factor * slice_bytes


def maintain_signed_ledger(
    ctx: "StepContext",
    name: str,
    delta: "DataFrame",
    value_cols: list[str],
    sign_col: str,
    bucket_by: list[str] | None,
    full: "DataFrame | None" = None,
) -> None:
    """Persist a signed-multiset ledger: append the invocation's signed
    rows, folded by StateStore.append_or_fold once the ledger has grown.
    An upstream changelog emits a +1/-1 pair per touched tuple EVERY
    invocation, so an append-only ledger grows with changelog volume, not
    live rows. The fold nets the ledger (groupBy tuple, sum sign, drop
    zero nets) — semantics-preserving, since every consumer folds by
    summing signs — back to one row per live tuple (Flink retains only
    live rows continuously).

    `full` optionally passes the already-loaded prior ledger so the
    fold reuses its (bucketed) scan."""
    from pyspark.sql import functions as F

    def net() -> "DataFrame":
        ledger = (
            full
            if full is not None
            else ctx.state.load_df(name, schema=delta.schema)
        )
        sign_type = delta.schema[sign_col].dataType
        return (
            ledger.unionByName(delta)
            .groupBy(*value_cols)
            .agg(F.sum(sign_col).cast(sign_type).alias(sign_col))
            .filter(F.col(sign_col) != 0)
        )

    ctx.state.append_or_fold(name, delta, bucket_by, net)
