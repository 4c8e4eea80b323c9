"""Stateful temporal (as-of) join.

Reference semantics (README.md "Temporal Table Joins",
TransformEngine.scala:163-200, EngineJoinStreamToTemporalTableTest): one
input is declared a temporal table keyed by a single-column PK and
versioned by event_time; each probe row joins the latest version whose
event_time <= the probe's event_time. Probe rows wait until the watermark
of BOTH inputs passes their event time (so the joined version is final);
buffered probe rows flush on later invocations as watermarks advance.

Spark-first derivation: the version history is a persisted relation; we
derive validity intervals [__valid_from, __valid_to) per key with `lead()`
and let the dialect layer (plans/dialect.py) rewrite both Flink spellings
(`LATERAL TABLE (f(t.ts))` and `FOR SYSTEM_TIME AS OF`) into a plain range
join Catalyst can plan — and broadcast when the versioned side is small,
which is the common dimension-table case at scale. Version state appends
O(slice) per invocation (bucketed by the PK, so the validity window plans
no state-side exchange); a size-triggered fold prunes versions no longer
valid at the joint watermark, keeping state bounded by key cardinality,
not history length.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.classify import referenced_views
from ..plans.dialect import VALID_FROM, VALID_TO, VERSIONS_SUFFIX
from ..protocol.model import InvalidQueryError, TemporalTable
from .base import (
    OP_COL,
    SEQ_INPUT,
    StepContext,
    StepResult,
    min_watermark,
    reads_updating,
)


def with_validity(versions: DataFrame, primary_key: list[str], event_time_col: str) -> DataFrame:
    """Attach [__valid_from, __valid_to) to each version row."""
    w = Window.partitionBy(*primary_key).orderBy(F.col(event_time_col).asc())
    return versions.withColumn(VALID_FROM, F.col(event_time_col)).withColumn(
        VALID_TO, F.lead(event_time_col).over(w)
    )


def _reachable(versioned: DataFrame, joint_wm) -> DataFrame:
    """The versions a future probe (event_time > joint_wm) can resolve to:
    the latest version per key at or before the watermark, plus every
    later one."""
    return versioned.filter(
        F.col(VALID_TO).isNull() | (F.col(VALID_TO) > F.lit(joint_wm))
    ).drop(VALID_FROM, VALID_TO)


def resolve_temporal_table(ctx: StepContext, name: str) -> TemporalTable:
    for t in ctx.request.transform.temporal_tables:
        if t.name == name:
            if not t.primary_key:
                raise InvalidQueryError(
                    f"temporal table '{name}' must declare at least one "
                    "primary key column"
                )
            # COMPOSITE primary keys are supported BEYOND reference
            # parity (TransformEngine.scala:194-197 throws on them):
            # every executor versions/buckets/compacts per full key
            # tuple; the user's join condition equates all key columns,
            # exactly as Flink's temporal join would require.
            return t
    raise InvalidQueryError(f"temporal table '{name}' is not declared")


_LITERAL_KW = {"true", "false", "null"}


def _other_side_identifier_right(sql: str, pos: int) -> bool:
    """Does the text at `pos` (just past `col =`) begin with something
    identifier-/expression-like rather than a literal?"""
    m = re.match(r"\s*(?:NOT\s+)?([A-Za-z_][\w]*|`|\()", sql[pos:])
    if not m:
        return False
    tok = m.group(1)
    return tok in ("`", "(") or tok.lower() not in _LITERAL_KW


def _other_side_identifier_left(sql: str, pos: int) -> bool:
    """Does the token ending just before `pos` (the `=` of `... = col`)
    look identifier-/expression-like rather than a literal?"""
    i = pos
    while i > 0 and sql[i - 1].isspace():
        i -= 1
    if i == 0:
        return False
    if sql[i - 1] in ("'", '"'):
        return False
    if sql[i - 1] in (")", "`"):
        return True
    j = i
    while j > 0 and (sql[j - 1].isalnum() or sql[j - 1] in "._"):
        j -= 1
    tok = sql[j:i]
    if not tok:
        return False
    if re.fullmatch(r"[\d.]+", tok):
        return False
    return tok.lower() not in _LITERAL_KW


def _pk_equated(sql: str, col: str, build_quals: set[str] | None = None) -> bool:
    """True when `col` appears in an equality predicate (or USING list)
    that plausibly equates the BUILD side's key. Tightened per ADVICE
    r12: an equality to a LITERAL (`r.symbol = 'AAPL'`, `= 5`, `= NULL`)
    never counts, and when `build_quals` (the temporal table's name plus
    its aliases in this query) is known, a col reference QUALIFIED by a
    non-build table only counts if the OTHER side is itself a
    build-qualified reference — so a probe-probe equality
    (`p1.symbol = p2.symbol`) no longer satisfies the guard. Still a
    heuristic on purpose: a false positive merely skips the loud guard
    below, while every conventional spelling (ON a.c = b.c / USING (c))
    is detected."""
    c = re.escape(col)
    if re.search(rf"USING\s*\([^)]*\b{c}\b[^)]*\)", sql, re.IGNORECASE):
        return True
    refs = []
    if build_quals:
        qp = "|".join(re.escape(q.strip("`")) for q in sorted(build_quals))
        refs.append(rf"(?<![\w`])`?(?:{qp})`?\s*\.\s*`?{c}`?(?![\w`])")
    else:
        # No FROM-clause context (bare-snippet mode): accept any
        # qualifier, as before.
        refs.append(
            rf"(?<![\w.`])(?:\w+|`[^`]+`)\s*\.\s*`?{c}`?(?![\w`])"
        )
    refs.append(rf"(?<![\w.`])`?{c}`?(?![\w`.])")  # unqualified
    for ref in refs:
        for m in re.finditer(rf"{ref}\s*==?(?!=)", sql, re.IGNORECASE):
            if _other_side_identifier_right(sql, m.end()):
                return True
        for m in re.finditer(rf"(?<![<>!=])(==?\s*){ref}", sql, re.IGNORECASE):
            if _other_side_identifier_left(sql, m.start(1)):
                return True
    return False


def _require_full_pk_equality(sql: str, name: str, pk: list[str]) -> None:
    """Temporal-join correctness requires the join condition to equate
    EVERY declared primary-key column: a condition covering only a key
    prefix matches multiple live versions whose validity intervals
    overlap when projected onto that prefix, silently multiplying rows
    (ADVICE r11). Flink's planner enforces the same via the temporal
    table's PRIMARY KEY; we reject loudly instead of diverging."""
    from ..plans.dialect import (
        _LATERAL_RE,
        _SYSTEM_TIME_JOIN_RE,
        _unnest_from_tables,
    )

    # The build table's aliases: the FOR SYSTEM_TIME / LATERAL TABLE
    # spellings place the alias AFTER the temporal clause, so collect
    # them from the dedicated regexes; the plain FROM/JOIN scan covers
    # any remaining direct references.
    target = name.strip("`").lower()
    quals = {name}
    for rx in (_SYSTEM_TIME_JOIN_RE, _LATERAL_RE):
        for m in rx.finditer(sql):
            if m.group(1).strip("`").split(".")[-1].lower() == target:
                alias = m.group(3) or m.group(4)
                if alias:
                    quals.add(alias.strip("`"))
    for a, t in _unnest_from_tables(sql).items():
        if t.strip("`").lower() == target:
            quals.add(a.strip("`"))
    missing = [c for c in pk if not _pk_equated(sql, c, quals)]
    if missing:
        raise InvalidQueryError(
            f"temporal join with '{name}' must equate every primary-key "
            f"column in its join condition; missing equality on: "
            f"{', '.join(missing)} (declared primary key: {', '.join(pk)})"
        )


def _probe_time_col(sql: str, probe_cols, default: str) -> str:
    """Probe-side release column. Ordinarily the vocab event-time column;
    a multi-join INTERMEDIATE probe carries mangled pass-through names
    (plans/multi_join.py), so when the vocab column is absent the
    FOR SYSTEM_TIME AS OF / LATERAL time expression's own column — always
    a probe-side time attribute — names the release column."""
    if default in probe_cols:
        return default
    from ..plans.dialect import _LATERAL_RE, _SYSTEM_TIME_JOIN_RE

    m = _SYSTEM_TIME_JOIN_RE.search(sql) or _LATERAL_RE.search(sql)
    if m:
        col = m.group(2).split(".")[-1].strip("`")
        if col in probe_cols:
            return col
    return default


def _parse_sides(ctx: StepContext, sql: str):
    """(build, probe, tt, pks, build_et, probe_et) of a temporal join;
    pks is the (possibly composite) primary-key column list."""
    known = set(ctx.views)
    refs = referenced_views(sql, known)
    temporal_names = {t.name for t in ctx.request.transform.temporal_tables}
    build_names = [r for r in refs if r in temporal_names]
    probe_names = [r for r in refs if r not in temporal_names]
    if len(build_names) != 1 or len(probe_names) != 1:
        raise InvalidQueryError(
            f"temporal join must reference one probe and one temporal table, got {refs}"
        )
    build, probe = build_names[0], probe_names[0]
    tt = resolve_temporal_table(ctx, build)
    _require_full_pk_equality(sql, build, tt.primary_key)
    build_et = ctx.event_time_cols[build]
    probe_et = _probe_time_col(
        sql, ctx.views[probe].columns, ctx.event_time_cols[probe]
    )
    return build, probe, tt, tt.primary_key, build_et, probe_et


def _changelog_version_state(
    ctx: StepContext, build_df, build_et: str, pk: list, joint_wm
) -> DataFrame:
    """Maintain the CHANGELOG-fed version ledger and return the resolvable
    (live-version) validity view.

    The changelog rows ARE the version history: an op-0/op-3 row creates
    a version of its key at its event_time, an op-1 row creates a
    TOMBSTONE (the key is dead from that time until its next version),
    and op-2 (CorrectFrom) rows are pair bookkeeping with no version
    content. Versions of one key ordered by (event_time, emission seq)
    yield validity intervals exactly like the append-only executor.

    Scale shape: the version state is an append-only relation bucketed by
    the PK — one O(slice) delta append per invocation, folded like the
    Top-N ledger (StateStore.append_or_fold) to the versions still
    reachable at the joint watermark. Validity derivation is a window
    over the bucketed scan (no exchange on the state side).
    """
    from pyspark.sql.types import BooleanType, LongType, StructField, StructType

    value_cols = [c for c in build_df.columns if not c.startswith("__")]
    if any(p not in value_cols for p in pk) or build_et not in value_cols:
        raise InvalidQueryError(
            f"temporal table must project its primary key "
            f"({', '.join(pk)}) and event time ({build_et})"
        )

    TOMB, VSEQ = "__tombstone", "__vseq"
    meta_name = f"{ctx.step_key}-cl-versions-meta"
    meta = ctx.state.load_json(meta_name, {}) or {}
    inv = int(meta.get("inv", 0))
    # Late-version drops gate on the JOINT watermark actually used for
    # probe releases, not the build watermark: when the build side runs
    # ahead of the probe side (dimension-ahead-of-facts), versions with
    # event_time in (joint_wm, build_wm] can only affect still-buffered,
    # never-emitted probes — Flink stores and uses such rows, and so must
    # we. Older checkpoints stored only build_wm; fall back to it (it can
    # only be >= the joint one, so the fallback never over-drops vs the
    # behavior those checkpoints already exhibited).
    prev_jw = _iso(meta.get("joint_wm") or meta.get("build_wm"))

    seq = (
        F.col(SEQ_INPUT).cast(LongType())
        if SEQ_INPUT in build_df.columns
        else F.lit(0).cast(LongType())
    )
    delta = build_df.filter(F.col(OP_COL) != 2).select(
        *value_cols,
        (F.col(OP_COL) == 1).alias(TOMB),
        # Globally monotonic across invocations: emission seq is bounded
        # by the per-invocation output (far below 2^40).
        (F.lit(inv * (1 << 40)).cast(LongType()) + seq).alias(VSEQ),
    )
    if prev_jw is not None:
        # Late version rows (at or before the joint watermark already used
        # for releases) could contradict emitted probes — drop, like
        # Flink's late changelog handling. Versions above the joint
        # watermark are kept even if behind the build watermark: the
        # probes they resolve are still buffered.
        delta = delta.filter(F.col(build_et) > F.lit(prev_jw))
    delta = ctx.pin(delta)

    versions_state = f"{ctx.step_key}-cl-versions"
    ledger_schema = StructType(
        [build_df.schema[c] for c in value_cols]
        + [StructField(TOMB, BooleanType()), StructField(VSEQ, LongType())]
    )
    prev_versions = ctx.state.load_df(versions_state, schema=ledger_schema)
    versions = prev_versions.unionByName(delta)

    # Validity intervals per key, ties within one event time broken by
    # emission order; tombstone rows shape the intervals, then drop out of
    # the probe-resolution view (their interval matches nothing).
    w = Window.partitionBy(*pk).orderBy(F.col(build_et).asc(), F.col(VSEQ).asc())
    versioned = (
        versions.withColumn(VALID_FROM, F.col(build_et))
        .withColumn(VALID_TO, F.lead(build_et).over(w))
    )
    resolvable = versioned.filter(~F.col(TOMB)).drop(TOMB, VSEQ)

    # State maintenance: O(slice) delta append, folded to the versions
    # still reachable at the joint watermark (tombstones included, so a
    # dead key stays dead).
    def prune() -> DataFrame | None:
        return None if joint_wm is None else _reachable(versioned, joint_wm)

    ctx.state.append_or_fold(versions_state, delta, pk, prune)
    ctx.state.save_json(
        meta_name,
        {
            "inv": inv + 1,
            "joint_wm": (
                joint_wm.isoformat()
                if joint_wm
                else (meta.get("joint_wm") or meta.get("build_wm"))
            ),
        },
    )
    return resolvable


def execute_changelog_temporal_join(ctx: StepContext, sql: str, sides) -> StepResult:
    """Temporal (as-of) join with at least one UPDATING
    (changelog-emitting) side — Flink's event-time temporal join, which
    accepts a changelog on either side (reference surface via planner
    delegation, TransformEngine.scala:252-262, temporal machinery
    :163-200).

    BUILD updating (the mainline latest-rate pattern): the changelog
    maintains the versioned view — op-0/3 rows as versions, op-1
    tombstones, late versions dropped against the joint watermark. The
    output is APPEND-ONLY (probe rows are inserts), so it chains freely.

    PROBE updating (continuous agg probing a rates table): the probe
    changelog buffers as a SIGNED ledger and each released row — insert,
    retraction, or correction half — resolves against the version live
    at ITS event time, forwarding its op tag, so a retraction retracts
    exactly the join output its insert produced (version history at or
    below released times is frozen: by the watermark contract for an
    append-only build, by the late-drop rule for a changelog build).
    The output is itself a changelog.

    Finality mirrors Flink: probe rows release when the joint watermark
    passes their event time.
    """
    build, probe, tt, pk, build_et, probe_et = sides
    if reads_updating(ctx, probe):
        return _execute_updating_probe(
            ctx, sql, build, probe, tt, pk, build_et, probe_et
        )

    # Probe buffering + release: identical to the append-only executor.
    probe_state = f"{ctx.step_key}-probe-buffer"
    prev_probe = ctx.state.load_df(probe_state, schema=ctx.views[probe].schema)
    probe_all = ctx.pin(prev_probe.unionByName(ctx.views[probe]))
    pw, bw = ctx.new_wms.get(probe), ctx.new_wms.get(build)
    joint_wm = min_watermark(pw, bw) if pw is not None and bw is not None else None
    if joint_wm is not None:
        release = probe_all.filter(F.col(probe_et) <= F.lit(joint_wm))
        keep = probe_all.filter(F.col(probe_et) > F.lit(joint_wm))
    else:
        release = probe_all.limit(0)
        keep = probe_all

    ctx.state.save_df(probe_state, keep)
    resolvable = _changelog_version_state(
        ctx, ctx.views[build], build_et, pk, joint_wm
    )

    result = ctx.sql(
        sql, joint_wm, **{probe: release, build + VERSIONS_SUFFIX: resolvable}
    )

    order_cols = list(result.columns)
    out_et = ctx.request.vocab.event_time_column
    if out_et in order_cols:
        order_cols.remove(out_et)
        order_cols.insert(0, out_et)
    return StepResult(df=result, watermark=joint_wm, order_cols=order_cols)


_PROBE_OP, _PROBE_SEQ = "__pop", "__pseq"


def _inject_probe_tags(sql: str) -> str:
    """Thread the probe ledger's op tag and emission seq through the
    user's SELECT list. Requires an explicit projection: with a star the
    injected names would collide with the star expansion and the version
    side's validity columns would leak."""
    import re

    from ..plans.classify import mask_sql, select_count

    if select_count(sql) != 1 or re.search(
        r"(?:\bselect|,)\s*(?:[`\w]+\s*\.\s*)?\*",
        mask_sql(sql, parens=True),
        re.IGNORECASE,
    ):
        raise InvalidQueryError(
            "a temporal join over an UPDATING probe side needs a single "
            "SELECT with an explicit projection (no star) so the "
            "changelog op tags can be threaded through"
        )
    return re.sub(
        r"^\s*select\s+",
        f"SELECT {_PROBE_OP}, {_PROBE_SEQ}, ",
        sql,
        count=1,
        flags=re.IGNORECASE,
    )


def _execute_updating_probe(
    ctx: StepContext, sql: str, build, probe, tt, pk, build_et, probe_et
) -> StepResult:
    """Temporal (as-of) join whose PROBE side is an updating alias.

    The probe changelog buffers as a signed ledger stamped with a
    globally monotone emission seq; rows of every op kind release when
    the joint watermark passes their event time and resolve against the
    version live at that time. Op tags forward to the output — with one
    repair: an op-2/op-3 correction pair can SPLIT (one half buffered
    past the watermark, or one half dropped by an inner join whose other
    half resolves), and a dangling half rewrites to the changelog-
    equivalent single op (op-2 alone -> op-1 DELETE, op-3 alone -> op-0
    INSERT). Pair partners are adjacent in emission seq (upstream
    executors emit op-2 immediately before its op-3), so partner
    presence is one equi-join of the emission against itself on seq+-1 —
    O(emission), shuffle-parallel, no state.

    Build side: changelog-maintained versions when the temporal table is
    itself updating, the plain append-only version ledger otherwise.
    """
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType


    probe_df = ctx.views[probe]
    if SEQ_INPUT not in probe_df.columns:
        raise InvalidQueryError(
            "updating probe side of a temporal join lost its emission "
            "seq — op-2/op-3 pair adjacency cannot be preserved"
        )
    # A multi-join INTERMEDIATE probe carries pass-through data under
    # mangled `__mj_*` names (plans/multi_join.py) — those are values,
    # not engine internals, and must survive the ledger.
    value_cols = [
        c for c in probe_df.columns
        if not c.startswith("__") or c.startswith("__mj_")
    ]
    if probe_et not in value_cols:
        raise InvalidQueryError(
            f"updating probe '{probe}' must project its event time ({probe_et})"
        )
    injected = _inject_probe_tags(sql)

    pmeta_name = f"{ctx.step_key}-cl-probe-meta"
    pmeta = ctx.state.load_json(pmeta_name, {}) or {}
    pinv = int(pmeta.get("inv", 0))
    delta = probe_df.select(
        *value_cols,
        F.col(OP_COL).cast(IntegerType()).alias(_PROBE_OP),
        (
            F.lit(pinv * (1 << 40)).cast(LongType())
            + F.col(SEQ_INPUT).cast(LongType())
        ).alias(_PROBE_SEQ),
    )

    probe_state = f"{ctx.step_key}-probe-buffer"
    ledger_schema = StructType(
        [probe_df.schema[c] for c in value_cols]
        + [
            StructField(_PROBE_OP, IntegerType()),
            StructField(_PROBE_SEQ, LongType()),
        ]
    )
    prev_probe = ctx.state.load_df(probe_state, schema=ledger_schema)
    probe_all = ctx.pin(prev_probe.unionByName(delta))
    pw, bw = ctx.new_wms.get(probe), ctx.new_wms.get(build)
    joint_wm = min_watermark(pw, bw) if pw is not None and bw is not None else None
    if joint_wm is not None:
        release = probe_all.filter(F.col(probe_et) <= F.lit(joint_wm))
        keep = probe_all.filter(F.col(probe_et) > F.lit(joint_wm))
    else:
        release = probe_all.limit(0)
        keep = probe_all

    ctx.state.save_df(probe_state, keep)
    build_df = ctx.views[build]
    if OP_COL in build_df.columns:
        resolvable = _changelog_version_state(ctx, build_df, build_et, pk, joint_wm)
    else:
        resolvable = _appendonly_version_state(
            ctx, build, build_et, tt.primary_key, joint_wm
        )
    ctx.state.save_json(pmeta_name, {"inv": pinv + 1})

    # Pinned: the dangling-half repair below self-joins the
    # resolution output, which would otherwise recompute the whole
    # state-union + range-join subtree twice.
    raw = ctx.pin(
        ctx.sql(
            injected, joint_wm, **{probe: release, build + VERSIONS_SUFFIX: resolvable}
        )
    )

    # Dangling-half repair: a correction half whose partner (seq +- 1)
    # is absent from THIS emission — buffered past the watermark or
    # dropped by the inner join — becomes the equivalent single op.
    # Resolution is deterministic on (key, event time) over frozen
    # history, so the repair composes across invocations: the halves of
    # a split pair rewrite consistently whenever each releases.
    op = F.col(_PROBE_OP)
    partners = raw.filter(op.isin(2, 3)).select(
        F.col(_PROBE_SEQ).alias("__partner")
    )
    fixed = raw.withColumn(
        "__want",
        F.when(op == 2, F.col(_PROBE_SEQ) + 1).when(op == 3, F.col(_PROBE_SEQ) - 1),
    ).join(partners, F.col("__want") == F.col("__partner"), "left")
    result = (
        fixed.withColumn(
            OP_COL,
            F.when((op == 2) & F.col("__partner").isNull(), F.lit(1))
            .when((op == 3) & F.col("__partner").isNull(), F.lit(0))
            .otherwise(op)
            .cast(IntegerType()),
        )
        .drop(_PROBE_OP, "__want", "__partner")
        .withColumnRenamed(_PROBE_SEQ, SEQ_INPUT)
    )
    return StepResult(df=result, watermark=joint_wm, order_cols=[SEQ_INPUT])


def _iso(value):
    if not value:
        return None
    from datetime import datetime

    return datetime.fromisoformat(value)


def _appendonly_version_state(
    ctx: StepContext, build: str, build_et: str, pk: list, joint_wm
) -> DataFrame:
    """Maintain the APPEND-ONLY version ledger of temporal table `build`
    and return the validity view.

    Version history accumulates across invocations, scoped per STEP: two
    temporal-join steps on the same build table prune by different joint
    watermarks — a shared file would let the last writer destroy versions
    the other step's buffered probes need.

    State maintenance: the common case appends only this invocation's
    build slice, bucketed by the PK — O(slice) per invocation, and the
    next run's validity window plans no exchange on the state side.
    Unreachable versions (future probes have event_time > joint_wm, so
    only versions valid at or after it matter) are dropped by the fold
    StateStore.append_or_fold runs once the relation has grown, instead
    of a full O(state) rewrite EVERY invocation. A legacy (or
    pre-bucketing) relation migrates through the fold on first touch.
    """
    versions_state = f"{ctx.step_key}-versions-{build}"
    # One-time migration: checkpoints from engine revisions before the
    # per-step scoping used the unscoped key. Loading the legacy file once
    # (it is re-saved under the scoped key below) keeps a restored
    # dataset's entire build-side history instead of silently starting an
    # EMPTY versions frame.
    legacy_versions_state = f"versions-{build}"
    migrating = not ctx.state.has_df(versions_state) and ctx.state.has_df(
        legacy_versions_state
    )
    if migrating:
        prev_versions = ctx.state.load_df(
            legacy_versions_state, schema=ctx.views[build].schema
        )
    else:
        prev_versions = ctx.state.load_df(
            versions_state, schema=ctx.views[build].schema
        )
    versions = ctx.pin(prev_versions.unionByName(ctx.views[build]))
    versioned = with_validity(versions, pk, build_et)

    def prune() -> DataFrame | None:
        if joint_wm is None:
            return versions if migrating else None
        return _reachable(versioned, joint_wm)

    ctx.state.append_or_fold(
        versions_state, ctx.views[build], pk, prune, force=migrating
    )
    return versioned


def execute_temporal_join(ctx: StepContext, sql: str) -> StepResult:
    sides = _parse_sides(ctx, sql)
    build, probe, tt, _pk, build_et, probe_et = sides
    if reads_updating(ctx, build, probe):
        return execute_changelog_temporal_join(ctx, sql, sides)

    # Probe rows release when the joint watermark passes their event time.
    probe_state = f"{ctx.step_key}-probe-buffer"
    prev_probe = ctx.state.load_df(probe_state, schema=ctx.views[probe].schema)
    probe_all = ctx.pin(prev_probe.unionByName(ctx.views[probe]))
    # Releasing a probe requires the watermark of BOTH inputs past its
    # event time (the joined version must be final). A side with no
    # watermark yet holds everything — min_watermark's skip-None would
    # otherwise release probes against non-final history and drop them
    # from the buffer forever.
    pw, bw = ctx.new_wms.get(probe), ctx.new_wms.get(build)
    joint_wm = min_watermark(pw, bw) if pw is not None and bw is not None else None
    if joint_wm is not None:
        release = probe_all.filter(F.col(probe_et) <= F.lit(joint_wm))
        keep = probe_all.filter(F.col(probe_et) > F.lit(joint_wm))
    else:
        release = probe_all.limit(0)
        keep = probe_all

    ctx.state.save_df(probe_state, keep)
    versioned = _appendonly_version_state(
        ctx, build, build_et, tt.primary_key, joint_wm
    )

    result = ctx.sql(
        sql, joint_wm, **{probe: release, build + VERSIONS_SUFFIX: versioned}
    )

    order_cols = list(result.columns)
    out_et = ctx.request.vocab.event_time_column
    if out_et in order_cols:
        order_cols.remove(out_et)
        order_cols.insert(0, out_et)
    return StepResult(df=result, watermark=joint_wm, order_cols=order_cols)
