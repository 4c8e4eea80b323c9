"""Changelog-aware regular join: the stateful regular (unbounded) stream
equi-join when one or both inputs are UPDATING streams — chained steps
emitting op-tagged rows (outer-join pads/retractions, continuous-agg
correction pairs, Top-N corrections).

Flink propagates retractions into every downstream join: the reference
hands arbitrary chained SQL to the planner (TransformEngine.scala:252-262)
whose join operators consume -D/-U rows as state deletions and emit the
matching pair retractions. Spark-first derivation:

Each side persists an append-only SIGNED LEDGER — the side's data columns
plus a __cj_sign column (+1 for op 0/3 rows, -1 for op 1/2), bucketed by
its join keys. The side's CURRENT relation is the ledger's net multiset
(group by all data columns, sum the signs; consistent changelogs never go
negative). One invocation emits the bilinear differential of the join

    Delta(L >< R) = DeltaL >< net(R + DeltaR)  +  net(L) >< DeltaR

with positive terms as op 0 (insert) and negative as op 1 (retract); the
two cross terms are split by input sign into four plain INNER-join
branches so each branch's emitted op is static and the user's own SQL
projection runs over ordinary relations. Padded sides additionally diff
their unmatched multiset per touched key (a left row is unmatched iff no
live right row shares its key) and emit pads (op 0) / pad-retracts (op 1)
through the user's outer SQL bound against an empty other side — the same
trick the append-only executor uses.

Scale shape: state reads are key-restricted — semi-probes of the bucketed
ledgers against the slice key sets plan no state-side exchange — and the
per-invocation writes append only the slice's signed rows, so an
invocation costs O(slice + touched keys), never O(all history). Net
multiplicities > 1 (duplicate rows) are exploded into copies before the
SQL runs, keeping multiset semantics exact.

Limits (loud rejects): the join must be a pure equi-join (the key
restriction and unmatched-ness per key require extractable keys) and not
a self-join. Inconsistent changelogs (retracting a row never inserted)
are undefined, as in Flink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ..protocol.model import OP_APPEND, OP_RETRACT, InvalidQueryError
from .base import OP_COL, SEQ_INPUT, StepContext, StepResult, min_watermark
from .regular_join import equi_keys

_SELF_RIGHT = "__cj_self_right"

SIGN = "__cj_sign"
CNT = "__cj_cnt"
_PHASE = "__emit_phase"  # 0 = retractions, 1 = inserts/pads


# Engine-internal columns an updating alias may carry: the op tag, the
# emission-order seq, and an upstream changelog join's phase marker. NOT a
# dunder-prefix heuristic — the multi-join expansion mangles USER columns
# as __mj_<alias>__<col>, which must survive.
_INTERNAL = (OP_COL, SEQ_INPUT, _PHASE, "__emit_sub")


def _strip_internal(df: DataFrame) -> DataFrame:
    """Drop the engine-internal columns so every branch binding exposes
    the identical user-visible shape (a SELECT t.* must expand the same
    way on a slice binding and a ledger-net binding)."""
    drop = [c for c in df.columns if c in _INTERNAL]
    return df.drop(*drop) if drop else df


def _signed_slice(df: DataFrame) -> DataFrame:
    """The invocation's delta as data columns + sign: op 0/3 insert (+1),
    op 1/2 retract (-1); an append-only input is all +1."""
    if OP_COL in df.columns:
        sign = (
            F.when(F.col(OP_COL).isin(1, 2), F.lit(-1))
            .otherwise(F.lit(1))
            .cast(IntegerType())
        )
    else:
        sign = F.lit(1).cast(IntegerType())
    out = df.withColumn(SIGN, sign)
    drop = [c for c in out.columns if c in _INTERNAL]
    return out.drop(*drop) if drop else out


def _nn(keys: list[str]):
    cond = None
    for k in keys:
        c = F.col(k).isNotNull()
        cond = c if cond is None else (cond & c)
    return cond if cond is not None else F.lit(True)


def _key_restrict(state: DataFrame, keys: list[str], probe: DataFrame) -> DataFrame:
    """Semi-probe a (bucketed) ledger with a slice's key set using plain
    `=` equality, so the state-side scan keeps its bucketing and plans no
    exchange (split_touched_state's rule). `probe` columns must be named
    like `keys`; NULL-keyed state rows are excluded (they can never
    equi-match and padded-side NULL keys are handled separately)."""
    cond = None
    for k in keys:
        c = F.col(f"s.{k}") == F.col(f"p.{k}")
        cond = c if cond is None else (cond & c)
    return state.alias("s").join(probe.alias("p"), cond, "left_semi")


def _net(rel: DataFrame, data_cols: list[str]) -> DataFrame:
    """Net multiset of a signed relation: one row per distinct data tuple
    with its surviving count (dropping net-zero tuples). groupBy over all
    data columns is exchange-free on a key-bucketed scan (hash
    partitioning on a subset satisfies clustering on the superset)."""
    return (
        rel.groupBy(*data_cols)
        .agg(F.sum(SIGN).cast("long").alias(CNT))
        .filter(F.col(CNT) != 0)
    )


def _explode_copies(net: DataFrame, strict: bool = False) -> DataFrame:
    """Materialize multiplicity: |cnt| copies per net row (multiset
    semantics for duplicate rows; consistent changelogs keep cnt small).

    strict=True is for LEDGER nets, whose counts must be positive under a
    consistent changelog: a negative net there means a retraction of a row
    never inserted (or a prune mismatch) — fail loudly instead of letting
    abs() silently flip it into phantom inserts."""
    if strict:
        seq = (
            f"sequence(1, CASE WHEN {CNT} > 0 THEN {CNT} ELSE "
            f"CAST(raise_error('changelog join: a ledger net count went "
            f"negative — the upstream changelog retracted a row never "
            f"inserted (inconsistent changelog or mis-pruned state)') "
            f"AS BIGINT) END)"
        )
    else:
        seq = f"sequence(1, abs({CNT}))"
    return net.withColumn("__cj_dup", F.explode(F.expr(seq))).drop(
        CNT, "__cj_dup"
    )


def execute_changelog_join(ctx: StepContext, sql: str, spec) -> StepResult:
    """The regular join `spec` (parsed by regular_join) with at least one
    updating side."""
    import re

    lv, rv = spec.left_view, spec.right_view
    la, ra = spec.left_alias, spec.right_alias
    # Self-join: the bilinear differential needs DIFFERENT bindings per
    # branch (slice-vs-net, old-net-vs-slice), so rebind the right side
    # under a private view name — the regular join's trick; `AS <alias>`
    # keeps every column reference valid. The two ledgers then hold the
    # same stream twice, which is the generic machinery's contract.
    if lv == rv:
        if la == ra:
            raise InvalidQueryError(
                "a changelog self-join needs distinct aliases for the two "
                "sides"
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
    keys = equi_keys(spec.on_condition, la, ra)
    if keys is None:
        raise InvalidQueryError(
            "a join over an updating (changelog-emitting) alias must be a "
            "pure equi-join (non-equi conditions cannot key the retraction "
            "state) — join before the changelog-emitting step instead"
        )
    lkeys = [lc for lc, _ in keys]
    rkeys = [rc for _, rc in keys]
    kind = spec.join_kind
    pad_left = kind in ("LEFT", "FULL")
    pad_right = kind in ("RIGHT", "FULL")
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

    l_updating = OP_COL in ctx.views[lv].columns
    r_updating = OP_COL in ctx.views[rv].columns

    # Prune each side to the columns the query actually references: the
    # ledger then stores only load-bearing values (smaller state), and an
    # updating upstream whose UNREFERENCED columns are re-stamped per
    # emission (a continuous agg's now() event time) still cancels — its
    # op 2 row matches the earlier op 0/3 row on every kept column.
    # References are ALIAS-AWARE: a side keeps a column only when the SQL
    # names it as <this side's alias/view>.col or as a bare (unqualified,
    # non-AS-target) word — a `c.event_time AS event_time` must not pin the
    # OTHER side's re-stamped event_time into its ledger, or the correction
    # pairs never cancel. String literals are masked out of the scan. A
    # query containing any `*` (star projection or arithmetic) keeps all
    # columns, conservatively.
    from ..plans.classify import mask_sql

    masked = mask_sql(sql)
    qualified = {
        (q.lower(), c)
        for q, c in re.findall(r"(\w+)\s*\.\s*(\w+)", masked)
    }
    bare: set[str] = set()
    for m in re.finditer(r"\w+", masked):
        before = masked[: m.start()].rstrip()
        after = masked[m.end() :].lstrip()
        if before.endswith(".") or after.startswith("."):
            continue  # half of a qualified reference
        if re.search(r"\bas$", before, re.IGNORECASE):
            continue  # an output-alias target, not a column reference
        bare.add(m.group(0))

    def _prune(df: DataFrame, alias: str, view: str) -> DataFrame:
        if "*" in masked:
            return df
        names = {alias.lower(), view.lower()}
        keep = [
            c
            for c in df.columns
            if c == SIGN
            or c in bare
            or any((n, c) in qualified for n in names)
        ]
        return df.select(*keep)

    dl = ctx.pin(_prune(_signed_slice(ctx.views[lv]), la, lv))
    dr = ctx.pin(_prune(_signed_slice(ctx.views[rv]), ra, rv))
    l_data = [c for c in dl.columns if c != SIGN]
    r_data = [c for c in dr.columns if c != SIGN]

    l_name = f"{ctx.step_key}-cj-left"
    r_name = f"{ctx.step_key}-cj-right"
    ledger_schema_l = StructType(
        [f for f in dl.schema.fields if f.name != SIGN]
        + [StructField(SIGN, IntegerType())]
    )
    ledger_schema_r = StructType(
        [f for f in dr.schema.fields if f.name != SIGN]
        + [StructField(SIGN, IntegerType())]
    )
    l_hist = ctx.state.load_df(l_name, schema=ledger_schema_l)
    r_hist = ctx.state.load_df(r_name, schema=ledger_schema_r)
    first = not ctx.state.has_df(l_name) and not ctx.state.has_df(r_name)

    wm = min_watermark(ctx.new_wms.get(lv), ctx.new_wms.get(rv))
    dr_keys_as_l = dr.filter(_nn(rkeys)).select(
        *[F.col(rc).alias(lc) for lc, rc in keys]
    )
    dl_keys_as_r = dl.filter(_nn(lkeys)).select(
        *[F.col(lc).alias(rc) for lc, rc in keys]
    )

    parts: list[tuple[DataFrame, int]] = []  # (user-projection rows, op)

    def _run_pairs(left_bind: DataFrame, right_bind: DataFrame) -> DataFrame:
        return ctx.sql(inner_sql, wm, **{lv: left_bind, rv_bind: right_bind})

    # Term 1: DeltaL >< net(R + DeltaR), keys restricted to DeltaL's. The
    # DELTA is key-restricted too: a delta row whose key is absent from
    # DeltaL can never pair (the join would drop it), and an op-1 delta
    # row netting against UNRESTRICTED-away history would read as a
    # phantom negative. Restricted both ways, every row's full history is
    # present and the net is provably non-negative.
    r_new_net = _explode_copies(
        _net(
            _key_restrict(r_hist, rkeys, dl_keys_as_r).unionByName(
                _key_restrict(dr.filter(_nn(rkeys)), rkeys, dl_keys_as_r)
            ),
            r_data,
        ),
        strict=True,
    )
    r_new_net = ctx.pin(r_new_net)
    parts.append((_run_pairs(dl.filter(F.col(SIGN) > 0).drop(SIGN), r_new_net), OP_APPEND))
    if l_updating:
        parts.append(
            (_run_pairs(dl.filter(F.col(SIGN) < 0).drop(SIGN), r_new_net), OP_RETRACT)
        )

    # Term 2: net(L) >< DeltaR — the PRE-slice left relation only (the
    # DeltaL x DeltaR product already lives in term 1).
    if not first:
        l_old_net = ctx.pin(
            _explode_copies(
                _net(_key_restrict(l_hist, lkeys, dr_keys_as_l), l_data),
                strict=True,
            )
        )
        parts.append(
            (_run_pairs(l_old_net, dr.filter(F.col(SIGN) > 0).drop(SIGN)), OP_APPEND)
        )
        if r_updating:
            parts.append(
                (
                    _run_pairs(l_old_net, dr.filter(F.col(SIGN) < 0).drop(SIGN)),
                    OP_RETRACT,
                )
            )

    # Padded sides: diff the unmatched multiset per touched key.
    if pad_left:
        parts.extend(
            _pad_deltas(
                ctx, sql, wm,
                side_view=lv, other_view=rv_bind,
                other_df=ctx.views[rv],
                side_hist=l_hist, side_delta=dl, side_keys=lkeys,
                side_data=l_data,
                other_hist=r_hist, other_delta=dr, other_keys=rkeys,
                keys=keys, first=first,
            )
        )
    if pad_right:
        parts.extend(
            _pad_deltas(
                ctx, sql, wm,
                side_view=rv_bind, other_view=lv,
                other_df=ctx.views[lv],
                side_hist=r_hist, side_delta=dr, side_keys=rkeys,
                side_data=r_data,
                other_hist=l_hist, other_delta=dl, other_keys=lkeys,
                keys=[(rc, lc) for lc, rc in keys],
                first=first,
            )
        )

    # NET the invocation's emissions per output tuple before emitting:
    # the two bilinear cross terms can both touch the same pair within one
    # invocation (e.g. a pad deleted on the left while its partner arrives
    # on the right — one term inserts the pair, the other retracts it).
    # Cancelling those transients keeps the emitted ledger minimal AND
    # makes retract-before-insert phase ordering always foldable in order:
    # after netting, an op-1 row provably existed before this invocation.
    # Costs one groupBy over the emission delta (O(touched), not state).
    union = None
    for df, op in parts:
        signed = df.withColumn(
            "__cj_d", F.lit(1 if op == OP_APPEND else -1).cast("long")
        )
        union = signed if union is None else union.unionByName(signed)
    user_cols = [c for c in union.columns if c != "__cj_d"]
    netted = (
        union.groupBy(*user_cols)
        .agg(F.sum("__cj_d").alias("__cj_d"))
        .filter(F.col("__cj_d") != 0)
    )
    result = (
        netted.withColumn(
            "__cj_dup", F.explode(F.expr("sequence(1, abs(__cj_d))"))
        )
        .withColumn(
            OP_COL,
            F.when(F.col("__cj_d") > 0, F.lit(OP_APPEND))
            .otherwise(F.lit(OP_RETRACT))
            .cast(IntegerType()),
        )
        .withColumn(
            _PHASE,
            F.when(F.col("__cj_d") > 0, F.lit(1)).otherwise(F.lit(0)).cast(
                IntegerType()
            ),
        )
        .drop("__cj_d", "__cj_dup")
    )

    # Ledger maintenance: O(slice) appends with size-triggered netting
    # compaction (operators/base.maintain_signed_ledger) — an updating
    # upstream emits a +1/-1 pair per touched tuple every invocation, so
    # without compaction state would track changelog volume, not live
    # rows.
    from .base import maintain_signed_ledger

    maintain_signed_ledger(ctx, l_name, dl, l_data, SIGN, lkeys, full=l_hist)
    maintain_signed_ledger(ctx, r_name, dr, r_data, SIGN, rkeys, full=r_hist)

    order_cols = [c for c in result.columns if c != _PHASE]
    out_et = ctx.request.vocab.event_time_column
    if out_et in order_cols:
        order_cols.remove(out_et)
        order_cols.insert(0, out_et)
    order_cols = [_PHASE, *order_cols]
    return StepResult(df=result, watermark=wm, order_cols=order_cols)


def _pad_deltas(
    ctx: StepContext,
    sql: str,
    wm,
    *,
    side_view: str,
    other_view: str,
    other_df: DataFrame,
    side_hist: DataFrame,
    side_delta: DataFrame,
    side_keys: list[str],
    side_data: list[str],
    other_hist: DataFrame,
    other_delta: DataFrame,
    other_keys: list[str],
    keys: list[tuple[str, str]],  # (side_col, other_col)
    first: bool,
) -> list[tuple[DataFrame, int]]:
    """Pad/pad-retract emissions for one padded side.

    For every touched key (the union of both slices' key sets), compare
    the side's unmatched multiset before and after this invocation:
    row value v with net count c is unmatched iff no live other-side row
    shares its key. Positive deltas run the user's OUTER sql against an
    empty other side (producing the padded projection, op 0); negative
    deltas the same with op 1. NULL-keyed side rows can never match, so
    their pad delta is exactly the slice's own signed NULL-keyed rows."""
    touched = (
        side_delta.filter(_nn(side_keys)).select(*side_keys)
        .unionByName(
            other_delta.filter(_nn(other_keys)).select(
                *[F.col(oc).alias(sc) for sc, oc in keys]
            )
        )
    )

    if first:
        s_old_net = _net(side_hist.limit(0), side_data)
        s_new_net = _net(side_delta.filter(_nn(side_keys)), side_data)
        ok_old = other_hist.limit(0).select(*other_keys, SIGN)
        ok_new = other_delta.filter(_nn(other_keys)).select(*other_keys, SIGN)
    else:
        s_hist_k = _key_restrict(side_hist, side_keys, touched)
        s_old_net = _net(s_hist_k, side_data)
        s_new_net = _net(
            s_hist_k.unionByName(side_delta.filter(_nn(side_keys))),
            side_data,
        )
        touched_as_other = touched.select(
            *[F.col(sc).alias(oc) for sc, oc in keys]
        )
        ok_old = _key_restrict(other_hist, other_keys, touched_as_other).select(
            *other_keys, SIGN
        )
        ok_new = ok_old.unionByName(
            other_delta.filter(_nn(other_keys)).select(*other_keys, SIGN)
        )

    # Live other-side KEYS (a key matches iff any row value survives; under
    # a consistent changelog total multiplicity per key > 0 iff so).
    def _live_keys(rel: DataFrame) -> DataFrame:
        return (
            rel.groupBy(*other_keys)
            .agg(F.sum(SIGN).alias("__cj_k"))
            .filter(F.col("__cj_k") > 0)
            .select(
                *[F.col(oc).alias(f"__cjk_{i}") for i, oc in enumerate(other_keys)]
            )
        )

    mk_old = _live_keys(ok_old)
    mk_new = _live_keys(ok_new)

    def _with_match_flag(net: DataFrame, live: DataFrame, flag: str) -> DataFrame:
        cond = None
        for i, (sc, _oc) in enumerate(keys):
            c = F.col(sc) == F.col(f"__cjk_{i}")
            cond = c if cond is None else (cond & c)
        joined = net.join(live, cond, "left")
        return joined.withColumn(
            flag, F.col("__cjk_0").isNotNull()
        ).drop(*[f"__cjk_{i}" for i in range(len(keys))])

    old_u = _with_match_flag(s_old_net, mk_old, "__m").filter(~F.col("__m")).drop("__m")
    new_u = _with_match_flag(s_new_net, mk_new, "__m").filter(~F.col("__m")).drop("__m")

    # Multiset diff of the two unmatched relations on the full data tuple
    # (null-safe: NULL data values are ordinary multiset members).
    cond = None
    for c in side_data:
        e = F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
        cond = e if cond is None else (cond & e)
    diffed = old_u.alias("o").join(new_u.alias("n"), cond, "full_outer").select(
        *[F.coalesce(F.col(f"n.{c}"), F.col(f"o.{c}")).alias(c) for c in side_data],
        (
            F.coalesce(F.col(f"n.{CNT}"), F.lit(0))
            - F.coalesce(F.col(f"o.{CNT}"), F.lit(0))
        ).alias(CNT),
    ).filter(F.col(CNT) != 0)

    # NULL-keyed slice rows: always unmatched — their own signed rows ARE
    # the pad delta.
    null_keyed = side_delta.filter(~_nn(side_keys)).groupBy(*side_data).agg(
        F.sum(SIGN).cast("long").alias(CNT)
    ).filter(F.col(CNT) != 0)
    diffed = diffed.unionByName(null_keyed)

    pads = _explode_copies(diffed.filter(F.col(CNT) > 0))
    retr = _explode_copies(diffed.filter(F.col(CNT) < 0))

    empty_other = _strip_internal(other_df).limit(0)

    def _run_pad(rows: DataFrame) -> DataFrame:
        # Bind padded-side rows under its view name, empty other side —
        # the user's OUTER sql projects exactly the padded shape.
        return ctx.sql(sql, wm, **{side_view: rows, other_view: empty_other})

    return [(_run_pad(pads), OP_APPEND), (_run_pad(retr), OP_RETRACT)]
