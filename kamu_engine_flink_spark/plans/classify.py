"""Query-step classification.

The reference hands every SQL step to Flink's planner, whose stateful
operators (window agg, interval join, temporal join, rank) get incremental
semantics from savepoints for free. Spark's batch engine has no implicit
cross-run state, so the transform runner classifies each step into the
documented query shapes (SURVEY.md §2.B — the complete tested surface) and
drives a shape-specific stateful executor. Anything unclassified is a
stateless map/filter step.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from datetime import timedelta

from ..protocol.model import InvalidQueryError

MAP = "map"
DISTINCT = "distinct"
WINDOW_AGG = "window_agg"
HOP_AGG = "hop_agg"
SESSION_AGG = "session_agg"
CUMULATE_AGG = "cumulate_agg"
INTERVAL_JOIN = "interval_join"
REGULAR_JOIN = "regular_join"
UNBOUNDED_AGG = "unbounded_agg"
TEMPORAL_JOIN = "temporal_join"
TOPN = "topn"
OVER_AGG = "over_agg"
MATCH_RECOGNIZE = "match_recognize"
WINDOW_JOIN = "window_join"
SETOP = "setop"

_TUMBLE_RE = re.compile(
    r"TUMBLE\s*\(\s*([`\w.]+)\s*,\s*INTERVAL\s+'(\d+)'\s+(\w+)\s*\)", re.IGNORECASE
)
_HOP_RE = re.compile(
    r"(?<![\w.])HOP\s*\(\s*([`\w.]+)\s*,\s*INTERVAL\s+'(\d+)'\s+(\w+)\s*,"
    r"\s*INTERVAL\s+'(\d+)'\s+(\w+)\s*\)",
    re.IGNORECASE,
)
_HOP_PROJ_RE = re.compile(
    r"(?<![\w.])HOP_(START|END)\s*\([^)]*\)\s+(?:AS\s+)?`?(\w+)`?", re.IGNORECASE
)
_SESSION_RE = re.compile(
    r"(?<![\w.])SESSION\s*\(\s*([`\w.]+)\s*,\s*INTERVAL\s+'(\d+)'\s+(\w+)\s*\)",
    re.IGNORECASE,
)
_SESSION_PROJ_RE = re.compile(
    r"(?<![\w.])SESSION_(START|END)\s*\([^)]*\)\s+(?:AS\s+)?`?(\w+)`?", re.IGNORECASE
)
_CUMULATE_RE = re.compile(
    r"(?<![\w.])CUMULATE\s*\(\s*([`\w.]+)\s*,\s*INTERVAL\s+'(\d+)'\s+(\w+)\s*,"
    r"\s*INTERVAL\s+'(\d+)'\s+(\w+)\s*\)",
    re.IGNORECASE,
)
_CUMULATE_PROJ_RE = re.compile(
    r"(?<![\w.])CUMULATE_(START|END)\s*\([^)]*\)\s+(?:AS\s+)?`?(\w+)`?", re.IGNORECASE
)
# Flink 1.13+ windowing TVF spellings; implicit window_start/window_end
# output columns (plans/dialect.py materializes them).
_WINDOW_TVF_RE = re.compile(
    r"TABLE\s*\(\s*(TUMBLE|HOP|CUMULATE)\s*\(\s*TABLE\s+([`\w.]+)\s*,"
    r"\s*DESCRIPTOR\s*\(\s*([`\w.]+)\s*\)\s*,"
    r"\s*INTERVAL\s+'(\d+)'\s+(\w+)"
    r"(?:\s*,\s*INTERVAL\s+'(\d+)'\s+(\w+))?\s*\)\s*\)",
    re.IGNORECASE,
)
_TVF_COL_ALIAS_RES = {
    "START": re.compile(r"(?<![\w.`])window_start(?:\s+AS\s+`?(\w+)`?)?", re.IGNORECASE),
    "END": re.compile(r"(?<![\w.`])window_end(?:\s+AS\s+`?(\w+)`?)?", re.IGNORECASE),
}


def _tvf_alias(sql: str, kind: str) -> str | None:
    """Output column name carrying the TVF's window_start/window_end in
    the user's projection (honoring an AS rename), or None if the query
    never projects it."""
    m = re.search(r"select\s+(.*?)\s+from\s", sql, re.IGNORECASE | re.DOTALL)
    scope = m.group(1) if m else sql
    am = _TVF_COL_ALIAS_RES[kind].search(scope)
    if am is None:
        return None
    return am.group(1) or f"window_{kind.lower()}"
_GROUP_BY_RE = re.compile(
    r"GROUP\s+BY\s+(.*?)(?:\s+ORDER\s+BY|\s+HAVING|\s+LIMIT|\s*$)",
    re.IGNORECASE | re.DOTALL,
)
_TEMPORAL_RE = re.compile(r"LATERAL\s+TABLE|FOR\s+SYSTEM_TIME\s+AS\s+OF", re.IGNORECASE)
_ROW_NUMBER_RE = re.compile(
    r"row_number\s*\(\s*\)\s+OVER\s*\(([^)]*)\)\s+AS\s+([`\w]+)", re.IGNORECASE
)
_RANK_FILTER_RE = re.compile(r"WHERE\s+([`\w]+)\s*(<=|<|=)\s*(\d+)", re.IGNORECASE)
_BETWEEN_RE = re.compile(
    r"([`\w]+)\.([`\w]+)\s+BETWEEN\s+([`\w]+)\.([`\w]+)"
    r"(?:\s*([+-])\s*INTERVAL\s+'(\d+)'\s+(\w+))?\s+AND\s+"
    r"\3\.\4(?:\s*([+-])\s*INTERVAL\s+'(\d+)'\s+(\w+))?",
    re.IGNORECASE,
)
# One time-bound conjunct of the comparison-spelled interval join
# (Flink docs: `l.t >= r.t - I AND l.t < r.t + I`).
_TIME_CMP_RE = re.compile(
    r"([`\w]+)\.([`\w]+)\s*(<=|>=|<|>)\s*([`\w]+)\.([`\w]+)"
    r"(?:\s*([+-])\s*INTERVAL\s+'(\d+)'\s+(\w+))?",
    re.IGNORECASE,
)
_JOIN_RE = re.compile(
    r"FROM\s+([`\w]+)(?:\s+AS\s+([`\w]+)|\s+(?!LEFT\b|RIGHT\b|FULL\b|JOIN\b|INNER\b|WHERE\b)([`\w]+))?"
    r"\s+((?:LEFT|RIGHT|FULL)\s+(?:OUTER\s+)?)?JOIN\s+([`\w]+)(?:\s+AS\s+([`\w]+)|\s+(?!ON\b)([`\w]+))?"
    r"\s+ON\s+(.*?)(?:\s+WHERE\s+|\s+GROUP\s+BY\s+|\s*$)",
    re.IGNORECASE | re.DOTALL,
)

_SECONDS = {
    "SECOND": 1,
    "MINUTE": 60,
    "HOUR": 3600,
    "DAY": 86400,
    "WEEK": 604800,
}


def interval_to_timedelta(n: str | int, unit: str) -> timedelta:
    return timedelta(seconds=int(n) * _SECONDS[unit.upper()])


@dataclass
class TumbleSpec:
    time_col: str  # unqualified
    size: timedelta | None
    duration: str | None  # Spark window duration string
    # Calendar-unit tumbling (MONTH/QUARTER/YEAR): Spark's window() only
    # takes fixed durations, so these run on date_trunc boundaries instead.
    # The reference cannot run them at all (README "Does not support
    # month/quarter/year tumbling windows") — this is a deliberate
    # capability EXCEEDING reference parity.
    calendar_unit: str | None = None  # 'MONTH' | 'QUARTER' | 'YEAR'
    months: int = 0  # window length in months (1 / 3 / 12)


@dataclass
class MergeAggSpec:
    """An aggregation whose per-window results are self-mergeable (every
    aggregate is an algebraic sum/count/min/max, or an avg decomposed
    into a sum+count partial pair), letting the runner keep O(groups)
    accumulator state instead of O(rows) raw buffers — the Spark-side
    equivalent of Flink's window accumulator state the reference inherits
    (SURVEY.md §2.B aggregations row: min/max/sum/count(*) is the tested
    surface; avg is part of the same Flink builtin family).
    """

    start_alias: str | None  # projected TUMBLE_START alias
    end_alias: str | None  # projected TUMBLE_END alias
    merges: dict[str, str]  # output column -> merge fn (sum/min/max)
    # avg alias -> (sum partial column, count partial column). When
    # non-empty, `slice_sql` is the user SQL with each `avg(x) AS a`
    # replaced by the two partials; the executor computes the final
    # quotient after the cross-run merge (sum-of-sums / sum-of-counts —
    # exactly how Flink's AvgAggFunction merges accumulators).
    avgs: dict[str, tuple[str, str]] = field(default_factory=dict)
    slice_sql: str | None = None  # rewritten SQL for slice partials (if avgs)


_TUMBLE_PROJ_RE = re.compile(
    r"^(?:\s*)TUMBLE_(START|END)\s*\([^)]*\)\s+(?:AS\s+)?`?(\w+)`?$", re.IGNORECASE
)
_SIMPLE_AGG_ITEM_RE = re.compile(
    r"^(sum|count|min|max)\s*\(\s*(\*|[`\w.]+)\s*\)\s+(?:AS\s+)?`?(\w+)`?$",
    re.IGNORECASE,
)
_AVG_AGG_ITEM_RE = re.compile(
    r"^avg\s*\(\s*([`\w.]+)\s*\)\s+(?:AS\s+)?`?(\w+)`?$", re.IGNORECASE
)
_AGG_CALL_RE = re.compile(r"\b(sum|count|min|max|avg|stddev|variance|collect_\w+|first|last)\s*\(", re.IGNORECASE)
# Wider net for "is there ANY aggregate call here" gates (the reject
# paths): a GROUP BY using an aggregate the mergeable whitelist above
# doesn't know (median, any_value, percentile_approx, bool_and, ...)
# must read as an unsupported AGGREGATION, not be misdiagnosed as a
# no-aggregate GROUP BY (stateful DISTINCT).
_AGG_CALL_ANY_RE = re.compile(
    r"\b(sum|count|min|max|avg|stddev\w*|variance|var_pop|var_samp"
    r"|collect_\w+|first|last|first_value|last_value|median|mode"
    r"|any_value|percentile\w*|approx_\w+|bool_and|bool_or|every"
    r"|count_if|kurtosis|skewness|corr|covar_pop|covar_samp"
    r"|bit_and|bit_or|bit_xor|listagg|string_agg|array_agg"
    r"|max_by|min_by|histogram_numeric|regr_\w+|hll_\w+|mean|sketch_\w+"
    r")\s*\(",
    re.IGNORECASE,
)
_MERGE_FN = {"sum": "sum", "count": "sum", "min": "min", "max": "max"}


_SELECT_WORD_RE = re.compile(r"\bselect\b", re.IGNORECASE)


def select_count(sql: str) -> int:
    """Number of SELECT keywords (word-boundary — a column named
    `selected_at` must not count, or a simple query silently loses its
    single-block classification and with it e.g. stateful DISTINCT
    semantics)."""
    return len(_SELECT_WORD_RE.findall(sql))


# A quoted run, to its closing quote or the end of the text ('' escapes
# a quote inside a string literal); the one group that matches is the
# contents.
_QUOTED_RE = re.compile(r"'((?:[^']|'')*)'?|\"([^\"]*)\"?|`([^`]*)`?")
_PAREN_RE = re.compile(r"[()]")


def _blank_quoted(m: re.Match) -> str:
    body = m[m.lastindex]
    return m[0][0] + " " * len(body) + m[0][1 + len(body) :]


def mask_sql(sql: str, parens: bool = False) -> str:
    """Same-length copy of `sql` with string-literal and backquoted
    contents blanked out — and, with parens=True, every parenthesized
    group (parentheses included; an unclosed one to the end) and every
    stray `)` as well — so regex scans see only top-level SQL tokens.
    An `EXTRACT(YEAR FROM x)` no longer exposes a FROM, a literal
    `'where it is'` no longer exposes a WHERE, and positions transfer
    1:1 back to the original string.

    This, `split_top_level` and `matching_paren` are the one scanner for
    top-level SQL text: every other module scans through them."""
    masked = _QUOTED_RE.sub(_blank_quoted, sql)
    if not parens:
        return masked
    out, end = list(masked), 0
    for m in _PAREN_RE.finditer(masked):
        if m.start() < end:
            continue  # inside a group already blanked
        close = matching_paren(masked, m.start()) if m[0] == "(" else m.start()
        end = len(masked) if close is None else close + 1
        out[m.start() : end] = " " * (end - m.start())
    return "".join(out)


def matching_paren(masked: str, open_pos: int) -> int | None:
    """Position of the `)` that closes the `(` at `open_pos` in `masked`,
    a `mask_sql` copy of the SQL (so parentheses inside quotes do not
    count), or None when it never closes."""
    depth = 0
    for m in _PAREN_RE.finditer(masked, open_pos):
        if m[0] == "(":
            depth += 1
        else:
            depth -= 1
            if depth == 0:
                return m.start()
    return None


def split_top_level(sql: str, sep: str | re.Pattern = ",") -> list[str | None]:
    """`sql` split, like `re.split`, on every match of `sep` (a literal
    string or a compiled regex) that lies outside quotes and outside
    parentheses, each piece stripped. The separator's groups, if any,
    come between the pieces as `re.split` puts them."""
    pattern = re.compile(re.escape(sep)) if isinstance(sep, str) else sep
    flat, top = mask_sql(sql), mask_sql(sql, parens=True)
    out, pos = [], 0
    for m in pattern.finditer(flat):
        if top[m.start() : m.end()] != flat[m.start() : m.end()]:
            continue  # inside parentheses
        out.append(sql[pos : m.start()].strip())
        out.extend(
            sql[m.start(g) : m.end(g)] if m.start(g) >= 0 else None
            for g in range(1, pattern.groups + 1)
        )
        pos = m.end()
    out.append(sql[pos:].strip())
    return out


def _parse_mergeable_aggs(
    sql: str, proj_re: re.Pattern, require_window: bool = True
) -> MergeAggSpec | None:
    """Shared conservative gate for accumulator-state aggregation:
    single SELECT, no HAVING/DISTINCT/subquery/per-run literals, the
    projection carries a window START or END alias (matched by
    `proj_re`), and every item that contains an aggregate call is
    exactly `fn(arg) AS alias` with fn in sum/count/min/max. Returns
    None (callers fall back to raw-row buffering) on anything else."""
    if select_count(sql) != 1 or re.search(
        r"\b(having|distinct|order\s+by|limit)\b", sql, re.IGNORECASE
    ):
        # ORDER BY / LIMIT over partials would truncate per-slice results
        # BEFORE the cross-run merge — only the raw-buffer path (whole
        # closed buffer per emission) applies them correctly.
        return None
    low = sql.lower()
    # Per-run literals (current_watermark/now) would merge as distinct
    # key values across invocations — raw buffering replays them fresh.
    if "current_watermark" in low or "now(" in low:
        return None
    m = re.search(r"select\s+(.*?)\s+from\s", sql, re.IGNORECASE | re.DOTALL)
    if not m:
        return None
    start_alias = end_alias = None
    merges: dict[str, str] = {}
    avgs: dict[str, tuple[str, str]] = {}
    new_items: list[str] = []
    for item in split_top_level(m.group(1)):
        pm = proj_re.match(item)
        if pm:
            if pm.group(1).upper() == "START":
                start_alias = pm.group(2)
            else:
                end_alias = pm.group(2)
            new_items.append(item)
            continue
        am = _SIMPLE_AGG_ITEM_RE.match(item)
        if am:
            merges[am.group(3)] = _MERGE_FN[am.group(1).lower()]
            new_items.append(item)
            continue
        vm = _AVG_AGG_ITEM_RE.match(item)
        if vm:
            arg, alias = vm.group(1), vm.group(2)
            s_col, c_col = f"__avg_sum_{alias}", f"__avg_cnt_{alias}"
            avgs[alias] = (s_col, c_col)
            merges[s_col] = "sum"
            merges[c_col] = "sum"
            new_items.append(f"sum({arg}) AS {s_col}, count({arg}) AS {c_col}")
            continue
        if _AGG_CALL_RE.search(item):
            return None  # aggregate inside a larger expression — not mergeable
        if re.search(r"\b\w+\s*\(", item):
            # Any OTHER function call (approx_count_distinct, max_by,
            # count_if, CAST, arithmetic over calls, ...) might be an
            # unrecognized aggregate: treating it as a group key would
            # group by the per-slice PARTIAL VALUE and emit corrupt
            # duplicate rows after the cross-run merge. Conservative
            # raw-buffer fallback for every such item.
            return None
        # anything else is a plain-column group-key projection: fine as-is
        new_items.append(item)
    if (require_window and start_alias is None and end_alias is None) or not merges:
        return None
    slice_sql = None
    if avgs:
        slice_sql = sql[: m.start(1)] + ", ".join(new_items) + sql[m.end(1) :]
    return MergeAggSpec(
        start_alias=start_alias,
        end_alias=end_alias,
        merges=merges,
        avgs=avgs,
        slice_sql=slice_sql,
    )


def parse_mergeable_tumble_aggs(sql: str) -> MergeAggSpec | None:
    return _parse_mergeable_aggs(sql, _TUMBLE_PROJ_RE)


_NEVER_RE = re.compile(r"(?!x)x")
# The engine's emission-time idiom (same as the Top-N tests):
# `cast(now() as timestamp(3)) as placed_at` projected alongside the
# aggregates to satisfy the output event-time contract.
_NOW_ITEM_RE = re.compile(
    r"^(?:CAST\s*\(\s*)?now\s*\(\s*\)\s*"
    r"(?:AS\s+TIMESTAMP(?:\s*\(\s*\d\s*\))?\s*\))?\s+(?:AS\s+)?`?(\w+)`?$",
    re.IGNORECASE,
)


LIVE_COL = "__live_cnt"


def changelog_fold_slice_sql(core_sql: str, op_col: str) -> str | None:
    """Rewrite a continuous-aggregation step's slice SQL so a CHANGELOG
    input (a chained step emitting op-tagged rows: outer regular-join
    pads/retractions, continuous-agg correction pairs) folds op 1
    (Retract) and op 2 (CorrectFrom) rows as NEGATIVE contributions —
    Flink's retraction propagation between chained views. Each sum
    becomes a signed sum; each count a signed non-null counter; avg
    decomposes into both (the same hidden column names
    _parse_mergeable_aggs assigns, so MergeAggSpec.avgs still applies).
    A hidden signed row counter (LIVE_COL) tracks key liveness so the
    executor can emit an op-1 delete when a key's last row retracts, and
    each sum carries a hidden signed non-null contribution counter so a
    sum whose contributions ALL retract projects NULL — exactly Flink's
    SumWithRetractAggFunction (visible when NULL-valued rows, e.g. outer
    pads, keep the key alive after every real value retracted).

    Returns (slice_sql, sum_guards, minmax): sum_guards maps each sum
    output alias to its hidden counter column; minmax maps each min/max
    output alias to (fn, arg) — a retractable min/max needs the full
    value multiset, not an accumulator (Flink's MinWithRetractAggFunction
    keeps exactly that map-state), so those items are OMITTED from the
    slice SQL and the executor recomputes them per touched key from a
    per-(key, value) count histogram state. None only on an unparseable
    projection."""
    m = re.search(r"select\s+(.*?)\s+from\s", core_sql, re.IGNORECASE | re.DOTALL)
    if m is None:
        return None
    sign = f"(CASE WHEN {op_col} IN (1, 2) THEN -1 ELSE 1 END)"
    items: list[str] = []
    sum_guards: dict[str, str] = {}
    minmax: dict[str, tuple[str, str]] = {}
    for item in split_top_level(m.group(1)):
        am = _SIMPLE_AGG_ITEM_RE.match(item)
        if am:
            fn, arg, alias = am.group(1).lower(), am.group(2), am.group(3)
            if fn in ("min", "max"):
                minmax[alias] = (fn, arg)
                continue
            if fn == "sum":
                items.append(f"sum({sign} * ({arg})) AS {alias}")
                guard = f"__sum_cnt_{alias}"
                sum_guards[alias] = guard
                items.append(
                    f"CAST(sum(CASE WHEN ({arg}) IS NULL THEN 0 ELSE "
                    f"{sign} END) AS BIGINT) AS {guard}"
                )
            elif arg == "*":
                items.append(f"CAST(sum({sign}) AS BIGINT) AS {alias}")
            else:
                items.append(
                    f"CAST(sum(CASE WHEN ({arg}) IS NULL THEN 0 ELSE "
                    f"{sign} END) AS BIGINT) AS {alias}"
                )
            continue
        vm = _AVG_AGG_ITEM_RE.match(item)
        if vm:
            arg, alias = vm.group(1), vm.group(2)
            items.append(f"sum({sign} * ({arg})) AS __avg_sum_{alias}")
            items.append(
                f"CAST(sum(CASE WHEN ({arg}) IS NULL THEN 0 ELSE {sign} END) "
                f"AS BIGINT) AS __avg_cnt_{alias}"
            )
            continue
        # plain group-key projection (parse_unbounded_aggs already vetted
        # the item inventory)
        items.append(item)
    items.append(f"CAST(sum({sign}) AS BIGINT) AS {LIVE_COL}")
    return (
        core_sql[: m.start(1)] + ", ".join(items) + core_sql[m.end(1) :],
        sum_guards,
        minmax,
    )


def changelog_hist_slice_sql(
    core_sql: str, op_col: str, group_cols: list[str], arg: str
) -> str:
    """Slice SQL for the per-(key, value) signed count histogram of one
    min/max argument — the value-multiset state a retractable min/max
    needs (Flink's Min/MaxWithRetractAggFunction map-state). Reuses the
    step's own FROM/WHERE segment so any slice filter applies, adds the
    min/max NULL-skip, and groups by (keys, value) with a signed count."""
    sign = f"(CASE WHEN {op_col} IN (1, 2) THEN -1 ELSE 1 END)"
    fm = re.search(r"\bFROM\b", core_sql, re.IGNORECASE)
    rest = core_sql[fm.end():]
    g = re.search(r"\bGROUP\s+BY\b", rest, re.IGNORECASE)
    middle = (rest[: g.start()] if g else rest).strip()
    notnull = f"(({arg}) IS NOT NULL)"
    wm = re.search(r"\bWHERE\b", middle, re.IGNORECASE)
    if wm:
        fromwhere = (
            f"{middle[: wm.start()].strip()} "
            f"WHERE ({middle[wm.end():].strip()}) AND {notnull}"
        )
    else:
        fromwhere = f"{middle} WHERE {notnull}"
    keys = "".join(f"{k}, " for k in group_cols)
    return (
        f"SELECT {keys}({arg}) AS __hist_val, "
        f"CAST(sum({sign}) AS BIGINT) AS __hist_cnt "
        f"FROM {fromwhere} GROUP BY {keys}({arg})"
    )


@dataclass
class UnboundedAggSpec:
    mspec: MergeAggSpec
    core_sql: str  # user SQL minus the now() emission-time item
    now_alias: str | None


def parse_unbounded_aggs(sql: str) -> UnboundedAggSpec | None:
    """Windowless GROUP BY over mergeable aggregates — Flink's continuous
    (unbounded) aggregation, whose per-key results UPDATE as input
    arrives. The same accumulator machinery as the window paths, minus
    any window alias; group keys must be plain columns. A projected
    `now() AS <alias>` emission-time item is stripped before the shared
    parser (whose per-run-literal guard exists for partials that must
    merge across runs — here it is re-stamped per emission instead)."""
    gm = _GROUP_BY_RE.search(sql)
    if gm and any(
        not re.fullmatch(r"[`\w.]+", c) for c in split_top_level(gm.group(1))
    ):
        return None  # expression group keys — stateless MAP keeps them
    if not gm and not _AGG_CALL_RE.search(sql):
        return None  # no GROUP BY and no aggregate — plain projection
    m = re.search(r"select\s+(.*?)\s+from\s", sql, re.IGNORECASE | re.DOTALL)
    if not m:
        return None
    now_alias = None
    kept: list[str] = []
    for item in split_top_level(m.group(1)):
        nm = _NOW_ITEM_RE.match(item)
        if nm and now_alias is None:
            now_alias = nm.group(1)
        else:
            kept.append(item)
    if not kept:
        return None
    core_sql = sql[: m.start(1)] + ", ".join(kept) + sql[m.end(1) :]
    mspec = _parse_mergeable_aggs(core_sql, _NEVER_RE, require_window=False)
    if mspec is None:
        return None
    return UnboundedAggSpec(mspec=mspec, core_sql=core_sql, now_alias=now_alias)


def unbounded_agg_group_cols(sql: str) -> list[str]:
    gm = _GROUP_BY_RE.search(sql)
    if not gm:
        return []  # global (keyless) continuous aggregation: one group
    return [
        c.strip("`").split(".")[-1] for c in split_top_level(gm.group(1))
    ]


def parse_mergeable_hop_aggs(sql: str) -> MergeAggSpec | None:
    """HOP variant: per-window partial results merge exactly like
    TUMBLE's — a row contributing to size/slide windows just yields that
    many partial rows from the slice aggregation, which makes
    accumulator state proportionally MORE valuable than for tumbling."""
    return _parse_mergeable_aggs(sql, _HOP_PROJ_ITEM_RE)


def parse_mergeable_cumulate_aggs(sql: str) -> MergeAggSpec | None:
    """CUMULATE variant: the executor aggregates the slice by STEP
    windows (Flink's slicing optimization — every cumulative window is a
    union of whole steps) and expands merged step partials into the
    cumulative windows that contain them, so the mergeable gate is the
    enabling condition for incremental CUMULATE, not just an
    optimization."""
    return _parse_mergeable_aggs(sql, _CUMULATE_PROJ_ITEM_RE)


_HOP_PROJ_ITEM_RE = re.compile(
    r"^(?:\s*)HOP_(START|END)\s*\([^)]*\)\s+(?:AS\s+)?`?(\w+)`?$", re.IGNORECASE
)
_CUMULATE_PROJ_ITEM_RE = re.compile(
    r"^(?:\s*)CUMULATE_(START|END)\s*\([^)]*\)\s+(?:AS\s+)?`?(\w+)`?$", re.IGNORECASE
)


@dataclass
class IntervalJoinSpec:
    left_view: str
    left_alias: str
    right_view: str
    right_alias: str
    is_left_outer: bool
    is_right_outer: bool
    on_condition: str  # full ON clause text (Spark-compatible after rewrite)
    left_time_col: str
    right_time_col: str
    lower: timedelta  # right.et >= left.et + lower (0 for BETWEEN a AND a+u)
    upper: timedelta  # right.et <= left.et + upper


@dataclass
class TopNSpec:
    rank_alias: str
    limit: int


def parse_tumble(sql: str) -> TumbleSpec | None:
    m = _TUMBLE_RE.search(sql)
    if m:
        col, n, unit = m.groups()
    else:
        tm = _WINDOW_TVF_RE.search(sql)
        if not tm or tm.group(1).upper() != "TUMBLE":
            return None
        col, n, unit = tm.group(3), tm.group(4), tm.group(5)
    unqual = col.split(".")[-1].strip("`")
    cal = {"MONTH": 1, "QUARTER": 3, "YEAR": 12}
    if unit.upper() in cal:
        if n != "1":
            raise InvalidQueryError(
                f"calendar tumbling windows support INTERVAL '1' {unit.upper()} only"
            )
        return TumbleSpec(
            time_col=unqual,
            size=None,
            duration=None,
            calendar_unit=unit.upper(),
            months=cal[unit.upper()],
        )
    return TumbleSpec(
        time_col=unqual,
        size=interval_to_timedelta(n, unit),
        duration=f"{n} {unit.lower()}",
    )


@dataclass
class HopSpec:
    time_col: str  # unqualified
    slide: timedelta
    size: timedelta
    slide_duration: str
    size_duration: str
    start_alias: str | None  # projected HOP_START alias
    end_alias: str | None  # projected HOP_END alias


@dataclass
class CumulateSpec:
    """CUMULATE(time, INTERVAL 'step', INTERVAL 'size') — Flink's
    cumulative windows (public windowing surface since 1.13): within each
    size-aligned span [S, S+size), emit growing windows [S, S+step),
    [S, S+2*step), ..., [S, S+size). Argument order mirrors Flink's
    CUMULATE(TABLE, DESCRIPTOR(ts), step, size)."""

    time_col: str  # unqualified
    step: timedelta
    size: timedelta
    step_duration: str
    size_duration: str
    start_alias: str | None  # projected CUMULATE_START alias
    end_alias: str | None  # projected CUMULATE_END alias


@dataclass
class SessionSpec:
    time_col: str  # unqualified
    gap: timedelta
    gap_duration: str
    end_alias: str | None  # projected SESSION_END alias (required for state)
    group_keys: list[str] | None  # non-window GROUP BY columns


def parse_hop(sql: str) -> HopSpec | None:
    m = _HOP_RE.search(sql)
    if m:
        col, slide_n, slide_u, size_n, size_u = m.groups()
        aliases = {kind.upper(): alias for kind, alias in _HOP_PROJ_RE.findall(sql)}
    else:
        tm = _WINDOW_TVF_RE.search(sql)
        if not tm or tm.group(1).upper() != "HOP" or tm.group(6) is None:
            return None
        col, slide_n, slide_u, size_n, size_u = tm.group(3, 4, 5, 6, 7)
        aliases = {
            k: a for k in ("START", "END") if (a := _tvf_alias(sql, k)) is not None
        }
    return HopSpec(
        time_col=col.split(".")[-1].strip("`"),
        slide=interval_to_timedelta(slide_n, slide_u),
        size=interval_to_timedelta(size_n, size_u),
        slide_duration=f"{slide_n} {slide_u.lower()}",
        size_duration=f"{size_n} {size_u.lower()}",
        start_alias=aliases.get("START"),
        end_alias=aliases.get("END"),
    )


def parse_cumulate(sql: str) -> CumulateSpec | None:
    m = _CUMULATE_RE.search(sql)
    if m:
        col, step_n, step_u, size_n, size_u = m.groups()
        aliases = {kind.upper(): alias for kind, alias in _CUMULATE_PROJ_RE.findall(sql)}
    else:
        tm = _WINDOW_TVF_RE.search(sql)
        if not tm or tm.group(1).upper() != "CUMULATE" or tm.group(6) is None:
            return None
        col, step_n, step_u, size_n, size_u = tm.group(3, 4, 5, 6, 7)
        aliases = {
            k: a for k in ("START", "END") if (a := _tvf_alias(sql, k)) is not None
        }
    step = interval_to_timedelta(step_n, step_u)
    size = interval_to_timedelta(size_n, size_u)
    if step.total_seconds() <= 0 or size.total_seconds() % step.total_seconds() != 0:
        raise InvalidQueryError(
            f"CUMULATE size must be a positive multiple of step, got "
            f"step={step_n} {step_u}, size={size_n} {size_u}"
        )
    return CumulateSpec(
        time_col=col.split(".")[-1].strip("`"),
        step=step,
        size=size,
        step_duration=f"{step_n} {step_u.lower()}",
        size_duration=f"{size_n} {size_u.lower()}",
        start_alias=aliases.get("START"),
        end_alias=aliases.get("END"),
    )


def parse_session(sql: str) -> SessionSpec | None:
    m = _SESSION_RE.search(sql)
    if not m:
        return None
    col, n, unit = m.groups()
    aliases = {kind.upper(): alias for kind, alias in _SESSION_PROJ_RE.findall(sql)}
    keys: list[str] | None = []
    gm = _GROUP_BY_RE.search(sql)
    if gm:
        for term in split_top_level(gm.group(1)):
            if _SESSION_RE.search(term):
                continue
            name = term.strip("`")
            if re.fullmatch(r"[\w.]+", name):
                keys.append(name.split(".")[-1])
            else:
                keys = None  # non-trivial key expression: caller must reject
                break
    return SessionSpec(
        time_col=col.split(".")[-1].strip("`"),
        gap=interval_to_timedelta(n, unit),
        gap_duration=f"{n} {unit.lower()}",
        end_alias=aliases.get("END"),
        group_keys=keys,
    )


def parse_topn(sql: str) -> TopNSpec | None:
    rn = _ROW_NUMBER_RE.search(sql)
    if not rn:
        return None
    alias = rn.group(2).strip("`")
    for m in _RANK_FILTER_RE.finditer(sql):
        if m.group(1).strip("`") == alias:
            n = int(m.group(3))
            # `rn < N` keeps N-1 places; `rn = 1` is Flink's dedup spelling
            # (only meaningful for 1 — `rn = k` for k>1 emits a single rank,
            # which the Top-N changelog contract can't express).
            if m.group(2) == "<":
                n -= 1
            elif m.group(2) == "=" and n != 1:
                return None
            if n < 1:
                return None
            return TopNSpec(rank_alias=alias, limit=n)
    return None


_OVER_FRAME_RE = re.compile(
    r"OVER\s*\(\s*(?:PARTITION\s+BY\s+(?P<keys>[`\w.]+(?:\s*,\s*[`\w.]+)*)\s+)?"
    r"ORDER\s+BY\s+(?P<col>[`\w.]+)(?:\s+ASC)?\s+"
    r"(?P<kind>RANGE|ROWS)\s+"
    r"(?:BETWEEN\s+(?:INTERVAL\s+'(?P<n>\d+)'\s+(?P<unit>\w+)|(?P<rows>\d+)|"
    r"(?P<unb>UNBOUNDED))\s+PRECEDING\s+AND\s+CURRENT\s+ROW"
    r"|(?P<unb2>UNBOUNDED)\s+PRECEDING)\s*\)",
    re.IGNORECASE,
)


@dataclass
class OverAggSpec:
    """Flink row-time Over Aggregation (streaming SQL docs "Over
    Aggregation"): one output row per input row, aggregating a frame over
    the same partition. All OVER clauses in one SELECT must be identical
    (Flink's own constraint) and the ORDER BY attribute is the rowtime.
    Backward frames (ascending + PRECEDING .. CURRENT ROW) are Flink
    parity; FORWARD frames (descending + PRECEDING, or ascending with a
    FOLLOWING bound — shapes Flink's planner rejects) are a beyond-parity
    extension whose rows emit once the watermark completes the frame."""

    time_col: str  # unqualified rowtime attribute
    part_keys: list[str]
    kind: str  # "range" | "rows"
    range_size: timedelta | None  # backward horizon (two-sided forward too)
    rows_n: int | None
    unbounded: bool = False
    forward: bool = False
    fwd_range: timedelta | None = None  # forward horizon (RANGE)
    fwd_rows: int | None = None  # forward follower count (ROWS)


_OVER_FWD_RE = re.compile(
    r"OVER\s*\(\s*(?:PARTITION\s+BY\s+(?P<keys>[`\w.]+(?:\s*,\s*[`\w.]+)*)\s+)?"
    r"ORDER\s+BY\s+(?P<col>[`\w.]+)\s*"
    r"(?:(?P<desc>DESC)\s+(?P<kind>RANGE|ROWS)\s+BETWEEN\s+"
    r"(?:INTERVAL\s+'(?P<n>\d+)'\s+(?P<unit>\w+)|(?P<rows>\d+))"
    r"\s+PRECEDING\s+AND\s+CURRENT\s+ROW"
    r"|(?:ASC\s+)?(?P<kind2>RANGE|ROWS)\s+BETWEEN\s+"
    r"(?:(?:INTERVAL\s+'(?P<pn>\d+)'\s+(?P<punit>\w+)|(?P<prows>\d+))"
    r"\s+PRECEDING|CURRENT\s+ROW)"
    r"\s+AND\s+(?:INTERVAL\s+'(?P<fn>\d+)'\s+(?P<funit>\w+)|(?P<frows>\d+))"
    r"\s+FOLLOWING)\s*\)",
    re.IGNORECASE,
)


def _parse_forward_over(sql: str) -> OverAggSpec | None:
    matches = list(_OVER_FWD_RE.finditer(sql))
    if not matches:
        return None
    first = matches[0].group(0)
    if any(m.group(0) != first for m in matches[1:]):
        raise InvalidQueryError(
            "all OVER windows in one SELECT must share an identical spec"
        )
    m = matches[0]
    keys = (
        [k.strip().strip("`").split(".")[-1] for k in m.group("keys").split(",")]
        if m.group("keys")
        else []
    )
    back_size = back_rows = fwd_size = fwd_rows = None
    if m.group("desc"):
        # DESC + PRECEDING is the mirror spelling of ASC + FOLLOWING:
        # "preceding" rows in descending rowtime order are LATER in time.
        kind = m.group("kind").lower()
        if kind == "range":
            if not m.group("n"):
                return None
            fwd_size = interval_to_timedelta(m.group("n"), m.group("unit"))
        else:
            if not m.group("rows"):
                return None
            fwd_rows = int(m.group("rows"))
    else:
        kind = m.group("kind2").lower()
        if kind == "range":
            if not m.group("fn"):
                return None
            fwd_size = interval_to_timedelta(m.group("fn"), m.group("funit"))
            if m.group("pn"):
                back_size = interval_to_timedelta(m.group("pn"), m.group("punit"))
            elif m.group("prows"):
                return None  # row-count bound on a RANGE frame is invalid
        else:
            if not m.group("frows"):
                return None
            fwd_rows = int(m.group("frows"))
            if m.group("prows"):
                back_rows = int(m.group("prows"))
            elif m.group("pn"):
                return None  # interval bound on a ROWS frame is invalid
    return OverAggSpec(
        time_col=m.group("col").split(".")[-1].strip("`"),
        part_keys=keys,
        kind=kind,
        range_size=back_size,
        rows_n=back_rows,
        forward=True,
        fwd_range=fwd_size,
        fwd_rows=fwd_rows,
    )


def parse_over_agg(sql: str) -> OverAggSpec | None:
    matches = list(_OVER_FRAME_RE.finditer(sql))
    if not matches:
        return _parse_forward_over(sql)
    if _OVER_FWD_RE.search(sql):
        # A backward and a forward frame in one SELECT — not identical.
        raise InvalidQueryError(
            "all OVER windows in one SELECT must share an identical spec"
        )
    first = matches[0].group(0)
    if any(m.group(0) != first for m in matches[1:]):
        # Flink requires all over windows of one SELECT to be identical.
        raise InvalidQueryError(
            "all OVER windows in one SELECT must share an identical spec"
        )
    m = matches[0]
    keys = (
        [k.strip().strip("`").split(".")[-1] for k in m.group("keys").split(",")]
        if m.group("keys")
        else []
    )
    kind = m.group("kind").lower()
    unbounded = bool(m.group("unb") or m.group("unb2"))
    size = rows_n = None
    if not unbounded:
        if kind == "range":
            if not m.group("n"):
                return None  # RANGE BETWEEN <rows> PRECEDING is not valid SQL
            size = interval_to_timedelta(m.group("n"), m.group("unit"))
        else:
            if not m.group("rows"):
                return None  # ROWS BETWEEN INTERVAL .. PRECEDING is not valid
            rows_n = int(m.group("rows"))
    return OverAggSpec(
        time_col=m.group("col").split(".")[-1].strip("`"),
        part_keys=keys,
        kind=kind,
        range_size=size,
        rows_n=rows_n,
        unbounded=unbounded,
    )


@dataclass
class RegularJoinSpec:
    """Flink "regular" (unbounded, non-windowed) stream join: every row of
    either side pairs with the FULL history of the other, so both sides
    buffer forever (the documented Flink state caveat; the reference
    inherits it by planner delegation)."""

    left_view: str
    left_alias: str
    right_view: str
    right_alias: str
    join_kind: str  # "", "LEFT", "RIGHT", "FULL"
    on_condition: str


def parse_regular_join(sql: str, known_views: set[str]) -> RegularJoinSpec | None:
    """A single two-view JOIN with ANY join condition and no temporal/TVF
    spelling (classify() routes those — and recognizable interval joins —
    earlier): Flink's regular join. Flink's planner runs every
    non-interval stream-to-stream join this way, equi or not (non-equi and
    cross conditions included); a time bound the interval parser could not
    recognize degrades to full-history regular-join state, which is
    Flink's own documented behavior for unrecognized bounds."""
    if len(re.findall(r"\bJOIN\b", sql, re.IGNORECASE)) != 1:
        return None
    if re.search(r"\bGROUP\s+BY\b|\bUNION\b", sql, re.IGNORECASE):
        return None
    if re.match(r"^\s*SELECT\s+DISTINCT\b", sql.strip(), re.IGNORECASE):
        return None
    if select_count(sql) != 1:
        return None
    jm = _JOIN_RE.search(sql)
    if not jm:
        return None
    left_view = jm.group(1).strip("`")
    right_view = jm.group(5).strip("`")
    if left_view not in known_views or right_view not in known_views:
        return None
    on = jm.group(8).strip()
    left_alias = (jm.group(2) or jm.group(3) or jm.group(1)).strip("`")
    right_alias = (jm.group(6) or jm.group(7) or jm.group(5)).strip("`")
    return RegularJoinSpec(
        left_view=left_view,
        left_alias=left_alias,
        right_view=right_view,
        right_alias=right_alias,
        join_kind=(jm.group(4) or "").strip().upper().split()[0] if jm.group(4) else "",
        on_condition=on,
    )


def _signed_interval(sign: str | None, n: str | None, unit: str | None) -> timedelta:
    if n is None:
        return timedelta(0)
    iv = interval_to_timedelta(n, unit)
    return -iv if sign == "-" else iv


def _parse_cmp_bounds(on_text: str):
    """Both bounds of a comparison-spelled interval join in `on_text`
    (Flink docs form `l.t >= r.t - I AND l.t < r.t + I`): returns
    (a_alias, a_col, b_alias, b_col, lo, hi) meaning a.t - b.t ∈ [lo, hi],
    or None. At least one bound must carry INTERVAL arithmetic, so plain
    non-time inequalities (quantity comparisons etc.) never classify a
    regular join as an interval join."""
    cons: dict[tuple, dict] = {}
    flip = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}
    for m in _TIME_CMP_RE.finditer(on_text):
        a_al, a_col, op, b_al, b_col, sign, n, unit = m.groups()
        delta = _signed_interval(sign, n, unit)
        key = (a_al, a_col, b_al, b_col)
        rkey = (b_al, b_col, a_al, a_col)
        if rkey in cons and key not in cons:
            key, delta, op = rkey, -delta, flip[op]
        d = cons.setdefault(key, {})
        if op in ("<", "<="):
            d["hi"] = delta
        else:
            d["lo"] = delta
        d["has_interval"] = d.get("has_interval", False) or n is not None
    for (a_al, a_col, b_al, b_col), d in cons.items():
        if "lo" in d and "hi" in d and d["has_interval"] and d["lo"] <= d["hi"]:
            return a_al, a_col, b_al, b_col, d["lo"], d["hi"]
    return None


def parse_interval_join(sql: str, known_views: set[str]) -> IntervalJoinSpec | None:
    jm = _JOIN_RE.search(sql)
    if not jm:
        return None
    left_view = jm.group(1).strip("`")
    right_view = jm.group(5).strip("`")
    if left_view not in known_views or right_view not in known_views:
        return None
    left_alias = (jm.group(2) or jm.group(3) or jm.group(1)).strip("`")
    right_alias = (jm.group(6) or jm.group(7) or jm.group(5)).strip("`")

    # Time bound: generalized BETWEEN (`a.t BETWEEN b.t - I1 AND b.t + I2`)
    # or the two-conjunct comparison spelling. Both normalize to
    # a.t - b.t ∈ [lo, hi].
    bm = _BETWEEN_RE.search(sql)
    if bm:
        a_al, a_col, b_al, b_col = bm.group(1), bm.group(2), bm.group(3), bm.group(4)
        lo = _signed_interval(bm.group(5), bm.group(6), bm.group(7))
        hi = _signed_interval(bm.group(8), bm.group(9), bm.group(10))
        if bm.group(6) is None and bm.group(9) is None:
            return None  # no interval arithmetic — not a time-window join
        if lo > hi:
            return None
    else:
        cb = _parse_cmp_bounds(jm.group(8))
        if cb is None:
            return None
        a_al, a_col, b_al, b_col, lo, hi = cb

    # Orient onto the executor's convention: right.et ∈
    # [left.et + lower, left.et + upper]. When the bound subject is the
    # LEFT side's time (`l.et - r.et ∈ [lo, hi]`), the window flips to
    # right.et ∈ [left.et - hi, left.et - lo] — NOT [lo, hi], which would
    # purge right rows that future lefts can still match and delay
    # LEFT-outer pads.
    if a_al.strip("`") == right_alias:
        l_col, r_col = b_col, a_col
        lower, upper = lo, hi
    elif a_al.strip("`") == left_alias:
        l_col, r_col = a_col, b_col
        lower, upper = -hi, -lo
    else:
        return None
    return IntervalJoinSpec(
        left_view=left_view,
        left_alias=left_alias,
        right_view=right_view,
        right_alias=right_alias,
        is_left_outer=(jm.group(4) or "").strip().upper().startswith(("LEFT", "FULL")),
        is_right_outer=(jm.group(4) or "").strip().upper().startswith(("RIGHT", "FULL")),
        on_condition=jm.group(8).strip(),
        left_time_col=l_col.strip("`"),
        right_time_col=r_col.strip("`"),
        lower=lower,
        upper=upper,
    )


# Any aggregate function OVER a window with an ORDER BY — the stateful
# Over-Aggregation family. Shapes parse_over_agg accepts are classified
# OVER_AGG above; anything else matching this is rejected, not mapped.
_OVER_AGG_REJECT_RE = re.compile(
    r"\b(?:sum|count|min|max|avg)\s*\((?:[^()]|\([^()]*\))*\)\s+"
    r"over\s*\((?:[^()]|\([^()]*\))*\border\s+by\b",
    re.IGNORECASE | re.DOTALL,
)


_SETOP_RE = re.compile(
    r"\b(UNION|INTERSECT|EXCEPT|MINUS)\b(\s+ALL\b)?\s*(?=SELECT\b|\()",
    re.IGNORECASE,
)


def parse_setop(sql: str):
    """Top-level set-operator parse: a NODE `(op, all_flag, [children])`
    or None. Each child is either a leaf SQL string (a plain branch; may
    itself be a stateless UNION ALL chain) or a nested node — mixed
    operators and parenthesized sub-chains decompose recursively with
    standard SQL precedence (INTERSECT binds tighter than UNION/EXCEPT;
    equal precedence associates left, Flink/Calcite semantics via
    planner delegation, TransformEngine.scala:252-262). Consecutive
    same-operator runs fold n-ary: `(A EXCEPT B) EXCEPT C` =
    `A EXCEPT (B UNION ALL C)` in count space, `(A ∩ B) ∩ C` and
    `(A ∪ B) ∪ C` by associativity.

    Pure UNION ALL chains return None — genuinely stateless (each
    slice's rows pass through once), they stay on the MAP path with its
    changelog-union machinery. UNION ALL over a STATEFUL sub-chain's
    result (`A EXCEPT B UNION ALL C`) becomes a ("UNIONALL", False,
    children) node: Flink unions changelogs freely, so the executor runs
    the stateful children as sub-steps and forwards every branch's
    changelog through the map executor's changelog union."""
    node = _setop_operand(sql)
    return None if isinstance(node, str) else node


def _setop_operand(sql: str):
    """`sql` as a set-operation operand: its parse node, or, when it has
    no stateful top-level set operator, its text without the parentheses
    that enclose all of it (`(A) UNION (B)` keeps its own)."""
    sql = sql.strip()
    if sql.startswith("(") and matching_paren(mask_sql(sql), 0) == len(sql) - 1:
        return _setop_operand(sql[1:-1])
    parts = split_top_level(sql, _SETOP_RE)
    if len(parts) == 1:
        return sql
    segs = parts[::3]
    found = [
        (op.upper(), allf is not None)
        for op, allf in zip(parts[1::3], parts[2::3])
    ]
    if not any(not (op == "UNION" and allf) for (op, allf) in found):
        # Every depth-0 operator is UNION ALL — but a PARENTHESIZED
        # segment may hide a stateful sub-chain (`(A EXCEPT B) UNION ALL
        # C`). Decompose each segment first; only when every operand is a
        # plain leaf is the chain genuinely stateless (MAP path). A
        # stateful operand anywhere makes the whole chain a UNIONALL
        # changelog-concatenation node, exactly like the unparenthesized
        # `A EXCEPT B UNION ALL C` spelling.
        operands = [_setop_operand(s) for s in segs]
        if all(isinstance(o, str) for o in operands):
            return sql  # pure stateless UNION ALL chain
        if re.search(
            r"\b(ORDER\s+BY|LIMIT)\b", mask_sql(sql, parens=True),
            re.IGNORECASE,
        ):
            raise InvalidQueryError(
                "ORDER BY / LIMIT on a set-operation step is not supported"
            )
        children: list = []
        for o in operands:
            if isinstance(o, tuple) and o[0] == "UNIONALL":
                children.extend(o[2])  # flatten nested concatenations
            elif isinstance(o, str) and children and isinstance(
                children[-1], str
            ):
                children[-1] = f"{children[-1]} UNION ALL {o}"
            else:
                children.append(o)
        return ("UNIONALL", False, children)
    if re.search(
        r"\b(ORDER\s+BY|LIMIT)\b", mask_sql(sql, parens=True), re.IGNORECASE
    ):
        raise InvalidQueryError(
            "ORDER BY / LIMIT on a set-operation step is not supported"
        )

    def _fold(cur, kind: str, allf: bool, nxt):
        # Extend an n-ary run of the same operator (left-associative
        # identities above); otherwise nest.
        if isinstance(cur, tuple) and cur[0] == kind and cur[1] == allf:
            return (kind, allf, cur[2] + [nxt])
        return (kind, allf, [cur, nxt])

    # Pass 1 — INTERSECT (higher precedence) binds adjacent operands.
    red_operands = [_setop_operand(segs[0])]
    red_ops: list[tuple[str, bool]] = []
    for (kind, allf), seg in zip(found, segs[1:]):
        nxt = _setop_operand(seg)
        if kind == "INTERSECT":
            red_operands[-1] = _fold(red_operands[-1], "INTERSECT", allf, nxt)
        else:
            red_ops.append(("EXCEPT" if kind == "MINUS" else kind, allf))
            red_operands.append(nxt)
    # Pass 2 — UNION / EXCEPT, left-associative.
    cur = red_operands[0]
    for (kind, allf), nxt in zip(red_ops, red_operands[1:]):
        if kind == "UNION" and allf:
            if isinstance(nxt, tuple) and nxt[0] == "UNIONALL":
                # Flatten a parenthesized concatenation operand so the
                # executors only ever see one UNIONALL level.
                base = (
                    cur[2]
                    if isinstance(cur, tuple) and cur[0] == "UNIONALL"
                    else [cur]
                )
                cur = ("UNIONALL", False, base + nxt[2])
            elif isinstance(cur, str) and isinstance(nxt, str):
                cur = f"{cur} UNION ALL {nxt}"  # stateless splice
            elif isinstance(cur, tuple) and cur[0] == "UNIONALL":
                cur = ("UNIONALL", False, cur[2] + [nxt])
            else:
                # Changelog concatenation of a stateful sub-chain with
                # further branches — an executor-level union of branch
                # changelogs, not a count-state node.
                cur = ("UNIONALL", False, [cur, nxt])
        else:
            cur = _fold(cur, kind, allf, nxt)
    if isinstance(cur, str):  # pragma: no cover — pure-ALL handled above
        return sql
    return cur


def classify(sql: str, known_views: set[str]) -> str:
    if re.search(r"\bUNNEST\s*\(", sql, re.IGNORECASE):
        # Normalize array-expanding UNNEST joins to their LATERAL VIEW
        # form BEFORE any join-shape matching: `CROSS JOIN UNNEST(..)`
        # / `LEFT JOIN UNNEST(..) ON TRUE` carry a JOIN keyword but are
        # stateless per-row expansions, not stream joins — counting them
        # would misroute a real join + UNNEST into the multi-join gate
        # (or an UNNEST alone into the regular-join parser). The
        # executors rewrite the original SQL themselves; this copy is
        # classification-only.
        from .dialect import _rewrite_unnest

        sql = _rewrite_unnest(sql)
        kind = classify(sql, known_views)
        if kind not in (MAP, SETOP):
            # The stateful executors parse fixed query shapes and would
            # drop or misread a LATERAL clause; Flink's planner composes
            # them freely, so reject with the decomposition instead of
            # silently executing the join without the expansion. SETOP is
            # fine: its branches run through the MAP rewrite themselves,
            # so an UNNEST inside a branch expands before the fold.
            raise InvalidQueryError(
                "UNNEST composes with stateless projection steps only; "
                f"put the {kind} in its own step and UNNEST its output "
                "in a following step"
            )
        return kind
    if re.search(r"\bMATCH_RECOGNIZE\b", sql, re.IGNORECASE):
        return MATCH_RECOGNIZE
    # Top-level non-UNION-ALL set operators need per-value state across
    # invocations (Flink keeps it in the planner's set-op operators);
    # stateless MAP would pair only same-invocation rows.
    if parse_setop(sql) is not None:
        return SETOP
    if len(_WINDOW_TVF_RE.findall(sql)) >= 2 and re.search(
        r"\bJOIN\b", sql, re.IGNORECASE
    ):
        return WINDOW_JOIN
    tvf = _WINDOW_TVF_RE.search(sql)
    if tvf:
        return {"TUMBLE": WINDOW_AGG, "HOP": HOP_AGG, "CUMULATE": CUMULATE_AGG}[
            tvf.group(1).upper()
        ]
    if _CUMULATE_RE.search(sql):
        return CUMULATE_AGG
    if _TUMBLE_RE.search(sql):
        return WINDOW_AGG
    if _HOP_RE.search(sql):
        return HOP_AGG
    if _SESSION_RE.search(sql):
        return SESSION_AGG
    if _TEMPORAL_RE.search(sql):
        return TEMPORAL_JOIN
    if parse_topn(sql) is not None:
        return TOPN
    if parse_over_agg(sql) is not None:
        return OVER_AGG
    # An aggregate OVER (... ORDER BY ...) that parse_over_agg did NOT
    # accept (descending order, FOLLOWING bounds, expression order keys,
    # or the implicit RANGE UNBOUNDED PRECEDING default frame with an
    # unsupported spelling) must not silently fall through to stateless
    # MAP: a per-slice evaluation with no watermark gating or cross-run
    # state yields slice-dependent results where Flink would evaluate the
    # window statefully. Reject loudly instead.
    if _OVER_AGG_REJECT_RE.search(sql):
        raise InvalidQueryError(
            "unsupported OVER aggregation shape: only ascending row-time "
            "ORDER BY with a PRECEDING .. CURRENT ROW (or UNBOUNDED "
            "PRECEDING) frame is supported in streaming transforms"
        )
    if parse_interval_join(sql, known_views) is not None:
        return INTERVAL_JOIN
    # A plain equi-join of two registered stream views with no time bound
    # is Flink's REGULAR join (cross-history pairing, unbounded state) —
    # running it as stateless MAP would pair only same-invocation rows,
    # silently slice-dependent.
    if parse_regular_join(sql, known_views) is not None:
        return REGULAR_JOIN
    # MULTIPLE joins over two or more stream views in ONE step (and no
    # temporal/TVF spelling, which routed earlier): Flink's planner would
    # chain stateful joins — full-history pairing at every stage — while
    # stateless MAP would pair only same-invocation rows, silently
    # slice-dependent. The stateful executors handle one join per step;
    # reject loudly with the supported decomposition.
    # Gate on stream-view OCCURRENCES, not distinct views: a multi-join
    # chain over a SINGLE view repeated (FROM v a JOIN v b ... JOIN v c)
    # is just as slice-dependent as one over two views, while a stream
    # enriched twice from static relations (VALUES/literal subqueries)
    # references a stream view only once and stays a stateless MAP.
    if len(re.findall(r"\bJOIN\b", sql, re.IGNORECASE)) >= 2 and (
        sum(
            1
            for t in re.findall(r"\b(?:FROM|JOIN)\s+`?(\w+)`?", sql, re.IGNORECASE)
            if t in known_views
        )
        >= 2
    ):
        raise InvalidQueryError(
            "multiple stream-to-stream joins in one query step are not "
            "supported: split the query into aliased steps, one join per "
            "step (each step's alias is a view for the next step)"
        )
    # Windowless GROUP BY over one stream view with mergeable aggregates:
    # Flink's continuous aggregation — per-key results UPDATE as rows
    # arrive, emitting correction pairs into the changelog. Stateless MAP
    # would recompute per slice and emit conflicting absolute rows.
    if (
        not re.search(r"\bJOIN\b", sql, re.IGNORECASE)
        and len(referenced_views(sql, known_views)) == 1
        and parse_unbounded_aggs(sql) is not None
    ):
        return UNBOUNDED_AGG
    # A windowless aggregate over ONE stream view that the continuous
    # executor could NOT parse (collect_list, expressions over aggregates,
    # DISTINCT aggs, expression group keys, HAVING): running it as
    # stateless MAP would emit conflicting per-slice absolute rows —
    # silently slice-dependent where Flink evaluates it statefully.
    # Reject loudly, like the unsupported-OVER shapes above.
    if (
        not re.search(r"\bJOIN\b|\bover\s*\(|\bunion\b", sql, re.IGNORECASE)
        and select_count(sql) == 1
        and len(referenced_views(sql, known_views)) == 1
        and _AGG_CALL_ANY_RE.search(sql)
    ):
        raise InvalidQueryError(
            "unsupported continuous-aggregation shape: windowless stream "
            "aggregates support plain-column group keys and mergeable "
            "sum/count/min/max/avg aggregates only (window the query with "
            "TUMBLE/HOP/SESSION for other shapes)"
        )
    # A windowless aggregate OVER A JOIN in one step: stateless MAP would
    # recompute both the pairing and the aggregate per slice — doubly
    # slice-dependent (Flink chains a regular join into a continuous
    # aggregation). Reject with the supported decomposition.
    if (
        re.search(r"\bJOIN\b", sql, re.IGNORECASE)
        and not re.search(r"\bover\s*\(|\bunion\b", sql, re.IGNORECASE)
        and select_count(sql) == 1
        and len(referenced_views(sql, known_views)) >= 1
        and (
            _AGG_CALL_ANY_RE.search(sql)
            or _GROUP_BY_RE.search(sql)
            or re.match(r"^\s*select\s+distinct\b", sql, re.IGNORECASE)
        )
    ):
        raise InvalidQueryError(
            "aggregation or DISTINCT over a join in one step would "
            "recompute per slice (slice-dependent): split into aliased "
            "steps — the join step first, then the aggregation/DISTINCT "
            "over its alias"
        )
    # Top-level SELECT DISTINCT gets Flink's STATEFUL stream semantics
    # (suppress rows seen in any earlier invocation), not per-slice
    # distinct. Conservative shape: single-block, no joins/aggregation.
    if (
        re.match(r"^\s*select\s+distinct\b", sql, re.IGNORECASE)
        and select_count(sql) == 1
        and not re.search(r"\b(join|group\s+by|union)\b", sql, re.IGNORECASE)
    ):
        return DISTINCT
    # GROUP BY with NO aggregate calls is DISTINCT in disguise (Flink's
    # planner gives it the same stateful distinct semantics); stateless
    # MAP would re-emit a group seen in an earlier invocation. When the
    # select list is exactly the group keys, route to the DISTINCT
    # executor (which normalizes the spelling); any other windowless
    # no-aggregate GROUP BY shape rejects loudly rather than silently
    # running per slice.
    if (
        select_count(sql) == 1
        and not _AGG_CALL_ANY_RE.search(sql)
        and not re.search(
            r"\b(join|union|over|having)\b", mask_sql(sql, parens=True),
            re.IGNORECASE,
        )
        and len(referenced_views(sql, known_views)) >= 1
    ):
        gb = _GROUP_BY_RE.search(mask_sql(sql, parens=True))
        if gb:
            if group_by_distinct_sql(sql) is not None:
                return DISTINCT
            raise InvalidQueryError(
                "unsupported GROUP BY shape: with no recognized aggregate "
                "call this is stateful DISTINCT, supported only in the "
                "plain-column form whose select list equals the group "
                "keys (spell other shapes as SELECT DISTINCT over a "
                "projection step); if the query DOES aggregate, the "
                "aggregate function is not one the streaming engine "
                "recognizes"
            )
    return MAP


def group_by_distinct_sql(sql: str) -> str | None:
    """`SELECT k1, k2 FROM v [WHERE ..] GROUP BY k1, k2` (plain columns,
    ordinals allowed, no aggregates) -> the equivalent
    `SELECT DISTINCT k1, k2 FROM v [WHERE ..]`, or None when the shape
    doesn't match (an expression select item, keys not covering the
    select list, ...)."""
    masked = mask_sql(sql, parens=True)
    gb = _GROUP_BY_RE.search(masked)
    if not gb:
        return None
    keys = [k.strip().strip("`").lower() for k in gb.group(1).split(",")]
    m = re.match(r"^\s*select\s+(.*?)\s+from\b", masked, re.IGNORECASE | re.DOTALL)
    if not m:
        return None
    items = [i.strip() for i in m.group(1).split(",")]
    plain = re.compile(r"^[`\w]+$")
    sel = []
    for it in items:
        if not plain.match(it):
            return None
        sel.append(it.strip("`").lower())
    resolved = []
    for k in keys:
        if k.isdigit():
            idx = int(k)
            if not (1 <= idx <= len(sel)):
                return None
            resolved.append(sel[idx - 1])
        elif plain.match(k):
            resolved.append(k)
        else:
            return None
    if set(resolved) != set(sel):
        return None
    # Strip the GROUP BY clause (positions transfer 1:1 from the mask)
    # and inject DISTINCT.
    gb_full = re.search(
        r"\s*GROUP\s+BY\s+(?:[`\w]+\s*,\s*)*[`\w]+", masked, re.IGNORECASE
    )
    if not gb_full:
        return None
    out = sql[: gb_full.start()] + sql[gb_full.end() :]
    return re.sub(r"^(\s*select\s+)", r"\1DISTINCT ", out, count=1, flags=re.IGNORECASE)


def referenced_views(sql: str, known_views: set[str]) -> list[str]:
    """Registered view names a step's SQL references (for watermark
    propagation)."""
    out = []
    for name in known_views:
        if re.search(rf"(?<![\w.]){re.escape(name)}(?!\w)", sql):
            out.append(name)
    return out
