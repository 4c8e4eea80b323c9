"""Flink-SQL -> Spark-SQL dialect rewriting.

The reference delegates all SQL to Flink's planner; its *documented and
tested* query surface (SURVEY.md §2.B) uses a handful of Flink-specific
constructs that Spark SQL spells differently. The ODF `queries` list gives
clean interception points, so a syntactic pre-processor suffices — no
Catalyst extension needed. Everything not matched below passes through
untouched to Spark SQL (whose builtin library is the equivalent of the
Flink builtin surface, SURVEY.md §2.B "string/date/math function library").

Rewrites:
  TUMBLE(ts, INTERVAL 'n' UNIT)        -> window(ts, 'n unit')     [GROUP BY]
  TUMBLE_START(ts, ...)/TUMBLE_END(..) -> window.start / window.end
  TUMBLE/HOP/SESSION_ROWTIME(..)       -> (window.end - INTERVAL 1 MILLISECOND)
    (Flink's group-window rowtime attribute, for cascading windowed aggs)
  TUMBLE(ts, INTERVAL '1' MONTH/QUARTER/YEAR) -> date_trunc calendar windows
  HOP(ts, INTERVAL slide, INTERVAL size) -> window(ts, size, slide)
  HOP_START/HOP_END                    -> window.start / window.end
  SESSION(ts, INTERVAL gap)            -> session_window(ts, gap)
  SESSION_START/SESSION_END            -> session_window.start / .end
  CUMULATE(ts, INTERVAL step, INTERVAL size) -> (window(ts, size), __cum_end)
    + FROM-subquery exploding each row into its cumulative-window ends;
    CUMULATE_START -> window.start, CUMULATE_END -> __cum_end
  (HOP/SESSION are BEYOND-reference Flink SQL spellings — the reference
  supports TUMBLE only (README "Does not support month/quarter/year
  tumbling windows"); accepted here on the batch/raw-query path so Flink
  SQL users keep their hopping/session queries. The incremental transform
  runner's cross-run window state covers TUMBLE, reference parity;
  always-on hopping/session state is streaming/structured.py.)
  CAST(x AS TIMESTAMP(p))              -> CAST(x AS TIMESTAMP)
  current_watermark(col)               -> TIMESTAMP 'w' literal (engine state)
  JSON_VALUE(x, path)                  -> get_json_object(x, path)
  JSON_QUERY(x, path)                  -> get_json_object(x, path)
    DOCUMENTED DEVIATION: for array/object-valued paths this matches
    Flink's JSON_QUERY (returns the JSON text); for SCALAR-valued paths
    Flink returns NULL (without ARRAY WRAPPER) while get_json_object
    returns the raw scalar — i.e. scalar paths behave like JSON_VALUE
    here. Queries that need the Flink NULL-for-scalar behavior should
    use JSON_VALUE for scalars explicitly.
  JSON_EXISTS(x, 'path')               -> (get_json_object(x, 'path') IS NOT NULL)
  PROCTIME() / CURRENT_ROW_TIMESTAMP() -> current_timestamp()
  SPLIT_INDEX(s, sep, i)               -> try_element_at(split(s, <esc>), i+1)
  RAND_INTEGER(n)                      -> CAST(FLOOR(RAND() * (n)) AS INT)
  TO_TIMESTAMP_LTZ(x, 3|0)             -> timestamp_millis/timestamp_seconds
  TABLE(TUMBLE/HOP/CUMULATE(TABLE t, DESCRIPTOR(ts), ...)) windowing TVFs
    -> FROM-subqueries materializing window_start/window_end
  t FOR SYSTEM_TIME AS OF p.ts AS a    -> <t>__versions a + validity preds
  , LATERAL TABLE (t(p.ts)) AS a       -> JOIN <t>__versions a ON validity
  CROSS JOIN UNNEST(arr) AS u (c)      -> LATERAL VIEW explode(arr) u AS c
  , UNNEST(arr) AS u (c)               -> same (comma spelling)
  LEFT JOIN UNNEST(arr) AS u (c) ON TRUE -> LATERAL VIEW OUTER explode(..)
    (keeps rows whose array is empty/NULL, Flink's ON TRUE contract)
  ... AS u (c1, c2, ...)               -> LATERAL VIEW inline(arr) u AS c1,..
    (Flink's UNNEST over an array of rows flattens the row fields into
    columns; Spark's inline() is the same operation. UNNEST over a MAP —
    also two columns in Flink — is syntactically identical, so the
    two-column form resolves the argument's type: `[alias.]column`
    against the registered view schemas (an unqualified name must bind
    UNIQUELY across the referenced tables), and a computed expression
    (map_filter(m, ...) etc.) by schema-inferring a probe projection —
    analysis only, no job. MAP -> explode(map) = (key, value);
    array-of-rows / unresolvable -> inline(). WITH ORDINALITY and
    alias-less UNNEST reject loudly below.)

Temporal rewrites target the `<name>__versions` views the temporal-join
executor binds for declared temporal tables (operators/temporal_join.py): each
version carries [__valid_from, __valid_to) computed from the next version
of the same primary key, which turns Flink's temporal-table-function join
(README.md "Temporal Table Joins") into a plain range join Catalyst can
plan (and broadcast when the versioned side is small).
"""

from __future__ import annotations

import re
from datetime import datetime

from ..protocol.model import InvalidQueryError
from .classify import _WINDOW_TVF_RE, mask_sql, matching_paren, split_top_level

_UNIT_MAP = {
    "SECOND": "second",
    "MINUTE": "minute",
    "HOUR": "hour",
    "DAY": "day",
    "WEEK": "week",
}

VALID_FROM = "__valid_from"
VALID_TO = "__valid_to"
VERSIONS_SUFFIX = "__versions"

_TUMBLE_RE = re.compile(
    r"(?<![\w.])TUMBLE(_START|_END|_ROWTIME)?\s*\(\s*([`\w.]+)\s*,\s*INTERVAL\s+'(\d+)'\s+(\w+)\s*\)",
    re.IGNORECASE,
)
_HOP_RE = re.compile(
    r"(?<![\w.])HOP(_START|_END|_ROWTIME)?\s*\(\s*([`\w.]+)\s*,"
    r"\s*INTERVAL\s+'(\d+)'\s+(\w+)\s*,\s*INTERVAL\s+'(\d+)'\s+(\w+)\s*\)",
    re.IGNORECASE,
)
_SESSION_RE = re.compile(
    r"(?<![\w.])SESSION(_START|_END|_ROWTIME)?\s*\(\s*([`\w.]+)\s*,\s*INTERVAL\s+'(\d+)'\s+(\w+)\s*\)",
    re.IGNORECASE,
)
_CUMULATE_ANY_RE = re.compile(
    r"(?<![\w.])CUMULATE(_START|_END)?\s*\(\s*([`\w.]+)\s*,"
    r"\s*INTERVAL\s+'(\d+)'\s+(\w+)\s*,\s*INTERVAL\s+'(\d+)'\s+(\w+)\s*\)",
    re.IGNORECASE,
)
_FROM_VIEW_RE = re.compile(
    r"(\bFROM\s+)(`?[\w.]+`?)((?:\s+AS\s+[`\w]+|\s+(?!WHERE\b|GROUP\b|ORDER\b|HAVING\b|LIMIT\b|JOIN\b|LEFT\b|RIGHT\b|INNER\b|CROSS\b|UNION\b)[`\w]+)?)",
    re.IGNORECASE,
)
_TS_PRECISION_RE = re.compile(r"\bTIMESTAMP\s*\(\s*\d\s*\)", re.IGNORECASE)
# Flink scalar builtins Spark spells differently (README/Flink docs public
# surface; each maps 1:1 with identical semantics).
_JSON_VALUE_RE = re.compile(r"\bJSON_VALUE\s*\(", re.IGNORECASE)
_JSON_QUERY_RE = re.compile(r"\bJSON_QUERY\s*\(", re.IGNORECASE)
_PROCTIME_RE = re.compile(r"\bPROCTIME\s*\(\s*\)", re.IGNORECASE)
_CURRENT_ROW_TS_RE = re.compile(r"\bCURRENT_ROW_TIMESTAMP\s*\(\s*\)", re.IGNORECASE)
_REGEX_META = set(".^$*+?()[]{}|\\")


def _rewrite_call(sql: str, name: str, repl_fn) -> str:
    """Rewrite every `name(args...)` call (case-insensitive, arguments may
    nest calls/strings) via repl_fn(list_of_arg_strings) -> replacement.
    A call inside an earlier rewritten call's arguments stays as written."""
    pattern = re.compile(r"\b" + name + r"\s*\(", re.IGNORECASE)
    masked = mask_sql(sql)
    out, pos = [], 0
    for m in pattern.finditer(masked):
        if m.start() < pos:
            continue
        close = matching_paren(masked, m.end() - 1)
        if close is None:  # unbalanced — leave untouched, Spark will report it
            break
        out.append(sql[pos : m.start()])
        out.append(repl_fn(split_top_level(sql[m.end() : close])))
        pos = close + 1
    out.append(sql[pos:])
    return "".join(out)


_TO_TS_LTZ_RE = re.compile(
    r"\bTO_TIMESTAMP_LTZ\s*\(\s*([^,()]+?)\s*,\s*([03])\s*\)", re.IGNORECASE
)
_CURRENT_WM_RE = re.compile(r"current_watermark\s*\(\s*[`\w.]*\s*\)", re.IGNORECASE)
_KEYWORD_GUARD = r"(?!(?:ON|WHERE|JOIN|LEFT|RIGHT|FULL|INNER|CROSS|GROUP|ORDER|HAVING|UNION|LIMIT|AS)\b)"
_SYSTEM_TIME_JOIN_RE = re.compile(
    r"([`\w.]+)\s+FOR\s+SYSTEM_TIME\s+AS\s+OF\s+([`\w.]+)"
    r"(?:\s+AS\s+([`\w]+)|\s+" + _KEYWORD_GUARD + r"([`\w]+))?",
    re.IGNORECASE,
)
_LATERAL_RE = re.compile(
    r",\s*LATERAL\s+TABLE\s*\(\s*([`\w.]+)\s*\(\s*([`\w.]+)\s*\)\s*\)"
    r"(?:\s+AS\s+([`\w]+)|\s+" + _KEYWORD_GUARD + r"([`\w]+))?",
    re.IGNORECASE,
)


def _interval_to_duration(n: str, unit: str) -> str:
    u = _UNIT_MAP.get(unit.upper())
    if u is None:
        raise InvalidQueryError(f"unsupported TUMBLE interval unit: {unit}")
    return f"{n} {u}"


_CALENDAR_MONTHS = {"MONTH": 1, "QUARTER": 3, "YEAR": 12}


def _rewrite_tumble(sql: str) -> str:
    def repl(m: re.Match) -> str:
        suffix, col, n, unit = m.groups()
        if unit.upper() in _CALENDAR_MONTHS:
            # Calendar tumbling (beyond reference parity — its README lists
            # month/quarter/year windows as unsupported): windows are
            # date_trunc buckets, variable-length, so Spark's fixed-duration
            # window() cannot express them.
            if n != "1":
                raise InvalidQueryError(
                    f"calendar tumbling windows support INTERVAL '1' {unit.upper()} only"
                )
            start = f"date_trunc('{unit.upper()}', {col})"
            if suffix is None or suffix.upper() == "_START":
                return start
            end = f"{start} + INTERVAL {_CALENDAR_MONTHS[unit.upper()]} MONTH"
            if suffix.upper() == "_ROWTIME":
                return f"({end} - INTERVAL 1 MILLISECOND)"
            return f"({end})"
        dur = _interval_to_duration(n, unit)
        if suffix is None:
            return f"window({col}, '{dur}')"
        if suffix.upper() == "_START":
            return "window.start"
        if suffix.upper() == "_ROWTIME":
            # Flink's rowtime attribute of a group window: end - 1ms, a
            # valid event time INSIDE the window so cascaded windowed
            # aggregations bucket it into the enclosing window.
            return "(window.end - INTERVAL 1 MILLISECOND)"
        return "window.end"

    return _TUMBLE_RE.sub(repl, sql)


def _rewrite_hop(sql: str) -> str:
    """Flink argument order is (time, slide, size); Spark window() takes
    (time, size, slide)."""

    def repl(m: re.Match) -> str:
        suffix, col, slide_n, slide_u, size_n, size_u = m.groups()
        if suffix is None:
            size = _interval_to_duration(size_n, size_u)
            slide = _interval_to_duration(slide_n, slide_u)
            return f"window({col}, '{size}', '{slide}')"
        if suffix.upper() == "_START":
            return "window.start"
        if suffix.upper() == "_ROWTIME":
            return "(window.end - INTERVAL 1 MILLISECOND)"
        return "window.end"

    return _HOP_RE.sub(repl, sql)


def _rewrite_session(sql: str) -> str:
    def repl(m: re.Match) -> str:
        suffix, col, n, unit = m.groups()
        if suffix is None:
            return f"session_window({col}, '{_interval_to_duration(n, unit)}')"
        if suffix.upper() == "_START":
            return "session_window.start"
        if suffix.upper() == "_ROWTIME":
            return "(session_window.end - INTERVAL 1 MILLISECOND)"
        return "session_window.end"

    return _SESSION_RE.sub(repl, sql)


_INTERVAL_US = {
    "SECOND": 1_000_000,
    "MINUTE": 60_000_000,
    "HOUR": 3_600_000_000,
    "DAY": 86_400_000_000,
    "WEEK": 604_800_000_000,
}


def cumulate_ends_sql(time_col: str, step_n: str, step_u: str, size_n: str, size_u: str) -> str:
    """SQL array expression listing every cumulative-window end a row at
    `time_col` belongs to: E in {S + k*step : E > ts, k <= size/step},
    with S the size-aligned span start. Pure integer epoch-microsecond
    arithmetic (exact; assumes non-negative epochs) + sequence() — all
    JVM-side codegen, no UDF."""
    step_us = int(step_n) * _INTERVAL_US[step_u.upper()]
    size_us = int(size_n) * _INTERVAL_US[size_u.upper()]
    s = f"(unix_micros({time_col}) DIV {size_us}) * {size_us}"
    first_end = f"{s} + ((unix_micros({time_col}) - ({s})) DIV {step_us} + 1) * {step_us}"
    return (
        f"sequence(timestamp_micros(CAST({first_end} AS BIGINT)), "
        f"timestamp_micros(CAST({s} + {size_us} AS BIGINT)), "
        f"INTERVAL '{step_n}' {step_u.upper()})"
    )


def _rewrite_cumulate(sql: str) -> str:
    """CUMULATE (Flink's cumulative windows, public SQL surface since
    1.13, spelled group-window style for consistency with TUMBLE/HOP):
    every row expands to one copy per containing cumulative window via an
    injected FROM-subquery (`explode(sequence(...)) AS __cum_end`), the
    GROUP BY term becomes (size-span window, __cum_end), CUMULATE_START
    -> window.start (the span start), CUMULATE_END -> __cum_end. Single
    FROM-view queries only — the classifier enforces the same shape for
    the stateful executor."""
    m = _CUMULATE_ANY_RE.search(sql)
    if m is None:
        return sql
    # All CUMULATE/_START/_END calls in one query must agree on args —
    # mismatched intervals would silently adopt the first call's geometry.
    arg_sets = {g[1:] for g in (mm.groups() for mm in _CUMULATE_ANY_RE.finditer(sql))}
    if len(arg_sets) > 1:
        raise InvalidQueryError(
            f"all CUMULATE calls in one query must share (time, step, size); got {sorted(arg_sets)}"
        )
    _, col, step_n, step_u, size_n, size_u = m.groups()
    size_dur = _interval_to_duration(size_n, size_u)

    def repl(cm: re.Match) -> str:
        suffix = cm.group(1)
        if suffix is None:
            return f"window({col}, '{size_dur}'), __cum_end"
        return "window.start" if suffix.upper() == "_START" else "__cum_end"

    out = _CUMULATE_ANY_RE.sub(repl, sql)
    ends = cumulate_ends_sql(
        col.split(".")[-1].strip("`"), step_n, step_u, size_n, size_u
    )

    def from_repl(fm: re.Match) -> str:
        view = fm.group(2)
        alias = fm.group(3) or ""
        return (
            f"{fm.group(1)}(SELECT *, explode({ends}) AS __cum_end "
            f"FROM {view}) {alias.strip() or view.strip('`')}"
        )

    return _FROM_VIEW_RE.sub(from_repl, out, count=1)


def hop_starts_sql(time_col: str, slide_n: str, slide_u: str, size_n: str, size_u: str) -> str:
    """SQL array expression listing every HOP window start a row at
    `time_col` belongs to: aligned starts S with S <= ts < S + size, i.e.
    S in (ts - size, ts] stepping by slide. Exact integer epoch-micros
    arithmetic (non-negative epochs), JVM-side codegen."""
    slide_us = int(slide_n) * _INTERVAL_US[slide_u.upper()]
    size_us = int(size_n) * _INTERVAL_US[size_u.upper()]
    us = f"unix_micros({time_col})"
    first = f"(({us} - {size_us}) DIV {slide_us} + 1) * {slide_us}"
    last = f"({us} DIV {slide_us}) * {slide_us}"
    return (
        f"sequence(timestamp_micros(CAST({first} AS BIGINT)), "
        f"timestamp_micros(CAST({last} AS BIGINT)), "
        f"INTERVAL '{slide_n}' {slide_u.upper()})"
    )


def window_tvf_subquery(
    kind: str,
    view: str,
    ucol: str,
    n1: str,
    u1: str,
    n2: str | None,
    u2: str | None,
) -> str:
    """FROM-subquery text materializing the implicit `window_start`/
    `window_end` columns of one windowing TVF over `view` (unqualified
    time column `ucol`). TUMBLE maps straight to window(); HOP/CUMULATE
    explode the per-row window-instance lists (same integer geometry as
    the group-window rewrites). Shared by the SQL rewrite below and the
    window-join executor (which binds `view` to its cross-run buffer)."""
    kind = kind.upper()
    if kind == "TUMBLE":
        if n2 is not None:
            raise InvalidQueryError("TUMBLE TVF takes one interval (size)")
        dur = _interval_to_duration(n1, u1)
        return (
            f"(SELECT *, window({ucol}, '{dur}').start AS window_start, "
            f"window({ucol}, '{dur}').end AS window_end FROM {view})"
        )
    if n2 is None:
        raise InvalidQueryError(f"{kind} TVF takes two intervals")
    if kind == "HOP":
        # Flink order: (slide, size).
        starts = hop_starts_sql(ucol, n1, u1, n2, u2)
        return (
            f"(SELECT *, window_start + INTERVAL '{n2}' {u2.upper()} "
            f"AS window_end FROM "
            f"(SELECT *, explode({starts}) AS window_start FROM {view}))"
        )
    # CUMULATE: (step, size); span start is fixed per row.
    size_us = int(n2) * _INTERVAL_US[u2.upper()]
    ends = cumulate_ends_sql(ucol, n1, u1, n2, u2)
    return (
        f"(SELECT *, timestamp_micros((unix_micros({ucol}) DIV {size_us}) "
        f"* {size_us}) AS window_start, explode({ends}) AS window_end "
        f"FROM {view})"
    )


def _rewrite_window_tvf(sql: str) -> str:
    """Flink 1.13+ windowing TVF spellings -> an expanded FROM-subquery
    that materializes the implicit `window_start`/`window_end` columns
    (which the outer query GROUPs BY / projects like ordinary columns):

      FROM TABLE(TUMBLE(TABLE v, DESCRIPTOR(ts), size)) ->
        (SELECT *, window(ts, size).start AS window_start, ... FROM v) v
      HOP / CUMULATE -> one-generator subqueries exploding the per-row
        window-start / window-end lists (same integer geometry as the
        group-window rewrites).

    The legacy group-window spellings remain the primary surface; this
    accepts the TVF form so newer Flink SQL ports run unchanged."""

    def repl(m: re.Match) -> str:
        view, col = m.group(2), m.group(3)
        ucol = col.split(".")[-1].strip("`")
        return window_tvf_subquery(
            m.group(1), view, ucol, m.group(4), m.group(5), m.group(6), m.group(7)
        )

    return _WINDOW_TVF_RE.sub(repl, sql)


def rewrite_cumulate_as_step_tumble(sql: str) -> str:
    """CUMULATE -> plain STEP-sized tumbling windows (Flink's slicing
    optimization: every cumulative window is a union of whole steps, so
    per-step partials are the natural accumulator grain). CUMULATE_START/
    CUMULATE_END become the STEP window's start/end — the stateful
    executor re-derives span starts and cumulative ends from them when it
    expands merged partials."""

    def repl(m: re.Match) -> str:
        suffix, col, step_n, step_u, _size_n, _size_u = m.groups()
        if suffix is None:
            return f"window({col}, '{_interval_to_duration(step_n, step_u)}')"
        return "window.start" if suffix.upper() == "_START" else "window.end"

    return _CUMULATE_ANY_RE.sub(repl, sql)


def _validity_pred(alias: str, time_expr: str) -> str:
    return (
        f"{alias}.{VALID_FROM} <= {time_expr}"
        f" AND ({time_expr} < {alias}.{VALID_TO} OR {alias}.{VALID_TO} IS NULL)"
    )


_UNNEST_LEAD_RE = re.compile(
    r"(\bCROSS\s+JOIN\s+|\bLEFT\s+(?:OUTER\s+)?JOIN\s+|,\s*)UNNEST\s*\(",
    re.IGNORECASE,
)
_UNNEST_TAIL_RE = re.compile(
    r"\s*(?:AS\s+)?([`\w]+)\s*\(\s*([`\w]+(?:\s*,\s*[`\w]+)*)\s*\)",
    re.IGNORECASE,
)
_UNNEST_ON_TRUE_RE = re.compile(r"\s*ON\s+TRUE\b", re.IGNORECASE)


def _unnest_from_tables(sql: str) -> dict:
    """alias -> table name for every FROM/JOIN reference in the query
    (literal-masked scan; UNNEST/keyword pseudo-aliases filtered).
    Comma-separated table lists (`FROM a, b`) are followed through the
    comma chain; UNNEST/LATERAL items are skipped wholesale (consumed to
    their matching paren plus alias tail) rather than terminating the
    scan, so `FROM a, UNNEST(...) u, b` records table b too and the
    unqualified-uniqueness checks below see EVERY referenced table
    (ADVICE r11 + r12)."""
    tables: dict[str, str] = {}
    # The alias group must NOT consume a following keyword — matching
    # `FROM a JOIN b` with alias=JOIN would eat the JOIN token and hide
    # table b from the scan entirely.
    kw = (
        r"CROSS|LEFT|RIGHT|FULL|INNER|JOIN|ON|WHERE|GROUP|ORDER|"
        r"LATERAL|UNNEST|UNION|EXCEPT|INTERSECT|MINUS|HAVING|LIMIT"
    )
    # Structure is scanned on the MASKED text (backtick contents are
    # blanked there), but identifier text is recovered from the original
    # via the 1:1 position transfer, so backquoted names survive.
    ref_re = re.compile(
        rf"(`[^`]*`|\w+)(?:\s+(?:AS\s+)?(?!(?:{kw})\b)(`[^`]*`|\w+))?",
        re.IGNORECASE,
    )
    masked = mask_sql(sql)

    def _orig(span) -> str:
        return sql[span[0] : span[1]].strip("`")

    # Alias tail of an expansion item: [WITH ORDINALITY] [AS] alias
    # [(col, ...)] — the alias must not swallow a following keyword.
    tail_re = re.compile(
        rf"\s*(?:WITH\s+ORDINALITY\s*)?(?:AS\s+)?"
        rf"(?:(?!(?:{kw})\b)(?:`[^`]*`|\w+))?"
        rf"(?:\s*\(\s*[`\w]+(?:\s*,\s*[`\w]+)*\s*\))?",
        re.IGNORECASE,
    )

    for lead in re.finditer(r"\b(?:FROM|JOIN)\s+", masked, re.IGNORECASE):
        pos = lead.end()
        while True:
            rm = ref_re.match(masked, pos)
            if not rm:
                break
            name = _orig(rm.span(1))
            if name.upper() in ("UNNEST", "LATERAL"):
                # Skip `UNNEST(...)`/`LATERAL ...(...)` plus its alias
                # tail; a call that never closes ends this chain.
                p = masked.find("(", rm.start(1))
                close = matching_paren(masked, p) if p >= 0 else None
                if close is None:
                    break
                pos = tail_re.match(masked, close + 1).end()
            else:
                alias = _orig(rm.span(2)) if rm.group(2) else None
                tables[(alias or name)] = name
                pos = rm.end()
            cm = re.match(r"\s*,\s*", masked[pos:])
            if not cm:
                break
            pos += cm.end()
    return tables


def _unnest_expr_is_map(sql: str, expr: str) -> bool:
    """Best-effort: does the UNNEST argument resolve to a MAP?

    `[alias.]column` forms resolve against the registered temp views
    named in this query's FROM/JOIN clauses (via the ACTIVE SparkSession,
    so no signature threading). An UNQUALIFIED column must resolve
    UNIQUELY — if more than one referenced table carries the name, the
    binding is ambiguous and the answer falls back to inline() (the
    array-of-rows emission) rather than guessing MAP from whichever
    table happens to match first. A COMPUTED expression (map_filter(m,
    ...), map_from_entries(...), ...) is resolved by schema-inferring
    `SELECT <expr> FROM <tables>` — analysis only, no job. Anything
    unresolvable says False."""
    try:
        from pyspark.sql import SparkSession
        from pyspark.sql.types import MapType

        spark = SparkSession.getActiveSession()
        if spark is None:
            return False
        tables = _unnest_from_tables(sql)
        em = re.match(r"^\s*(?:`?(\w+)`?\s*\.\s*)?`?(\w+)`?\s*$", expr)
        if em:
            qual, col = em.group(1), em.group(2)
            if qual:
                candidates = [tables[qual]] if qual in tables else []
            else:
                # Unqualified: require a UNIQUE binding across the
                # referenced tables before answering from its type.
                owners = []
                for t in dict.fromkeys(tables.values()):
                    try:
                        if col in spark.table(t).schema.names:
                            owners.append(t)
                    except Exception:
                        continue
                candidates = owners if len(owners) == 1 else []
            for t in candidates:
                try:
                    schema = spark.table(t).schema
                except Exception:
                    continue
                if col in schema.names and isinstance(
                    schema[col].dataType, MapType
                ):
                    return True
            return False
        # Computed expression: infer its type by ANALYZING a probe
        # projection over the same table references (aliases preserved).
        # spark.sql(...).schema runs the analyzer only — no execution.
        resolvable = []
        for alias, name in tables.items():
            try:
                spark.table(name)
            except Exception:
                continue
            resolvable.append(
                f"`{name}`" + (f" AS `{alias}`" if alias != name else "")
            )
        if not resolvable:
            return False
        probe = (
            f"SELECT {expr} AS __unnest_probe FROM "
            + " CROSS JOIN ".join(resolvable)
        )
        return isinstance(
            spark.sql(probe).schema["__unnest_probe"].dataType, MapType
        )
    except Exception:
        return False


def _unnest_expr_struct_fields(sql: str, expr: str):
    """Field names of the UNNEST argument when it resolves to an ARRAY OF
    ROWS (array<struct<...>>), else None — same resolution strategy as
    _unnest_expr_is_map: `[alias.]column` against registered view schemas
    (unqualified must bind uniquely), computed expressions via the
    analysis-only probe projection."""
    try:
        from pyspark.sql import SparkSession
        from pyspark.sql.types import ArrayType, StructType as _ST

        spark = SparkSession.getActiveSession()
        if spark is None:
            return None
        tables = _unnest_from_tables(sql)

        def _fields_of(dt):
            if isinstance(dt, ArrayType) and isinstance(dt.elementType, _ST):
                return [f.name for f in dt.elementType.fields]
            return None

        em = re.match(r"^\s*(?:`?(\w+)`?\s*\.\s*)?`?(\w+)`?\s*$", expr)
        if em:
            qual, col = em.group(1), em.group(2)
            if qual:
                candidates = [tables[qual]] if qual in tables else []
            else:
                owners = []
                for t in dict.fromkeys(tables.values()):
                    try:
                        if col in spark.table(t).schema.names:
                            owners.append(t)
                    except Exception:
                        continue
                candidates = owners if len(owners) == 1 else []
            for t in candidates:
                try:
                    schema = spark.table(t).schema
                except Exception:
                    continue
                if col in schema.names:
                    return _fields_of(schema[col].dataType)
            return None
        resolvable = []
        for alias, name in tables.items():
            try:
                spark.table(name)
            except Exception:
                continue
            resolvable.append(
                f"`{name}`" + (f" AS `{alias}`" if alias != name else "")
            )
        if not resolvable:
            return None
        probe = (
            f"SELECT {expr} AS __unnest_probe FROM "
            + " CROSS JOIN ".join(resolvable)
        )
        return _fields_of(spark.sql(probe).schema["__unnest_probe"].dataType)
    except Exception:
        return None


def _rewrite_unnest(sql: str) -> str:
    """Flink's array-expanding UNNEST -> Spark's LATERAL VIEW.

    `FROM t CROSS JOIN UNNEST(t.arr) AS u (x)` (or the comma spelling)
    becomes `FROM t LATERAL VIEW explode(t.arr) u AS x`; the LEFT JOIN
    ... ON TRUE spelling (Flink's keep-empty-arrays form) becomes
    LATERAL VIEW OUTER. A two-column alias list is Flink's UNNEST over
    an array of rows OR over a MAP — syntactically identical; when the
    argument resolves to a MAP column against the registered view
    schemas it maps to explode() (Spark's map flattening yields the
    key/value pair), otherwise to inline(), Spark's row-flattening twin.
    Both clauses occupy the same syntactic slot (immediately after the
    driving table reference), so the rewrite is positional. Occurrences
    are located on the literal-masked text so 'CROSS JOIN UNNEST(...)'
    INSIDE a string literal is never rewritten (positions transfer 1:1
    back to the original). Reference surface via Flink planner
    delegation (TransformEngine.scala:252-262 hands the full query text
    to the Flink parser, which accepts UNNEST).
    """
    while True:
        masked = mask_sql(sql)
        m = _UNNEST_LEAD_RE.search(masked)
        if not m:
            return sql
        lead = m.group(1)
        close = matching_paren(masked, m.end() - 1)
        if close is None:
            return sql  # unbalanced — leave for Spark to report
        expr = sql[m.end() : close]
        rest = sql[close + 1 :]
        ordinality = re.match(r"\s*WITH\s+ORDINALITY\b", rest, re.IGNORECASE)
        if ordinality:
            rest = rest[ordinality.end() :]
        tail = _UNNEST_TAIL_RE.match(rest)
        if not tail:
            raise InvalidQueryError(
                "UNNEST requires an alias with a column list: "
                "UNNEST(arr) AS u (col)"
            )
        alias = tail.group(1)
        cols = [c.strip() for c in tail.group(2).split(",")]
        rest = rest[tail.end() :]
        outer = bool(re.match(r"LEFT\b", lead, re.IGNORECASE))
        if outer:
            on_true = _UNNEST_ON_TRUE_RE.match(rest)
            if not on_true:
                raise InvalidQueryError(
                    "LEFT JOIN UNNEST requires the literal ON TRUE"
                )
            rest = rest[on_true.end() :]
        if ordinality:
            # WITH ORDINALITY (beyond reference parity — Flink 1.16's
            # parser rejects it; Flink 1.20 added it with the ordinality
            # column LAST and 1-based, the standard's order): pre-package
            # each element with its 1-based position via an index lambda
            # and expand with inline(); LATERAL VIEW assigns the alias
            # list positionally, so the struct's internal field names
            # never surface. Empty/NULL collections behave exactly like
            # the plain spellings (inline drops; OUTER null-pads,
            # ordinality included).
            fn = "inline"
            ord_expr = "cast(i + 1 as bigint)"
            if len(cols) == 2:
                # Plain array: (value, ord) — UNLESS the argument is an
                # array of single-field rows, which Flink's UNNEST
                # flattens to the field (matching the non-ordinality
                # inline() path for the same column; ADVICE r11).
                fields1 = _unnest_expr_struct_fields(sql, expr)
                if fields1 is not None and len(fields1) == 1:
                    gen_arg = (
                        f"transform({expr}, (r, i) -> "
                        f"struct(r.`{fields1[0]}`, {ord_expr}))"
                    )
                else:
                    gen_arg = (
                        f"transform({expr}, (v, i) -> struct(v, {ord_expr}))"
                    )
            elif len(cols) == 3 and _unnest_expr_is_map(sql, expr):
                # map: (key, value, ord) in map_entries order
                gen_arg = (
                    f"transform(map_entries({expr}), (e, i) -> "
                    f"struct(e.key, e.value, {ord_expr}))"
                )
            else:
                fields = _unnest_expr_struct_fields(sql, expr)
                if fields is None or len(fields) != len(cols) - 1:
                    raise InvalidQueryError(
                        "UNNEST ... WITH ORDINALITY over an array of "
                        "rows needs the row type to resolve against the "
                        "referenced tables (or use posexplode via a "
                        "LATERAL VIEW directly); alias list must be the "
                        "row fields plus the ordinality column"
                    )
                picks = ", ".join(f"r.`{f}`" for f in fields)
                gen_arg = (
                    f"transform({expr}, (r, i) -> "
                    f"struct({picks}, {ord_expr}))"
                )
            replacement = (
                f" LATERAL VIEW{' OUTER' if outer else ''} {fn}({gen_arg}) "
                f"{alias} AS {', '.join(cols)}"
            )
            sql = sql[: m.start()] + replacement + rest
            continue
        if len(cols) == 1:
            # An array of SINGLE-FIELD rows flattens to the field in
            # Flink's UNNEST — inline(), not explode-of-struct.
            fields1 = _unnest_expr_struct_fields(sql, expr)
            fn = (
                "inline"
                if fields1 is not None and len(fields1) == 1
                else "explode"
            )
        elif len(cols) == 2 and _unnest_expr_is_map(sql, expr):
            fn = "explode"  # map flattening: (key, value) pair
        else:
            fn = "inline"
        replacement = (
            f" LATERAL VIEW{' OUTER' if outer else ''} {fn}({expr}) "
            f"{alias} AS {', '.join(cols)}"
        )
        sql = sql[: m.start()] + replacement + rest


def _rewrite_system_time_join(sql: str) -> str:
    """`JOIN t FOR SYSTEM_TIME AS OF p.ts [AS] a ON <cond>` ->
    `JOIN t__versions a ON <validity> AND <cond>`
    (EngineJoinStreamToTemporalTableTest.scala:301-341)."""
    while True:
        m = _SYSTEM_TIME_JOIN_RE.search(sql)
        if not m:
            return sql
        table, time_expr, a1, a2 = m.groups()
        alias = a1 or a2 or table
        versions = table.strip("`") + VERSIONS_SUFFIX
        replacement = f"{versions} AS {alias}"
        rest = sql[m.end() :]
        on_match = re.match(r"(\s+ON\s+)", rest, re.IGNORECASE)
        pred = _validity_pred(alias, time_expr)
        if on_match:
            rest = rest[: on_match.end()] + f"{pred} AND " + rest[on_match.end() :]
        else:
            rest = f" ON {pred}" + rest
        sql = sql[: m.start()] + replacement + rest


def _rewrite_lateral(sql: str) -> str:
    """`FROM p t, LATERAL TABLE (tt(t.ts)) AS a WHERE ...` ->
    `FROM p t JOIN tt__versions AS a ON <validity> WHERE ...`
    (EngineJoinStreamToTemporalTableTest.scala:71-86). The user's equi
    condition stays in WHERE; Catalyst folds it into the join."""

    def repl(m: re.Match) -> str:
        table, time_expr, a1, a2 = m.groups()
        alias = a1 or a2 or table
        versions = table.strip("`") + VERSIONS_SUFFIX
        return f" JOIN {versions} AS {alias} ON {_validity_pred(alias, time_expr)}"

    return _LATERAL_RE.sub(repl, sql)


def _split_index_repl(args: list[str]) -> str:
    """SPLIT_INDEX(s, sep, idx): Flink splits on a LITERAL delimiter,
    0-based index, NULL when out of range. Spark's split() takes a regex,
    so literal delimiters are regex-escaped; try_element_at keeps
    NULL-on-out-of-range under ANSI mode (1-based, hence idx+1)."""
    s, sep = args[0], args[1]
    if sep.startswith("'") and sep.endswith("'"):
        # Two escaping levels: Spark's string literal parser eats one
        # backslash, the Java regex the other — so '.' becomes '\\.' in
        # SQL text (string value '\.'), and a literal backslash '\\\\'.
        body = "".join(
            ("\\\\\\\\" if ch == "\\" else "\\\\" + ch) if ch in _REGEX_META else ch
            for ch in sep[1:-1]
        )
        sep = f"'{body}'"
    try:
        idx = f"{int(args[2]) + 1}"
    except ValueError:
        # Non-literal index (a column or expression — valid in Flink):
        # shift to 1-based in SQL instead of at rewrite time.
        idx = f"(({args[2]}) + 1)"
    return f"try_element_at(split({s}, {sep}), {idx})"


def rewrite_query(sql: str, *, watermark: datetime | None = None) -> str:
    """Rewrite one Flink-dialect SQL step into Spark SQL."""
    out = _rewrite_window_tvf(sql)
    out = _rewrite_cumulate(out)
    out = _rewrite_tumble(out)
    out = _rewrite_hop(out)
    out = _rewrite_session(out)
    out = _TS_PRECISION_RE.sub("TIMESTAMP", out)
    out = _JSON_VALUE_RE.sub("get_json_object(", out)
    out = _JSON_QUERY_RE.sub("get_json_object(", out)
    out = _rewrite_call(
        out, "JSON_EXISTS",
        lambda a: f"(get_json_object({a[0]}, {a[1]}) IS NOT NULL)",
    )
    out = _PROCTIME_RE.sub("current_timestamp()", out)
    out = _CURRENT_ROW_TS_RE.sub("current_timestamp()", out)
    out = _rewrite_call(out, "SPLIT_INDEX", _split_index_repl)
    # CONVERT_TZ(s, tzFrom, tzTo): Flink converts a 'yyyy-MM-dd HH:mm:ss'
    # STRING between zones and returns a string of the same shape; Spark
    # spells it as the to_utc/from_utc pair plus the format.
    out = _rewrite_call(
        out, "CONVERT_TZ",
        lambda a: (
            f"date_format(from_utc_timestamp(to_utc_timestamp({a[0]}, "
            f"{a[1]}), {a[2]}), 'yyyy-MM-dd HH:mm:ss')"
        ),
    )
    # RAND_INTEGER(bound) / RAND_INTEGER(seed, bound): the bound is always
    # the LAST argument; a seed cannot be honored by Spark's RAND() here and
    # is dropped (Flink itself documents the seeded form as a per-operator
    # reproducibility aid, not a value contract).
    out = _rewrite_call(
        out, "RAND_INTEGER", lambda a: f"CAST(FLOOR(RAND() * ({a[-1]})) AS INT)"
    )
    out = _TO_TS_LTZ_RE.sub(
        lambda m: (
            f"timestamp_millis({m.group(1)})"
            if m.group(2) == "3"
            else f"timestamp_seconds({m.group(1)})"
        ),
        out,
    )
    if _CURRENT_WM_RE.search(out):
        if watermark is None:
            lit = "CAST(NULL AS TIMESTAMP)"
        else:
            lit = f"TIMESTAMP '{watermark.strftime('%Y-%m-%d %H:%M:%S.%f')[:-3]}'"
        out = _CURRENT_WM_RE.sub(lit, out)
    out = _rewrite_system_time_join(out)
    out = _rewrite_lateral(out)
    out = _rewrite_unnest(out)
    return out
